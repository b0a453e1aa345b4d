"""Advanced joins: as-of, range/bbox (J3), mosaic-coalesce (J4) as an
oracle query, correlated subqueries, and two TPC-H-classic shapes.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalars import top1
from .helpers import REVENUE, T, dec_sum, sql_dec_sum
from .registry import query


@query(
    "asof_join_last_event",
    oracle="""
SELECT o.o_orderkey, o.o_custkey % 25 AS user_key,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       strftime((SELECT max(e.ts) FROM events e
                 WHERE e.user_id = o.o_custkey % 25 AND e.ts <= o.o_orderdate),
                '%Y-%m-%d %H:%M:%S') AS last_event_ts
FROM orders o
WHERE o.o_orderkey < 3000
ORDER BY o.o_orderkey
""",
    tags=("join", "asof"),
)
def asof_join_last_event(spark, sf_dir):
    """As-of join (absent in the reference and in native Spark; SURVEY
    §2.4): for each order, the latest event of its user at ts ≤ orderdate.

    Implemented the scalable way — NOT a per-row correlated lookup: union
    the probe rows and the event rows on (key, time), then one window pass
    takes last_value(event ts) over the ordered stream per key. Cost: one
    shuffle on the key + one sort — the merge-asof plan, linear in
    |orders| + |events| (the oracle's correlated subquery is the spec, not
    the plan).
    """
    od = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    ev = T(spark, sf_dir, "events")
    probes = od.select(
        (F.col("o_custkey") % 25).alias("user_key"),
        F.col("o_orderdate").alias("t"),
        F.col("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("event_ts"),
        F.lit(1).alias("is_probe"),
    )
    data = ev.select(
        F.col("user_id").alias("user_key"),
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("ts").alias("event_ts"),
        F.lit(0).alias("is_probe"),
    )
    # order events before probes at identical t (probe at t sees an event
    # at exactly t: `<=` semantics)
    u = probes.unionByName(data)
    w = (
        W.partitionBy("user_key")
        .orderBy("t", "is_probe")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        u.withColumn("last_event_ts_raw", F.last("event_ts", ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select(
            "o_orderkey",
            "user_key",
            F.date_format("t", "yyyy-MM-dd").alias("orderdate"),
            F.date_format("last_event_ts_raw", "yyyy-MM-dd HH:mm:ss").alias("last_event_ts"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "range_bbox_join",
    oracle="""
WITH boxes AS (
  SELECT n_nationkey AS box_id,
         (n_nationkey * 14.0) - 180.0 AS xmin, (n_nationkey * 14.0) - 160.0 AS xmax,
         (n_nationkey * 7.0) - 90.0 AS ymin, (n_nationkey * 7.0) - 70.0 AS ymax
  FROM nation
),
pts AS (
  SELECT event_id,
         ((value * 7.3) % 360.0) - 180.0 AS lon,
         ((value * 3.7) % 180.0) - 90.0 AS lat
  FROM events
)
SELECT b.box_id, count(*) AS n_points
FROM pts p JOIN boxes b
  ON p.lon >= b.xmin AND p.lon < b.xmax AND p.lat >= b.ymin AND p.lat < b.ymax
GROUP BY 1
ORDER BY box_id
""",
    tags=("join", "range", "J3", "spatial"),
)
def range_bbox_join(spark, sf_dir):
    """Spatial bbox containment join (J3: the reference's
    `ST_Intersects(geom, tile_envelope)` filter, raster_vector.py:105) —
    points-in-boxes as interval predicates. The box side is tiny →
    broadcast nested-loop; at scale, bbox joins bucketize space (the tile
    grid of F9) and equi-join on bucket id so the NLJ never sees the full
    cross product.
    """
    na = T(spark, sf_dir, "nation")
    ev = T(spark, sf_dir, "events")
    boxes = na.select(
        F.col("n_nationkey").alias("box_id"),
        ((F.col("n_nationkey") * 14.0) - 180.0).alias("xmin"),
        ((F.col("n_nationkey") * 14.0) - 160.0).alias("xmax"),
        ((F.col("n_nationkey") * 7.0) - 90.0).alias("ymin"),
        ((F.col("n_nationkey") * 7.0) - 70.0).alias("ymax"),
    )
    pts = ev.select(
        "event_id",
        (((F.col("value") * 7.3) % 360.0) - 180.0).alias("lon"),
        (((F.col("value") * 3.7) % 180.0) - 90.0).alias("lat"),
    )
    cond = (
        (pts.lon >= boxes.xmin)
        & (pts.lon < boxes.xmax)
        & (pts.lat >= boxes.ymin)
        & (pts.lat < boxes.ymax)
    )
    return (
        pts.join(F.broadcast(boxes), cond)
        .groupBy("box_id")
        .agg(F.count("*").alias("n_points"))
        .orderBy("box_id")
    )


@query(
    "mosaic_overlay",
    oracle="""
WITH tiles AS (
  SELECT l_suppkey AS file_order,
         l_suppkey * 100000000 + l_orderkey * 8 + l_linenumber AS ord_key,
         CAST(l_partkey % 20 AS INTEGER) AS y,
         CAST(l_orderkey % 30 AS INTEGER) AS x,
         CASE WHEN l_linenumber = 1 THEN NULL ELSE l_quantity END AS value
  FROM tiles_src
),
nn AS (
  SELECT y, x, value, file_order,
         row_number() OVER (PARTITION BY y, x ORDER BY ord_key, value) AS rn
  FROM tiles WHERE value IS NOT NULL
),
counts AS (SELECT y, x, count(*) AS n_candidates FROM tiles GROUP BY 1, 2)
SELECT c.y, c.x, nn.value, nn.file_order AS source_order, c.n_candidates
FROM counts c LEFT JOIN nn ON nn.y = c.y AND nn.x = c.x AND nn.rn = 1
ORDER BY c.y, c.x
""".replace("tiles_src", "lineitem"),
    tags=("join", "mosaic", "J4"),
)
def mosaic_overlay(spark, sf_dir):
    """Mosaic overlay precedence as an oracle-checked query (J4,
    convertmodis.py:102-103): per cell, the first NON-NULL value in
    file_order wins — `top1` over an explicit total order
    (ord_key, value), NOT groupBy().first()/dropDuplicates (whose survivor
    is partition-order-dependent) and NOT bare min_by (the synthetic
    lineitem has duplicate (orderkey, linenumber) rows, so ord_key alone
    ties and min_by picks arbitrarily). Tile rows derived deterministically
    from lineitem on both sides.
    """
    li = T(spark, sf_dir, "lineitem")
    tiles = li.select(
        F.col("l_suppkey").alias("file_order"),
        (F.col("l_suppkey") * 100000000 + F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias(
            "ord_key"
        ),
        (F.col("l_partkey") % 20).cast("int").alias("y"),
        (F.col("l_orderkey") % 30).cast("int").alias("x"),
        F.when(F.col("l_linenumber") == 1, F.lit(None).cast("double"))
        .otherwise(F.col("l_quantity"))
        .alias("value"),
    )
    # ONE (y, x) groupBy for winner AND candidate count. A NULL-valued
    # tile's ord_key is masked to NULL, which `top1` ranks last, so a
    # non-null value always wins; a cell whose winner is NULL-valued has
    # no non-null candidate and emits NULL value/source.
    best = top1(
        tiles,
        ["y", "x"],
        [F.when(F.col("value").isNotNull(), F.col("ord_key")).alias("nn_key"), "value"],
        ["file_order"],
        aggs=[F.count("*").alias("n_candidates")],
    )
    return best.select(
        "y",
        "x",
        "value",
        F.when(F.col("value").isNotNull(), F.col("file_order")).alias("source_order"),
        "n_candidates",
    ).orderBy("y", "x")


@query(
    "above_avg_customers",
    oracle="""
WITH seg_avg AS (
  SELECT c_mktsegment,
         CAST(((2 * CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) * 1000000 AS BIGINT)
                + count(c_acctbal)) // (2 * count(c_acctbal))) AS DOUBLE) / 1000000.0 AS avg_bal
  FROM customer GROUP BY 1
)
SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, s.avg_bal
FROM customer c JOIN seg_avg s ON c.c_mktsegment = s.c_mktsegment
WHERE c.c_acctbal > s.avg_bal
ORDER BY c.c_custkey
""",
    tags=("join", "subquery"),
)
def above_avg_customers(spark, sf_dir):
    """Correlated-subquery shape (customers above their segment's mean),
    decorrelated into an aggregate + broadcast join — the plan Catalyst
    produces for the correlated form, written explicitly. Average uses the
    portable integer-rounding form (helpers.dec_avg semantics).
    """
    cu = T(spark, sf_dir, "customer")
    from .helpers import dec_avg

    seg = cu.groupBy("c_mktsegment").agg(dec_avg("c_acctbal", "avg_bal"))
    return (
        cu.join(F.broadcast(seg), "c_mktsegment")
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_mktsegment", "c_acctbal", "avg_bal")
        .orderBy("c_custkey")
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey, {sql_dec_sum(REVENUE, 'revenue')},
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("join", "tpch"),
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dimension filter (pushed to the customer
    scan) → two joins → aggregate → top-10 (TakeOrderedAndProject)."""
    cu = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    od = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, li.l_orderkey == od.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dec_sum(REVENUE, "revenue"))
        .select("l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q6_revenue_change",
    oracle=f"""
SELECT {sql_dec_sum('l_extendedprice * l_discount', 'revenue_delta')}, count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("filter", "tpch"),
)
def q6_revenue_change(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate reaches
    the parquet scan (PushedFilters); no shuffle beyond the final global
    agg of partial sums."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(dec_sum("l_extendedprice * l_discount", "revenue_delta"), F.count("*").alias("n"))

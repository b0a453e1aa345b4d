"""Set operations, dedup, semi/anti joins (SURVEY §2.7: O1-O8, J5).

The reference's set ops are driver-side Python sets (URL dedup
client.py:77,95-97; date-dir dedup pymodis.py:66; requested−available
difference client.py:147-155). Here they are distributed operators:
distinct, except/intersect, left_semi/left_anti — each one shuffle on the
compared key, partial-aggregated map-side first.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import top1
from .helpers import T
from .registry import query


@query(
    "distinct_dedup",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
    tags=("setops", "O4", "O5"),
)
def distinct_dedup(spark, sf_dir):
    """Distinct over a projection (O4/O5 URL/date dedup). Map-side partial
    dedup means the shuffle carries unique pairs per partition, not rows.
    """
    return (
        T(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "dedup_keep_first",
    oracle="""
SELECT o_custkey, o_orderkey AS first_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) t WHERE rn = 1
ORDER BY o_custkey
""",
    tags=("setops", "dedup", "window"),
)
def dedup_keep_first(spark, sf_dir):
    """Deterministic keep-first dedup: `top1` over an explicit total
    order, NOT dropDuplicates (whose survivor is partition-order-dependent —
    the same trap as SURVEY §7.4's mosaic-first note).
    """
    od = T(spark, sf_dir, "orders")
    return (
        top1(od, ["o_custkey"], ["o_orderdate", "o_orderkey"])
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate"),
        )
        .orderBy("o_custkey")
    )


@query(
    "semi_join_customers_with_orders",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""",
    tags=("join", "semi", "J5"),
)
def semi_join_customers_with_orders(spark, sf_dir):
    """Left-semi join (J5's request⋈index existence match). The semi join
    only carries the probe side's keys through the shuffle — no payload
    duplication however many orders match.
    """
    cu = T(spark, sf_dir, "customer")
    od = T(spark, sf_dir, "orders").select("o_custkey")
    return (
        cu.join(od, cu.c_custkey == od.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(
    "anti_join_parts_never_ordered",
    oracle="""
SELECT p_partkey, p_name FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey
    AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1995-02-01 00:00:00'
)
ORDER BY p_partkey
""",
    tags=("join", "anti", "O6"),
)
def anti_join_parts_never_ordered(spark, sf_dir):
    """Left-anti join (O6: requested−available set difference surfaced as
    warnings in the reference, client.py:147-155): parts never shipped in a
    given month. The time predicate pushes down to the lineitem scan before
    the anti join.
    """
    pa = T(spark, sf_dir, "part")
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-02-01 00:00:00").cast("timestamp"))
        )
        .select("l_partkey")
    )
    return (
        pa.join(li, pa.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


@query(
    "except_intersect_nations",
    oracle="""
WITH cust_nations AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     supp_nations AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier),
     both_n AS (SELECT nationkey FROM cust_nations INTERSECT SELECT nationkey FROM supp_nations),
     only_cust AS (SELECT nationkey FROM cust_nations EXCEPT SELECT nationkey FROM supp_nations)
SELECT nationkey, 'both' AS side FROM both_n
UNION ALL
SELECT nationkey, 'customer_only' AS side FROM only_cust
ORDER BY side, nationkey
""",
    tags=("setops", "O6", "O7", "O8"),
)
def except_intersect_nations(spark, sf_dir):
    """INTERSECT + EXCEPT + UNION ALL in one result (O6-O8), folded into
    ONE membership aggregate (optimization r14, guide §2.3/§2.4): union
    the two key streams with side flags, max the flags per key, and
    derive the set-op label — INTERSECT is (c AND s), EXCEPT is (c AND
    NOT s) over the distinct key sets, so one exchange replaces the five
    the planner gave the intersect + exceptAll + union shape (each set
    op re-shuffled both distinct inputs). Both inputs' distincts fold
    into the same aggregate (max over flag duplicates)."""
    cu = T(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.lit(1).alias("in_c"),
        F.lit(0).alias("in_s"),
    )
    su = T(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"),
        F.lit(0).alias("in_c"),
        F.lit(1).alias("in_s"),
    )
    member = (
        cu.unionByName(su)
        .groupBy("nationkey")
        .agg(F.max("in_c").alias("in_c"), F.max("in_s").alias("in_s"))
    )
    return (
        member.filter(F.col("in_c") == 1)
        .select(
            "nationkey",
            F.when(F.col("in_s") == 1, F.lit("both"))
            .otherwise(F.lit("customer_only"))
            .alias("side"),
        )
        .orderBy("side", "nationkey")
    )


@query(
    "union_all_multi_source",
    oracle="""
SELECT source, period, count(*) AS n FROM (
  SELECT 'orders_1995' AS source, strftime(o_orderdate, '%Y-%m') AS period FROM orders
    WHERE year(o_orderdate) = 1995
  UNION ALL
  SELECT 'orders_1996' AS source, strftime(o_orderdate, '%Y-%m') AS period FROM orders
    WHERE year(o_orderdate) = 1996
) t GROUP BY source, period
ORDER BY source, period
""",
    tags=("setops", "O7", "S7"),
)
def union_all_multi_source(spark, sf_dir):
    """Union-all of per-year slices then aggregate — the reference's
    multi-file concat along a new dim (S7/O7: `open_mfdataset` stacking ~30
    yearly rasters, chirps_rainfall/__init__.py:253). At scale the union is
    a metadata-only operation over per-year partitions.
    """
    od = T(spark, sf_dir, "orders")
    a = (
        od.filter(F.year("o_orderdate") == 1995)
        .select(F.lit("orders_1995").alias("source"), F.date_format("o_orderdate", "yyyy-MM").alias("period"))
    )
    b = (
        od.filter(F.year("o_orderdate") == 1996)
        .select(F.lit("orders_1996").alias("source"), F.date_format("o_orderdate", "yyyy-MM").alias("period"))
    )
    return a.unionByName(b).groupBy("source", "period").agg(F.count("*").alias("n")).orderBy("source", "period")

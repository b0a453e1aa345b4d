"""Deterministic sketch-tier operators WITH oracles.

The sketch tier usually trades oracle-checkability for scale (HLL's
estimate depends on engine internals — `approx_distinct_counts` is
rows-only for exactly that reason). KMV (k-minimum-values, Bar-Yossef et
al. 2002) doesn't have to: its state is the k smallest hash values of the
distinct set, and with md5 as the hash both engines compute the IDENTICAL
sketch — so the approximate estimate itself is hash-checkable against
DuckDB. This is the pattern the engine uses everywhere (quantized cosine,
integer k-means): make the approximation deterministic, then oracle it.

At 100 TB: the KMV sketch is a per-group top-k-by-hash — one shuffle on
the group key carrying at most k rows per group out of the map side
(row_number + filter prunes before the final exchange under AQE), the
same cost shape as any top-k. Merging partial sketches = min-merge of
sorted lists, associative — exactly how HLL union works operationally.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalars import md5_hex_int, md5_hex_int_sql
from .helpers import T, spread
from ..checkpoints import ckpt
from .registry import query

_K = 64


@query(
    "kmv_distinct_estimate",
    oracle=f"""
WITH hashed AS (
  SELECT DISTINCT l_returnflag,
         ({md5_hex_int_sql("CAST(l_partkey AS STRING)")} + 1) AS h
  FROM lineitem
),
ranked AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n_exact
  FROM hashed
),
kth AS (
  SELECT l_returnflag, n_exact, h AS h_k FROM ranked WHERE rn = {_K}
)
SELECT l_returnflag,
       CAST(n_exact AS BIGINT) AS exact_distinct,
       round(({_K} - 1.0) * 4294967296.0 / h_k, 6) AS kmv_estimate,
       round(abs(({_K} - 1.0) * 4294967296.0 / h_k - n_exact) / n_exact, 6) AS rel_error
FROM kth
ORDER BY l_returnflag
""",
    tags=("sketch", "distinct", "kmv", "approx"),
)
def kmv_distinct_estimate(spark, sf_dir):
    """KMV distinct-count sketch, oracled: per l_returnflag, hash the
    distinct l_partkey set with md5 (first 8 hex digits → 32-bit int),
    keep the k=64 smallest, estimate |D| ≈ (k-1) * 2^32 / h_k. Because
    the hash is md5, the sketch — and therefore the ESTIMATE — is
    bit-identical in any engine: an approximate algorithm with an exact
    oracle (contrast `approx_distinct_counts`, rows-only because HLL
    internals are engine-specific). exact_distinct rides along via a
    count window over the same partitioning, giving the oracle the
    realized relative error (~5-15% at k=64)."""
    li = spread(T(spark, sf_dir, "lineitem"))
    # +1 shifts the hash into [1, 2^32] (mirrors sampling_more's _H) so
    # h_k can never be 0 — an eight-zero-nibble md5 prefix (p = 2^-32
    # per key) would otherwise divide by zero, with engine-divergent
    # Inf/error behavior.
    hashed = li.select(
        "l_returnflag", (F.expr(md5_hex_int("CAST(l_partkey AS STRING)")) + 1).alias("h")
    ).distinct()
    w = W.partitionBy("l_returnflag").orderBy("h")
    wc = W.partitionBy("l_returnflag")
    ranked = hashed.select(
        "l_returnflag",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_exact"),
    )
    est = (_K - 1.0) * 4294967296.0 / F.col("h")
    return (
        ranked.filter(F.col("rn") == _K)
        .select(
            "l_returnflag",
            F.col("n_exact").cast("bigint").alias("exact_distinct"),
            F.round(est, 6).alias("kmv_estimate"),
            F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_error"),
        )
        .orderBy("l_returnflag")
    )


_CMS_W = 32  # sketch width (columns per hash row)
_CMS_D = 4  # sketch depth (independent hash rows)

# row r hashes a token to column md5_hex_int(_CMS_KEY) % _CMS_W
_CMS_KEY = "concat(CAST(r AS STRING), '|', token)"


@query(
    "countmin_heavy_hitters",
    oracle=f"""
WITH tok AS (
  SELECT word AS token, CAST(count(*) AS BIGINT) AS exact_cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
),
hashes AS (
  SELECT token, exact_cnt, g.r AS r,
         ({md5_hex_int_sql(_CMS_KEY)} % {_CMS_W}) AS col
  FROM tok, LATERAL (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r) g
),
cells AS (SELECT r, col, sum(exact_cnt) AS counter FROM hashes GROUP BY 1, 2),
est AS (
  SELECT h.token, h.exact_cnt, min(c.counter) AS est
  FROM hashes h JOIN cells c USING (r, col)
  GROUP BY 1, 2
)
SELECT token, exact_cnt,
       CAST(est AS BIGINT) AS cms_estimate,
       CAST(est - exact_cnt AS BIGINT) AS overestimate
FROM est
ORDER BY exact_cnt DESC, token
LIMIT 15
""",
    tags=("sketch", "heavy-hitters", "countmin", "approx", "text", "llm"),
)
def countmin_heavy_hitters(spark, sf_dir):
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over corpus
    tokens, self-graded: build a {_CMS_D}x{_CMS_W} counter grid with md5
    row-hashes, estimate each candidate token's frequency as the min over
    its {_CMS_D} cells, and report the top-15 tokens with the exact count
    riding along — overestimate >= 0 always (the CMS one-sided-error
    guarantee, visible in the result wherever the 31-word vocab collides
    in a 32-wide row). Same make-the-approximation-deterministic pattern
    as `kmv_distinct_estimate`: md5 hashing means both engines build the
    IDENTICAL sketch, so the estimate itself is oracle-checkable.

    At 100 TB: the sketch is d*w = {_CMS_D * _CMS_W} mergeable counters —
    the (r, col) aggregation partial-aggregates map-side into at most
    d*w cells per task, so sketch construction costs one token-explode
    scan and a constant-size exchange regardless of corpus size (this is
    why CMS is the heavy-hitter tool at scale: the exact groupBy's
    shuffle is vocab-sized, the sketch's is constant). The exact count
    here rides along for fixture-scale self-grading, as KMV's
    exact_distinct does."""
    tok = (
        spread(T(spark, sf_dir, "documents"))
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("exact_cnt"))
        # vocab-sized; checkpointed because the hashes subtree feeds both
        # the cell aggregation and the probe join — without this the
        # corpus token-explode would scan twice. Vocab-sized -> durable.
        .transform(ckpt)
    )
    hashes = tok.select(
        "token", "exact_cnt", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r")
    ).withColumn("col", F.expr(f"{md5_hex_int(_CMS_KEY)} % {_CMS_W}"))
    cells = hashes.groupBy("r", "col").agg(F.sum("exact_cnt").alias("counter"))
    est = (
        hashes.join(cells, ["r", "col"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("counter").alias("est"))
    )
    return (
        est.select(
            "token",
            "exact_cnt",
            F.col("est").cast("bigint").alias("cms_estimate"),
            (F.col("est") - F.col("exact_cnt")).cast("bigint").alias("overestimate"),
        )
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(15)
    )


@query(
    "kmv_set_operations",
    oracle=f"""
WITH a AS (
  SELECT DISTINCT o_custkey AS k FROM orders
  WHERE year(o_orderdate) = 1995
),
b AS (
  SELECT DISTINCT o_custkey AS k FROM orders
  WHERE year(o_orderdate) = 1996
),
ha AS (SELECT k, ({md5_hex_int_sql("CAST(k AS STRING)")} + 1) AS h FROM a),
hb AS (SELECT k, ({md5_hex_int_sql("CAST(k AS STRING)")} + 1) AS h FROM b),
sa AS (SELECT h FROM ha ORDER BY h LIMIT {_K}),
sb AS (SELECT h FROM hb ORDER BY h LIMIT {_K}),
su AS (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) ORDER BY h LIMIT {_K}
),
uk AS (SELECT max(h) AS h_k FROM su),
rho AS (
  SELECT CAST(count(*) AS BIGINT) AS n_both FROM su
  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)
),
ex AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS exact_a,
         (SELECT CAST(count(*) AS BIGINT) FROM b) AS exact_b,
         (SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (k)) AS exact_intersection,
         (SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a UNION SELECT k FROM b)) AS exact_union
)
SELECT ex.exact_a, ex.exact_b, ex.exact_union, ex.exact_intersection,
       round(({_K} - 1.0) * 4294967296.0 / uk.h_k, 6) AS kmv_union_est,
       rho.n_both,
       round((CAST(rho.n_both AS DOUBLE) / {_K}.0)
             * (({_K} - 1.0) * 4294967296.0 / uk.h_k), 6) AS kmv_intersection_est
FROM ex, uk, rho
""",
    tags=("sketch", "distinct", "kmv", "set-algebra", "approx"),
)
def kmv_set_operations(spark, sf_dir):
    """KMV sketch SET ALGEBRA — the property that makes sketches the
    100 TB distinct-count tool: two independently-built sketches (the
    distinct 1995-ordering and 1996-ordering customer sets) merge into
    the union's sketch by keeping the k smallest of their combined
    hashes (associative, commutative — any shard tree works), and the
    intersection estimates from the SAME two sketches via the theta-
    sketch rule: ρ = fraction of the union sketch's k values present in
    both inputs, |A∩B| ≈ ρ·|A∪B|. No re-scan of the base data for
    either operation — the entire set algebra runs on 2×{_K} hashes.
    md5 hashing keeps the sketches bit-identical across engines, so the
    ESTIMATES are oracle-checkable (the kmv_distinct_estimate pattern);
    exact counts ride along for self-grading.

    At 100 TB: each sketch is a per-shard top-k-by-hash with a k-row
    merge (map-side partial TakeOrdered); union/intersection never
    touch the base table again — the reason a warehouse stores sketches
    per partition and answers cross-partition distinct queries from
    them.

    Small-set bound: if an input has fewer than k distinct keys its
    sketch IS the exact hashed set and the (k-1)·2³²/h_k estimator is
    biased — standard KMV behavior (real implementations switch to
    exact counting below k). Both engines compute the identical biased
    value, so parity is unaffected; every fixture SF has ≥ k distinct
    keys per year (verified at sf0.001), and the exact counts ride
    along either way."""
    od = T(spark, sf_dir, "orders")

    def hashed_keys(year: int):
        return (
            od.filter(F.year("o_orderdate") == year)
            .select(F.col("o_custkey").alias("k"))
            .distinct()
            .select("k", (F.expr(md5_hex_int("CAST(k AS STRING)")) + 1).alias("h"))
            .localCheckpoint()
        )

    ha, hb = hashed_keys(1995), hashed_keys(1996)
    sa = ha.select("h").orderBy("h").limit(_K).localCheckpoint()
    sb = hb.select("h").orderBy("h").limit(_K).localCheckpoint()
    su = (
        sa.unionByName(sb).distinct().orderBy("h").limit(_K).localCheckpoint()
    )
    uk = su.agg(F.max("h").alias("h_k"))
    n_both = (
        su.join(sa, "h", "left_semi")
        .join(sb, "h", "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    exact = (
        ha.select("k")
        .unionByName(hb.select("k"))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("exact_union"))
        .crossJoin(ha.agg(F.count("*").cast("bigint").alias("exact_a")))
        .crossJoin(hb.agg(F.count("*").cast("bigint").alias("exact_b")))
        .crossJoin(
            ha.join(hb, "k", "left_semi")
            .agg(F.count("*").cast("bigint").alias("exact_intersection"))
        )
    )
    est_union = (_K - 1.0) * 4294967296.0 / F.col("h_k")
    return (
        exact.crossJoin(F.broadcast(uk))
        .crossJoin(F.broadcast(n_both))
        .select(
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersection",
            F.round(est_union, 6).alias("kmv_union_est"),
            "n_both",
            F.round(
                (F.col("n_both").cast("double") / float(_K)) * est_union, 6
            ).alias("kmv_intersection_est"),
        )
    )


@query(
    "hashed_sample_quantiles",
    oracle=f"""
WITH rowkey AS (
  SELECT l_returnflag, l_extendedprice,
         {md5_hex_int_sql("CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")} AS h
  FROM lineitem
),
samp AS (
  SELECT l_returnflag, l_extendedprice FROM rowkey WHERE h % 16 = 0
),
r AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM samp
),
est AS (
  SELECT l_returnflag,
         max(CASE WHEN rn = (n + 1) // 2 THEN l_extendedprice END) AS est_p50,
         max(CASE WHEN rn = (9 * n + 9) // 10 THEN l_extendedprice END) AS est_p90,
         CAST(max(n) AS BIGINT) AS sample_n
  FROM r GROUP BY l_returnflag
),
rx AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
),
exact AS (
  SELECT l_returnflag,
         max(CASE WHEN rn = (n + 1) // 2 THEN l_extendedprice END) AS exact_p50,
         max(CASE WHEN rn = (9 * n + 9) // 10 THEN l_extendedprice END) AS exact_p90,
         CAST(max(n) AS BIGINT) AS exact_n
  FROM rx GROUP BY l_returnflag
)
SELECT e.l_returnflag, e.sample_n, x.exact_n,
       e.est_p50, x.exact_p50, e.est_p90, x.exact_p90
FROM est e JOIN exact x ON e.l_returnflag = x.l_returnflag
ORDER BY e.l_returnflag
""",
    tags=("sketch", "quantile", "sampling", "approx"),
)
def hashed_sample_quantiles(spark, sf_dir):
    """Quantile ESTIMATION graduated from rows-only to hash-checkable:
    percentile_approx's sketch internals are engine-specific, so this
    query shows the deterministic alternative a distributed store
    actually uses (round-9: `order_value_deciles_binned` adopted the
    same construction and is oracled too). A fixed md5 Bernoulli row-sample (h % 16 == 0 on the
    (orderkey, linenumber) row key — the SAME rows in any engine, any
    shard order, any merge tree: mergeable by construction) feeds an
    exact rank-based quantile rule (rn == (n+1) div 2 for p50,
    (9n+9) div 10 for p90 — integer arithmetic, no interpolation, so
    both engines pick the identical element). Exact full-data quantiles
    by the same rule ride along for self-grading, the KMV pattern.

    At 100 TB: the sample predicate pushes into the scan's projection
    (map-only), the per-group sample is ~n/16 rows through one shuffle,
    and samples from different partitions union without bias — the
    mergeability that engine-internal quantile sketches achieve with
    far more machinery. The exact twin costs a full per-group sort and
    exists here only as the oracle-side grading reference.

    Round-13 (verdict #2): both frames now come from the per-corpus
    memo tier (plans/sample_memo.py) — the estimate side filters the
    stored h % 8 sample down to h % 16 (16 | h ⇒ 8 | h: the identical
    row set) and the exact grading twin is the once-per-corpus
    `liexq` table, so the per-query plan never scans lineitem. Values
    are bit-identical to the live derivation (deterministic md5
    predicate; doubles roundtrip parquet exactly) — oracle unchanged."""
    from .sample_memo import (
        _rank_quantiles,
        lineitem_exact_group_quantiles,
        lineitem_hash_sample,
    )

    samp = lineitem_hash_sample(spark, sf_dir).filter(F.expr("h % 16 = 0"))
    est = _rank_quantiles(
        samp.select("l_returnflag", "l_extendedprice"), "est_p50", "est_p90", "sample_n"
    )
    exact = F.broadcast(lineitem_exact_group_quantiles(spark, sf_dir))
    return (
        est.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "sample_n",
            "exact_n",
            "est_p50",
            "exact_p50",
            "est_p90",
            "exact_p90",
        )
        .orderBy("l_returnflag")
    )


_AMS_K = 16


@query(
    "ams_f2_estimate",
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
inst AS (SELECT token, unnest(generate_series(0, {_AMS_K - 1})) AS sk FROM tok),
svals AS (
  SELECT sk,
         CAST(sum(CASE WHEN substr(md5(concat(sk, '|', token)), 1, 1) IN
                       ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)
              AS BIGINT) AS s
  FROM inst GROUP BY sk
),
ests AS (SELECT sk, s * s AS est FROM svals),
f2 AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact
  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token)
),
agg AS (
  SELECT CAST(sum(est) // {_AMS_K} AS BIGINT) AS est_mean,
         CAST(min(est) AS BIGINT) AS est_min,
         CAST(max(est) AS BIGINT) AS est_max
  FROM ests
)
SELECT f2_exact, est_mean, est_min, est_max,
       CAST(CASE WHEN est_mean >= f2_exact
                 THEN ((est_mean - f2_exact) * 1000000) // f2_exact
                 ELSE -(((f2_exact - est_mean) * 1000000) // f2_exact)
            END AS BIGINT) AS err_ppm
FROM f2 CROSS JOIN agg
""",
    tags=("sketch", "ams", "f2", "selfjoin", "llm"),
)
def ams_f2_estimate(spark, sf_dir):
    """AMS second-moment sketch (Alon, Matias & Szegedy 1996): estimate
    F2 = sum_i c_i^2 of the token frequency vector — the SELF-JOIN SIZE
    on the token key, the quantity a join planner wants before picking a
    strategy — from {_AMS_K} counters of constant size. Each sketch j
    keeps one running sum S_j = sum over token INSTANCES of a md5-keyed
    +/-1 sign; E[S_j^2] = F2 exactly, so the mean of the squares is the
    estimate. Signs apply per instance BEFORE any aggregation — the true
    streaming shape: no count frame, no vocabulary state, just
    {_AMS_K} integers, mergeable across partitions by addition (the
    map-side partial agg IS the sketch merge).

    The exact F2 (vocab-bounded groupBy) rides along with the signed
    estimation error in integer ppm — the estimator self-grading the
    house sketch tier does (kmv/countmin precedent). Sign-correct
    truncating division keeps err_ppm bit-identical across engines
    (floor-vs-trunc differs on negatives).

    Scale: one pass, {_AMS_K}x instance fan-out absorbed by map-side
    combine into {_AMS_K} groups; S ~ sqrt(F2) so S^2 stays in BIGINT
    up to ~3e9-token corpora per sign class — beyond that the squares
    move to DECIMAL(38,0) unchanged in shape. Output 1 row."""
    tok = spread(T(spark, sf_dir, "documents")).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    inst = tok.select(
        "token", F.explode(F.expr(f"sequence(0, {_AMS_K - 1})")).alias("sk")
    )
    sgn = (
        "CASE WHEN substr(md5(concat(sk, '|', token)), 1, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END"
    )
    svals = inst.groupBy("sk").agg(F.sum(F.expr(sgn)).cast("bigint").alias("s"))
    ests = svals.select("sk", (F.col("s") * F.col("s")).alias("est"))
    agg = ests.agg(
        F.expr(f"CAST(sum(est) div {_AMS_K} AS BIGINT)").alias("est_mean"),
        F.min("est").cast("bigint").alias("est_min"),
        F.max("est").cast("bigint").alias("est_max"),
    )
    f2 = (
        tok.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact"))
    )
    return (
        f2.crossJoin(F.broadcast(agg))
        .select(
            "f2_exact",
            "est_mean",
            "est_min",
            "est_max",
            F.expr(
                "CAST(CASE WHEN est_mean >= f2_exact"
                " THEN ((est_mean - f2_exact) * 1000000) div f2_exact"
                " ELSE -(((f2_exact - est_mean) * 1000000) div f2_exact)"
                " END AS BIGINT)"
            ).alias("err_ppm"),
        )
    )

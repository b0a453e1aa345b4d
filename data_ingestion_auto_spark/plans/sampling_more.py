"""Weighted corpus sampling with unbiased subset-sum estimation —
priority sampling (Duffield, Lund & Thorup 2007, "Priority sampling for
estimation of arbitrary subset sums").

The pipeline problem: draw a fixed-size quality- or length-weighted
sample of documents such that downstream token-count estimates computed
FROM the sample are unbiased — the estimator a 100 TB pipeline uses to
audit a curation step without re-scanning the corpus. Priority sampling:
give item i priority q_i = w_i / u_i with u_i uniform in (0,1], keep the
k largest priorities, let tau = the (k+1)-th priority; then
w_hat_i = max(w_i, tau) is unbiased for w_i and sums over any subset of
the sample estimate the subset's true weight.

Everything here is exact BIGINT arithmetic so both engines agree
bit-for-bit: u_i = h_i / 2^32 with h_i the md5-derived 32-bit hash of
doc_id shifted to [1, 2^32], and priorities live in micro-weight units —
q_micro = (w * 10^6 * 2^32) div h. Integer truncation perturbs the
priority by < 1 micro-unit, which only permutes ranks of near-exactly
tied priorities — a measure-zero-style event the doc_id tie-break makes
deterministic anyway; the estimator stays exact because tau and the
weights share the same micro-units.

At 100 TB: top-k-by-priority is a rank-and-filter (TakeOrdered — per
partition top-k then a k-sized merge, no global sort); the hash is
map-side; the exact corpus total rides along from the same single scan
(one 1-row broadcast join) for fixture-scale self-grading of the
estimator, the same ride-along pattern as `kmv_distinct_estimate`.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..checkpoints import ckpt
from ..functions.scalars import md5_hex_int, md5_hex_int_sql
from .helpers import T
from .registry import query

_K = 32

# md5(doc_id) -> [1, 2^32] (never 0 so u > 0); priority in micro-weight
# units, integer-exact in both engines (div/// truncation toward zero on
# positives). The naive n_chars * 1e6 * 2^32 intermediate overflows
# BIGINT once n_chars >= 2148, so compute the SAME floor via the exact
# decomposition floor(w*2^32*1e6/H) = q*1e6 + floor(r*1e6/H) with
# (q, r) = divmod(w*2^32, H): w*2^32 is safe for any w < 2^31 (2 GB of
# text), r*1e6 < 2^32*1e6 < 2^63, and q*1e6 only overflows when the
# priority VALUE itself exceeds BIGINT — which requires u < w/(2147*2^32),
# probability ~1e-7 even for megabyte documents (vs deterministic
# overflow at 2 KB before). Values are bit-identical to the naive form
# wherever that form didn't overflow (multiplication commutes).
_H = f"({md5_hex_int_sql('CAST(doc_id AS STRING)')} + 1)"
_H_SPARK = f"({md5_hex_int('CAST(doc_id AS STRING)')} + 1)"
_Q = (
    f"(((n_chars * 4294967296) div {_H_SPARK}) * 1000000"
    f" + (((n_chars * 4294967296) % {_H_SPARK}) * 1000000) div {_H_SPARK})"
)
_Q_SQL = (
    f"(((n_chars * 4294967296) // {_H}) * 1000000"
    f" + (((n_chars * 4294967296) % {_H}) * 1000000) // {_H})"
)


@query(
    "priority_weighted_sample",
    oracle=f"""
WITH pri AS (
  SELECT doc_id, n_chars,
         CAST({_Q_SQL} AS BIGINT) AS priority_micro
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY priority_micro DESC, doc_id) AS rn
  FROM pri
),
tau AS (SELECT priority_micro AS tau_micro FROM ranked WHERE rn = {_K + 1}),
total AS (SELECT CAST(sum(n_chars) * 1000000 AS BIGINT) AS exact_total_micro FROM pri)
SELECT r.doc_id, r.n_chars AS weight, r.priority_micro,
       t.tau_micro,
       greatest(r.n_chars * 1000000, t.tau_micro) AS est_weight_micro,
       CAST(sum(greatest(r.n_chars * 1000000, t.tau_micro))
            OVER () AS BIGINT) AS est_total_micro,
       o.exact_total_micro
FROM ranked r, tau t, total o
WHERE r.rn <= {_K}
ORDER BY r.priority_micro DESC, r.doc_id
""",
    tags=("sampling", "weighted", "priority", "llm", "estimation"),
)
def priority_weighted_sample(spark, sf_dir):
    """Top-32 priority sample of documents weighted by n_chars, with the
    unbiased Duffield-Lund-Thorup weight estimator max(w, tau) per kept
    row and the sample-estimated corpus total vs the exact total riding
    along — the audit a pipeline runs to check its own sample. All
    arithmetic in exact micro-weight BIGINTs (see module docstring)."""
    pri = T(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr(_Q).cast("bigint").alias("priority_micro")
    )
    # Top (k+1) via orderBy+limit = TakeOrdered: per-partition top-(k+1)
    # then a (k+1)-sized merge — linear in the corpus, NO global sort or
    # single-partition window (the oracle's row_number formulation is the
    # naive-SQL equivalent, not the physical plan). Checkpointed: k+1
    # rows feed both the tau extraction and the sample.
    top = (
        pri.orderBy(F.desc("priority_micro"), "doc_id")
        .limit(_K + 1)
        .localCheckpoint()
    )
    ranked = top.withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("priority_micro"), "doc_id"))
    )
    # (k+1)-th priority and the exact corpus total: two 1-row broadcast
    # sides (tau from the k+1 checkpointed rows, the total from one
    # map-side aggregate of the scan).
    tau = F.broadcast(
        ranked.filter(F.col("rn") == _K + 1).select(
            F.col("priority_micro").alias("tau_micro")
        )
    )
    total = F.broadcast(
        pri.agg((F.sum("n_chars") * 1000000).cast("bigint").alias("exact_total_micro"))
    )
    est = F.greatest(F.col("n_chars") * 1000000, F.col("tau_micro"))
    return (
        ranked.filter(F.col("rn") <= _K)
        .crossJoin(tau)
        .crossJoin(total)
        .select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            "priority_micro",
            "tau_micro",
            est.alias("est_weight_micro"),
            F.sum(est).over(W.partitionBy()).cast("bigint").alias("est_total_micro"),
            "exact_total_micro",
        )
        .orderBy(F.desc("priority_micro"), "doc_id")
    )


_NEYMAN_B = 10_000  # total sample budget being allocated


@query(
    "neyman_allocation",
    oracle=f"""
WITH x AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
  FROM documents
),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s1,
         CAST(sum(x * x) AS BIGINT) AS s2
  FROM x GROUP BY source
),
w AS (
  SELECT source, n, (n * s2 - s1 * s1) AS var_num,
         CAST(round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
                    / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS sd_micro
  FROM st
),
tot AS (SELECT CAST(sum(n * sd_micro) AS BIGINT) AS wsum FROM w)
SELECT source, n AS n_docs, var_num, sd_micro,
       CAST(CASE WHEN t.wsum = 0 THEN 0
                 ELSE ({_NEYMAN_B} * n * sd_micro) // t.wsum END AS BIGINT)
         AS alloc_n
FROM w, tot t
ORDER BY source
""",
    tags=("sampling", "stratified", "neyman", "llm"),
)
def neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation (Neyman 1934) of a {_NEYMAN_B}-doc
    audit-sample budget across source strata: n_h ∝ N_h·S_h, where S_h
    is the stratum's population standard deviation of document token
    length — the allocation that minimizes the variance of the
    stratified mean-length estimator at fixed budget. Per stratum:
    size, exact integer variance numerator (n·Σx² − (Σx)², never a
    float accumulation), S_h in micro-units (ONE sqrt of an exact
    integer + one division — identical IEEE trees in both engines,
    rounded once at 6 dp like every cosine in this repo), and the
    floor-allocated n_h (largest-remainder top-up is a driver-side
    ≤strata-sized concern, documented not implemented).

    Scale: one corpus scan into strata-sized aggregates (map-side
    combinable sums of BIGINTs); the normalizing total is a 1-row
    broadcast ride-along; output = one row per stratum regardless of
    corpus size."""
    docs = T(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).cast("bigint").alias("x")
    )
    # strata-sized (one row per source) -> cut lineage so the weight
    # projection AND the 1-row normalizer read the 20-row checkpoint
    # instead of each re-running the corpus scan (plan-pinned: the final
    # plan holds NO parquet scan)
    st = ckpt(
        docs.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        )
    )
    w = st.select(
        "source",
        "n",
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("var_num"),
        F.expr(
            "CAST(round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))"
            " / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT)"
        ).alias("sd_micro"),
    )
    tot = w.agg(F.sum(F.col("n") * F.col("sd_micro")).cast("bigint").alias("wsum"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            "var_num",
            "sd_micro",
            F.expr(
                f"CAST(CASE WHEN wsum = 0 THEN 0"
                f" ELSE ({_NEYMAN_B} * n * sd_micro) div wsum END AS BIGINT)"
            ).alias("alloc_n"),
        )
        .orderBy("source")
    )


@query(
    "neyman_sample_rows",
    oracle=f"""
WITH x AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
  FROM documents
),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s1,
         CAST(sum(x * x) AS BIGINT) AS s2
  FROM x GROUP BY source
),
w AS (
  SELECT source, n,
         CAST(round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
                    / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS sd_micro
  FROM st
),
tot AS (SELECT CAST(sum(n * sd_micro) AS BIGINT) AS wsum FROM w),
alloc AS (
  SELECT source,
         CAST(CASE WHEN t.wsum = 0 THEN 0
                   ELSE ({_NEYMAN_B} * n * sd_micro) // t.wsum END AS BIGINT) AS alloc_n
  FROM w, tot t
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS draw_rank
FROM ranked r JOIN alloc a ON r.source = a.source
WHERE r.rk <= a.alloc_n
ORDER BY r.source, r.rk
""",
    tags=("sampling", "stratified", "neyman", "llm"),
)
def neyman_sample_rows(spark, sf_dir):
    """EXECUTE the Neyman allocation (`neyman_allocation` computes the
    per-stratum budgets; this draws the rows): within each source, the
    alloc_n documents with the smallest md5(doc_id) — a deterministic
    uniform draw, reproducible in any engine and STABLE under corpus
    append (a document already drawn stays drawn unless enough smaller
    hashes arrive, the bounded-churn property md5-order sampling gives
    and random.shuffle does not). Output carries the within-stratum
    draw rank so downstream audits can take any prefix sub-sample.

    Scale: the allocation is strata-sized broadcast state; the draw is
    one source-partitioned rank window (per-partition sort, the
    trimmed-mean shape) + a broadcast semi-join on the allocation.
    Output ≤ budget + strata rows at any corpus."""
    from pyspark.sql import Window as W

    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("x"),
    )
    st = ckpt(
        docs.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        )
    )
    w = st.select(
        "source",
        "n",
        F.expr(
            "CAST(round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))"
            " / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT)"
        ).alias("sd_micro"),
    )
    tot = w.agg(F.sum(F.col("n") * F.col("sd_micro")).cast("bigint").alias("wsum"))
    alloc = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.expr(
                f"CAST(CASE WHEN wsum = 0 THEN 0"
                f" ELSE ({_NEYMAN_B} * n * sd_micro) div wsum END AS BIGINT)"
            ).alias("alloc_n"),
        )
    )
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            W.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rk"),
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("rk") <= F.col("alloc_n"))
        .select("doc_id", "source", F.col("rk").cast("bigint").alias("draw_rank"))
        .orderBy("source", "draw_rank")
    )

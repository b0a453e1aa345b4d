"""Linear-classifier inference at corpus scale — the "apply a trained
quality model to every document" rung (the FineWeb-Edu / CCNet
filtering step).

The physical pattern matters more than the weights: a linear text
classifier over hashed n-gram features is scored by (1) exploding each
document into hashed feature buckets (map-only projection, the same
md5-nibble arithmetic as the engine's other hashing), (2) equi-joining
a WEIGHTS TABLE — model parameters live in a DataFrame, broadcast to
every executor, NOT captured inside a Python UDF — and (3) one
map-side-combinable per-document sum. Logistic probability is a
monotone function of the linear score, so classification thresholds
compare the raw integer score — libm never runs (the engine's standard
log/exp-avoidance move).

The fixture has no trained model, so the weights table is generated
deterministically from md5(bucket) — centered integers in
[-500, 500] micro-units. Swapping in real learned weights changes one
DataFrame, not the plan. The score is an exact BIGINT micro-sum plus
one IEEE divide for the mean — bit-identical in both engines.

At 100 TB: feature explode ~ tokens; the weights side is model-sized
(2^10 buckets here, ≤ millions for real hashed models) and broadcast —
the classic model-parallel-free inference join; the per-doc aggregate
combines map-side. Nothing is driver-side, no Python in the hot path.

Reference scope: LLM-pipeline tier (COVERAGE.md) — the reference engine
has no classifier inference.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import md5_hex_int, md5_hex_int_sql
from .helpers import T, spread
from .registry import query

_BUCKETS = 1024
_THRESH = 0  # keep documents with non-negative mean feature weight

# hashed bigram -> bucket id
_BUCKET = f"({md5_hex_int('bg')} % {_BUCKETS})"
# bucket id -> deterministic integer weight in [-500, 500] micro-units
_WEIGHT = "((" + md5_hex_int("concat('w|', CAST(bucket AS STRING))") + " % 1001) - 500)"


@query(
    "hashed_linear_classifier_scores",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS s FROM documents
),
feats AS (
  SELECT doc_id,
         ({md5_hex_int_sql("s[i] || '_' || s[i + 1]")} % {_BUCKETS}) AS bucket
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i) g
  WHERE len(s) >= 2
),
weights AS (
  SELECT b.bucket,
         (({md5_hex_int_sql("'w|' || CAST(b.bucket AS VARCHAR)")} % 1001) - 500) AS wt
  FROM (SELECT unnest(generate_series(0, {_BUCKETS - 1})) AS bucket) b
),
scored AS (
  SELECT f.doc_id,
         CAST(count(*) AS BIGINT) AS n_features,
         CAST(sum(wt) AS BIGINT) AS score_micro
  FROM feats f JOIN weights ON f.bucket = weights.bucket
  GROUP BY f.doc_id
)
SELECT doc_id, n_features, score_micro,
       CAST(score_micro AS DOUBLE) / CAST(n_features AS DOUBLE) AS mean_weight,
       score_micro >= {_THRESH} AS kept
FROM scored
ORDER BY doc_id
""",
    tags=("text", "classifier", "inference", "llm", "quality"),
)
def hashed_linear_classifier_scores(spark, sf_dir):
    """Per document: hashed-bigram linear-classifier score (exact BIGINT
    micro-units), feature count, mean feature weight (one IEEE divide),
    and the keep/drop verdict at threshold {_THRESH}. Model weights are
    a broadcast DataFrame equi-joined to the hashed features — the
    model-as-data inference pattern (see module docstring)."""
    docs = spread(T(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("s")
    )
    pairs = (
        "explode(CASE WHEN size(s) >= 2"
        " THEN transform(sequence(0, size(s) - 2), i -> concat(s[i], '_', s[i + 1]))"
        " ELSE array() END)"
    )
    feats = docs.select(
        "doc_id", F.expr(pairs).alias("bg")
    ).select(
        "doc_id", F.expr(_BUCKET).cast("bigint").alias("bucket")
    )
    weights = (
        spark.range(_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .select(
            "bucket",
            F.expr(_WEIGHT)
            .cast("bigint")
            .alias("wt"),
        )
    )
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_features"),
            F.sum("wt").cast("bigint").alias("score_micro"),
        )
        .select(
            "doc_id",
            "n_features",
            "score_micro",
            (F.col("score_micro").cast("double") / F.col("n_features").cast("double")).alias(
                "mean_weight"
            ),
            (F.col("score_micro") >= _THRESH).alias("kept"),
        )
        .orderBy("doc_id")
    )

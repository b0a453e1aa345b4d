"""DSIR-style data selection via hashed n-gram importance weights
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") — the targeted-selection rung of the curation ladder, above
the untargeted quality gates (Gopher rules in ``curation.py``, CCNet LM
scoring in ``lm_quality.py``).

DSIR estimates target and source distributions over HASHED n-gram
feature buckets (the hashing is what makes the feature space bounded and
the method corpus-size-independent), then keeps documents whose
importance weight p_target/q_source is high. Re-expressed Spark-first
and engine-exact:

- features: word bigrams hashed into 1024 buckets via md5 hex digits —
  the same cross-engine-deterministic trick as the arrival-delay models
  (``timeseries._DELAY_SEC``); both engines compute identical buckets;
- distributions: Laplace-smoothed integer ppm — ``((c+1) * 1e6) div
  (total + 1024)`` — exact BIGINT arithmetic, no log()/double accumulation
  (libm log differs across engines in the last ulp; house rule, see
  ``lm_quality.py``);
- importance score: sum over the doc's buckets of
  ``c_f(doc) * (p_ppm(f) - q_ppm(f))`` — the linearized surrogate of the
  paper's log-ratio sum (log p/q and p−q rank identically around p≈q,
  and the surrogate is bit-exact; documented deviation);
- selection: ``score > 0`` (doc is more target-like than corpus-average)
  — a fixed map-side threshold instead of the paper's top-k resample, so
  no global sort exists anywhere in the plan (at 100 TB a top-k would be
  an approx-quantile threshold broadcast, not a rank).

Target slice: the corpus's ``lang = 'en'`` documents (the deterministic
stand-in for the paper's high-quality target corpus).

Scale: feature extraction is a linear explode; both distributions are
hash aggregations on bucket ids (max 1024 groups — map-side combine
collapses them); scoring joins doc-buckets to the two 1024-row
distribution tables (broadcast); the only wide exchange is the per-doc
groupBy. The model lives in broadcast ints; raw text never shuffles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import md5_hex_int, md5_hex_int_sql
from .helpers import T, spread
from .registry import query

_N_BUCKETS = 1024

# word bigram -> hashed feature bucket: its first 3 md5 hex digits
_BIGRAM = "concat(w1, ' ', w2)"
_BUCKET = f"({md5_hex_int_sql(_BIGRAM, 3)} % {_N_BUCKETS})"
_BUCKET_SPARK = f"({md5_hex_int(_BIGRAM, 3)} % {_N_BUCKETS})"


@query(
    "dsir_importance_selection",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
),
bg AS (
  SELECT doc_id, lang, CAST({_BUCKET} AS BIGINT) AS bucket
  FROM (
    SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(w) - 1)) AS s(i)
    WHERE len(w) >= 2
  )
),
doc_f AS (SELECT doc_id, bucket, count(*) AS c FROM bg GROUP BY doc_id, bucket),
tgt AS (SELECT bucket, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY bucket),
src AS (SELECT bucket, count(*) AS cs FROM bg GROUP BY bucket),
tot AS (
  SELECT (SELECT count(*) FROM bg WHERE lang = 'en') AS nt,
         (SELECT count(*) FROM bg) AS ns
),
ppm AS (
  SELECT s.bucket,
         ((coalesce(t.ct, 0) + 1) * 1000000) // (tot.nt + {_N_BUCKETS}) AS p_ppm,
         ((s.cs + 1) * 1000000) // (tot.ns + {_N_BUCKETS}) AS q_ppm
  FROM src s LEFT JOIN tgt t ON s.bucket = t.bucket CROSS JOIN tot
),
scored AS (
  SELECT d.doc_id,
         CAST(sum(d.c) AS BIGINT) AS n_feats,
         CAST(sum(d.c * (p.p_ppm - p.q_ppm)) AS BIGINT) AS score
  FROM doc_f d JOIN ppm p ON d.bucket = p.bucket
  GROUP BY d.doc_id
)
SELECT t.doc_id, t.lang,
       coalesce(s.n_feats, 0) AS n_feats,
       coalesce(s.score, 0) AS score,
       coalesce(s.score, 0) > 0 AS selected
FROM toks t LEFT JOIN scored s ON t.doc_id = s.doc_id
ORDER BY t.doc_id
""",
    tags=("llm-quality", "curation", "dsir", "importance-sampling"),
)
def dsir_importance_selection(spark, sf_dir):
    """Per-document DSIR importance score against the en-slice target:
    hashed-bigram feature counts × (target_ppm − source_ppm), summed —
    ``selected`` marks docs more target-like than the corpus average.
    Output: (doc_id, lang, n_feats, score, selected)."""
    docs = spread(T(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )
    bg = (
        docs.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.size("w") - 1)).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            "lang",
            F.element_at("w", F.col("i")).alias("w1"),
            F.element_at("w", F.col("i") + 1).alias("w2"),
        )
        .select(
            "doc_id", "lang", F.expr(f"CAST({_BUCKET_SPARK} AS BIGINT)").alias("bucket")
        )
    )
    doc_f = bg.groupBy("doc_id", "bucket").agg(F.count("*").alias("c"))
    # ONE per-bucket aggregation carries both distributions (ct = target
    # bigrams, cs = all bigrams), and the corpus totals derive from its
    # ≤1024 rows — without this the bigram-explode subtree was recomputed
    # for tgt, src, AND tot (4 documents scans, 20 exchanges; audited
    # round 6 → now 2 scans). The totals cross-join is the standard 1-row
    # scalar-broadcast pattern (cf. plans/tpch_fill.py q15).
    per_bucket = bg.groupBy("bucket").agg(
        F.count("*").alias("cs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    ).localCheckpoint()  # ≤1024 rows — materialize once; tot + ppm reuse it
    tot = per_bucket.agg(F.sum("cs").alias("ns"), F.sum("ct").alias("nt"))
    ppm = per_bucket.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr(
            f"((coalesce(ct, 0) + 1) * 1000000) div (nt + {_N_BUCKETS})"
        ).alias("p_ppm"),
        F.expr(f"((cs + 1) * 1000000) div (ns + {_N_BUCKETS})").alias("q_ppm"),
    )
    scored = (
        doc_f.join(F.broadcast(ppm), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.sum(F.col("c") * (F.col("p_ppm") - F.col("q_ppm")))
            .cast("bigint")
            .alias("score"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("score", F.lit(0)).alias("score"),
            (F.coalesce("score", F.lit(0)) > 0).alias("selected"),
        )
        .orderBy("doc_id")
    )

"""Incremental near-dup assignment — dedup an arriving batch against the
existing corpus index WITHOUT re-deduplicating the corpus.

This is the shape a 100 TB ingest actually runs: the corpus's banded
MinHash-LSH index (doc_id, band, band_hash) is a stored, append-only
table bucketed on (band, band_hash); each new batch computes signatures
for ITS documents only and equi-joins them against the index buckets.
Old-vs-old pairs are never generated — per-ingest work is
O(batch shingles) + O(bucket-overlap candidates), independent of corpus
pair count. The hot-bucket rank-and-cap from `operators/dedup.py::
lsh_candidates` applies to the stored index too (a production index
persists at most `max_bucket` members per bucket — a bucket beyond that
is boilerplate, not near-duplication).

Fixture mapping: the "new batch" is the deterministic ~25% of documents
whose md5(doc_id) starts with hex 0-3 (SF-independent — a fixed id
split would leave some SFs with an empty batch); the index side is
everything. Assignment rule: a new document duplicates the smallest
partner id among (any old document) ∪ (new documents with smaller id)
sharing at least one band bucket; otherwise it is new-unique and keeps
itself. The Spark plan computes the full banded index here because the
fixture has no stored one — `localCheckpoint` stands in for the
materialized index table inside this ORACLED query. The real stored
path exists too: `operators/dedup.py::write_band_index` materializes
the capped index as a parquet table bucketed on (band, band_hash) and
`probe_band_index` joins a batch against it with ZERO Exchange on the
index side — machine-pinned (against a non-bucketed control copy) in
tests/test_incremental_index.py, with result equality to an
independent per-doc reference.

Reference scope: the reference engine has no incremental dedup; this
extends the LLM-pipeline dedup tier (COVERAGE.md) with its ingest-time
path, composed from the round-1 LSH operators.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..checkpoints import ckpt
from ..functions.scalars import md5_quarter
from .dedup import _SQL_SHINGLES
from .helpers import T
from .registry import query

_MAX_BUCKET = 1000
_NEW = md5_quarter("CAST(doc_id AS STRING)", oracle=True)  # batch membership


@query(
    "incremental_lsh_dedup_assign",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="")},
perms AS (SELECT doc_id, shingle, unnest(generate_series(0, 15)) AS perm FROM sh),
sig AS (
  SELECT doc_id, perm, min(md5(concat(perm, '|', shingle))) AS minhash
  FROM perms GROUP BY 1, 2
),
banded AS (
  SELECT doc_id, CAST(perm // 4 AS INTEGER) AS band,
         md5(string_agg(minhash, '|' ORDER BY perm)) AS band_hash
  FROM sig GROUP BY doc_id, CAST(perm // 4 AS INTEGER)
),
capped AS (
  SELECT doc_id, band, band_hash,
         {_NEW} AS is_new
  FROM (
    SELECT doc_id, band, band_hash,
           row_number() OVER (PARTITION BY band, band_hash ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn <= {_MAX_BUCKET}
),
cand AS (
  SELECT n.doc_id AS doc_id, min(o.doc_id) AS dup_of
  FROM capped n JOIN capped o
    ON n.band = o.band AND n.band_hash = o.band_hash
   AND (NOT o.is_new OR o.doc_id < n.doc_id)
  WHERE n.is_new
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(c.dup_of, d.doc_id) AS dup_of,
       (c.dup_of IS NOT NULL) AS is_dup
FROM (SELECT doc_id FROM documents
      WHERE {_NEW}) d
LEFT JOIN cand c ON d.doc_id = c.doc_id
ORDER BY d.doc_id
""",
    tags=("dedup", "minhash", "lsh", "incremental", "llm"),
)
def incremental_lsh_dedup_assign(spark, sf_dir):
    """Per new-batch document: the canonical partner it duplicates (min
    partner id over shared LSH buckets against the stored index +
    earlier batch members), or itself if new-unique. See module
    docstring for the production index mapping."""
    docs = T(spark, sf_dir, "documents")
    # band the MEMOIZED canonical signature table (optimization r13):
    # identical signature definition (char-5-gram shingles,
    # distinct=False, 16 perms, 4×4 banding), and exactly the module
    # docstring's production story — the index is a stored per-corpus
    # artifact, not something an ingest batch recomputes.
    from .dedup import corpus_minhash_sig

    banded = D.band_signature(corpus_minhash_sig(spark, sf_dir))
    is_new = F.expr(md5_quarter("CAST(doc_id AS STRING)"))
    w = W.partitionBy("band", "band_hash").orderBy("doc_id")
    # The capped banded index — in production a stored bucketed table;
    # checkpointed so the signature DAG runs once for both join sides.
    capped = (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MAX_BUCKET)
        .select("doc_id", "band", "band_hash", is_new.alias("is_new"))
        .transform(ckpt)  # corpus-linear index rows -> durable cut
    )
    n = capped.filter("is_new").select(
        F.col("doc_id").alias("n_id"), "band", "band_hash"
    )
    o = capped.select(
        F.col("doc_id").alias("o_id"), "band", "band_hash", "is_new"
    )
    cand = (
        n.join(o, ["band", "band_hash"])
        .filter(~F.col("is_new") | (F.col("o_id") < F.col("n_id")))
        .groupBy("n_id")
        .agg(F.min("o_id").alias("dup_of_hit"))
    )
    batch = docs.filter(is_new).select("doc_id")
    return (
        batch.join(cand, batch.doc_id == cand.n_id, "left")
        .select(
            "doc_id",
            F.coalesce("dup_of_hit", "doc_id").alias("dup_of"),
            F.col("dup_of_hit").isNotNull().alias("is_dup"),
        )
        .orderBy("doc_id")
    )


_NOV_NGRAM = 3


@query(
    "batch_ngram_novelty",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         {_NEW} AS is_new
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id, is_new,
         array_to_string(w[i : i + {_NOV_NGRAM - 1}], ' ') AS ng
  FROM w,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - {_NOV_NGRAM - 1}, 0))) AS i) s
),
corpus AS (SELECT DISTINCT ng FROM g WHERE NOT is_new)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(count(*) FILTER (WHERE c.ng IS NULL) AS BIGINT) AS n_novel,
       CAST(count(*) FILTER (WHERE c.ng IS NULL) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty_ratio
FROM g LEFT JOIN corpus c USING (ng)
WHERE g.is_new
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
    tags=("text", "novelty", "incremental", "llm", "observability"),
)
def batch_ngram_novelty(spark, sf_dir):
    """Ingest observability companion to `incremental_lsh_dedup_assign`
    (same md5-deterministic ~25% batch slice): per new document, how
    many of its distinct word 3-grams the existing corpus has never
    seen — the novelty metric a pipeline tracks per ingest to catch
    both stale re-crawls (novelty → 0) and scraper breakage (novelty
    → 1). The corpus side is a hash-aggregated DISTINCT n-gram set
    joined on ng — a plain shuffle equi-join, deliberately NOT a
    broadcast: at 100 TB the corpus n-gram set is itself corpus-sized
    (contrast decontamination, whose eval side is tiny and broadcast).
    novelty_ratio = one IEEE divide of two exact BIGINTs — bit-identical
    in both engines."""
    docs = T(spark, sf_dir, "documents")
    is_new = F.expr(md5_quarter("CAST(doc_id AS STRING)"))
    ws = docs.select(
        "doc_id", F.split("text", " ").alias("w"), is_new.alias("is_new")
    )
    ng_expr = (
        f"CASE WHEN size(w) >= {_NOV_NGRAM} THEN "
        f"transform(sequence(1, size(w) - {_NOV_NGRAM - 1}), "
        "i -> concat_ws(' ', "
        + ", ".join(f"element_at(w, i + {j})" for j in range(_NOV_NGRAM))
        + ")) ELSE array() END"
    )
    g = ws.select(
        "doc_id", "is_new", F.explode(F.expr(ng_expr)).alias("ng")
    ).distinct()
    # corpus membership as an ng-partitioned WINDOW flag (optimization
    # r14, guide §2.4): an n-gram is "seen" iff ANY old-slice doc has it
    # — max over the ng partition — so the old corpus-DISTINCT + left
    # join, which re-planned the distinct n-gram frame under both
    # branches (4 exchanges, the big distinct twice), folds into one
    # window on the single frame. seen NULL ⇔ no old doc ⇔ the old
    # join's miss, so the novelty counts are identical.
    from pyspark.sql import Window as W

    seen = F.max(F.when(~F.col("is_new"), 1)).over(W.partitionBy("ng"))
    novel = F.count(F.when(F.col("seen").isNull(), 1))
    return (
        g.withColumn("seen", seen)
        .filter("is_new")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count("*").cast("double")).alias("novelty_ratio"),
        )
        .orderBy("doc_id")
    )

"""The full training-data export composition in ONE plan and ONE oracle:

    quality gate → exact dedup (canonical keep) → benchmark
    decontamination → sequence packing → per-bin export manifest

Each stage is individually hash-verified elsewhere
(`corpus_curation_pipeline`, `exact_dedup_documents`,
`decontamination_ngram_overlap`, `sequence_packing_bins`); this query
proves the stages COMPOSE — same thresholds, same determinism rules —
because a real pipeline ships the composition, not the stages. The
output is the export manifest: per (lang, shard, bin) document count,
token fill, and first document id.

Scale shape (the sum of its verified parts): one pruned corpus scan
computes tokens/digest/quality; the keep-first dedup (`top1` per
digest) shuffles (digest, doc_id, lang, tokens) — never text;
decontamination re-derives n-grams from a second pruned scan
semi-joined to the canonical id set, with the eval side DISTINCT-ed and
broadcast; packing windows are per (lang, shard) —
bounded partitions, no global sort. Three shuffles + one broadcast
regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .helpers import T
from ..checkpoints import ckpt
from ..functions.scalars import top1
from .registry import query
from .training_export import _BENCH_MOD, _BIN_TOKENS, _N_SHARDS, _NGRAM


@query(
    "training_export_pipeline",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         md5(text) AS digest,
         (len(string_split(text, ' ')) >= 20
          AND CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
              / length(text) > 0.8) AS is_keep
  FROM documents
),
canon AS (
  SELECT doc_id, lang, tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
    FROM scored WHERE is_keep
  ) WHERE rn = 1 AND doc_id % {_BENCH_MOD} <> 0
),
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT DISTINCT doc_id, array_to_string(w[i : i + {_NGRAM - 1}], ' ') AS ng
  FROM w,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - {_NGRAM - 1}, 0))) AS i) s
),
bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % {_BENCH_MOD} = 0),
dirty AS (
  SELECT DISTINCT g.doc_id FROM g JOIN bench USING (ng)
  WHERE g.doc_id IN (SELECT doc_id FROM canon)
),
surv AS (
  SELECT c.doc_id, c.lang, c.tokens, CAST(c.doc_id % {_N_SHARDS} AS BIGINT) AS shard
  FROM canon c WHERE c.doc_id NOT IN (SELECT doc_id FROM dirty)
),
cum AS (
  SELECT *, sum(tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS running
  FROM surv
)
SELECT lang, shard, CAST((running - tokens) // {_BIN_TOKENS} AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc
FROM cum
GROUP BY lang, shard, CAST((running - tokens) // {_BIN_TOKENS} AS BIGINT)
ORDER BY lang, shard, bin_id
""",
    tags=("text", "pipeline", "export", "dedup", "decontamination", "packing", "llm"),
)
def training_export_pipeline(spark, sf_dir):
    """Quality-gate → dedup-canonical → decontaminate → pack, returning
    the per-(lang, shard, bin) export manifest. Thresholds identical to
    the stage queries; see module docstring for the scale shape."""
    docs = T(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    clean_ratio = (
        F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double") / F.length("text")
    )
    scored = docs.select(
        "doc_id",
        "lang",
        n_tokens.cast("bigint").alias("tokens"),
        F.md5("text").alias("digest"),
        ((n_tokens >= 20) & (clean_ratio > 0.8)).alias("is_keep"),
    )
    canon = (
        top1(scored.filter("is_keep"), ["digest"], ["doc_id"], ["lang", "tokens"])
        .filter(F.col("doc_id") % _BENCH_MOD != 0)
        .select("doc_id", "lang", "tokens")
        # id/lang/tokens only — referenced by the n-gram semi-join and
        # the packing stage; the corpus text never shuffles.
        # Data-sized -> durable cut (checkpoints.ckpt).
        .transform(ckpt)
    )
    ws = docs.select("doc_id", F.split("text", " ").alias("w"))
    ng_expr = (
        f"CASE WHEN size(w) >= {_NGRAM} THEN "
        f"transform(sequence(1, size(w) - {_NGRAM - 1}), "
        "i -> concat_ws(' ', "
        + ", ".join(f"element_at(w, i + {j})" for j in range(_NGRAM))
        + ")) ELSE array() END"
    )
    g = ws.select("doc_id", F.explode(F.expr(ng_expr)).alias("ng")).distinct()
    bench = g.filter(F.col("doc_id") % _BENCH_MOD == 0).select("ng").distinct()
    dirty = (
        g.join(canon.select("doc_id"), "doc_id", "left_semi")
        .join(F.broadcast(bench), "ng", "left_semi")
        .select("doc_id")
        .distinct()
    )
    surv = canon.join(dirty, "doc_id", "left_anti").withColumn(
        "shard", (F.col("doc_id") % _N_SHARDS).cast("bigint")
    )
    cum = surv.withColumn(
        "running",
        F.sum("tokens").over(
            W.partitionBy("lang", "shard")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        cum.withColumn("bin_id", F.expr(f"(running - tokens) div {_BIN_TOKENS}"))
        .groupBy("lang", "shard", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang", "shard", "bin_id")
    )

"""Round-6 curation additions: the second Gopher repetition rule
(top-n-gram character fraction, Rae et al. 2021 §A1.1) and
quality-aware canonical selection for duplicate groups — both standard
rungs of a pre-training curation pipeline that the existing
``curation.py`` / ``dedup.py`` tiers did not yet cover.

Reference scope note: the reference pipeline has no text-curation tier
(it is a geodata ingestion engine); these operators are part of the
engine's LLM-data extension mandate, alongside ``plans/dedup.py`` and
``plans/curation.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import top1
from .dedup import _SQL_CC_LABELS, _SQL_SHINGLES
from .helpers import T
from .registry import query

# Gopher drops a doc when the most common n-gram covers too much of it;
# 0.20 is the paper's 2-gram threshold.
_TOP2_THRESHOLD = 0.20


@query(
    "top_ngram_char_fraction",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS w
  FROM documents
),
bg AS (
  SELECT doc_id, n_chars, w[i] || ' ' || w[i + 1] AS bigram
  FROM toks, unnest(generate_series(1, len(w) - 1)) AS s(i)
  WHERE len(w) >= 2
),
counts AS (
  SELECT doc_id, n_chars, bigram, count(*) AS c
  FROM bg GROUP BY doc_id, n_chars, bigram
),
top1 AS (
  SELECT doc_id, n_chars, bigram, c FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT t.doc_id,
       CAST(t.n_chars AS BIGINT) AS n_chars,
       p.bigram AS top_bigram,
       CAST(p.c AS BIGINT) AS top_count,
       CASE WHEN p.bigram IS NULL THEN NULL
            ELSE round(CAST(p.c * length(p.bigram) AS DOUBLE) / t.n_chars, 6)
       END AS top_char_frac,
       coalesce(CAST(p.c * length(p.bigram) AS DOUBLE) / t.n_chars
                  <= {_TOP2_THRESHOLD}, true) AS keep
FROM toks t LEFT JOIN top1 p ON t.doc_id = p.doc_id
ORDER BY t.doc_id
""",
    tags=("text", "quality", "gopher", "llm"),
)
def top_ngram_char_fraction(spark, sf_dir):
    """The second Gopher repetition rule: fraction of a document's
    characters covered by its single most common word bigram (count ×
    bigram length / doc length); drop when the top bigram covers more
    than 20% (Rae et al. 2021 §A1.1 — complements the duplicate-trigram
    fraction in ``repetition_ngram_gate``). Ties break on the
    lexicographically smallest bigram so both engines pick the same one.

    Scale: bigram explode is linear; the count and the `top1` are
    both keyed on doc_id (bounded per-doc partitions, no global sort
    except the presentation ORDER BY). Docs with <2 words keep=true with
    NULL diagnostics."""
    toks = T(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars"), F.split("text", " ").alias("w")
    )
    bg = (
        toks.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            "n_chars",
            F.explode(F.sequence(F.lit(1), F.size("w") - 1)).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            "n_chars",
            F.concat_ws(
                " ", F.element_at("w", F.col("i")), F.element_at("w", F.col("i") + 1)
            ).alias("bigram"),
        )
    )
    counts = bg.groupBy("doc_id", "n_chars", "bigram").agg(F.count("*").alias("c"))
    # (c DESC, bigram ASC): DESC via negation
    best = top1(counts, ["doc_id"], [(-F.col("c")).alias("negc"), "bigram"], ["c"]).select(
        "doc_id", F.col("bigram").alias("top_bigram"), F.col("c").alias("top_count")
    )
    frac = (F.col("top_count") * F.length("top_bigram")).cast("double") / F.col("n_chars")
    return (
        toks.select("doc_id", "n_chars")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "top_bigram",
            F.col("top_count").cast("bigint").alias("top_count"),
            F.when(F.col("top_bigram").isNotNull(), F.round(frac, 6)).alias(
                "top_char_frac"
            ),
            F.coalesce(frac <= _TOP2_THRESHOLD, F.lit(True)).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "quality_aware_dedup_keep",
    oracle="""
WITH g AS (
  SELECT doc_id, md5(text) AS h, n_chars,
         length(regexp_replace(text, '[^a-z ]', '', 'g')) AS n_clean
  FROM documents
)
SELECT a.doc_id,
       a.h AS content_hash,
       CAST(count(*) OVER (PARTITION BY a.h) AS BIGINT) AS group_size,
       first_value(a.doc_id) OVER (
         PARTITION BY a.h ORDER BY a.n_clean DESC, a.n_chars DESC, a.doc_id
       ) AS keep_id,
       (first_value(a.doc_id) OVER (
         PARTITION BY a.h ORDER BY a.n_clean DESC, a.n_chars DESC, a.doc_id
       ) <> a.doc_id) AS is_pruned
FROM g a
ORDER BY a.doc_id
""",
    tags=("dedup", "quality", "curation", "llm"),
)
def quality_aware_dedup_keep(spark, sf_dir):
    """Quality-aware survivor selection: within each exact-duplicate
    group (md5 of text) keep the highest-quality copy instead of an
    arbitrary one — ordered by clean-character count, then length, then
    min doc_id (real pipelines keep the least-mangled copy; see the
    keep-min-id tiers in ``plans/dedup.py`` for the arbitrary-survivor
    baseline). Output one row per doc with its group, the chosen
    survivor, and whether the doc is pruned.

    Scale: one hash aggregation keyed on content hash; the survivor
    choice is a per-group window (bounded partitions — group size is dup
    multiplicity). For NEAR-dup groups the same rule composes with
    ``neardup_components``'s component ids in place of the hash."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        "n_chars",
        F.length(F.regexp_replace("text", "[^a-z ]", "")).alias("n_clean"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("content_hash")
    wo = w.orderBy(F.col("n_clean").desc(), F.col("n_chars").desc(), "doc_id")
    return docs.select(
        "doc_id",
        "content_hash",
        F.count("*").over(w).cast("bigint").alias("group_size"),
        F.first("doc_id").over(wo).alias("keep_id"),
        (F.first("doc_id").over(wo) != F.col("doc_id")).alias("is_pruned"),
    ).orderBy("doc_id")


@query(
    "neardup_canonical_keep",
    oracle=f"""
WITH RECURSIVE
{_SQL_SHINGLES.format(where="")},{_SQL_CC_LABELS},
quality AS (
  SELECT doc_id, n_chars,
         length(regexp_replace(text, '[^a-z ]', '', 'g')) AS n_clean
  FROM documents
),
assigned AS (
  SELECT q.doc_id, coalesce(l.component, q.doc_id) AS component_id,
         q.n_chars, q.n_clean
  FROM quality q LEFT JOIN labels l ON q.doc_id = l.node
)
SELECT doc_id, component_id,
       CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS component_size,
       first_value(doc_id) OVER (
         PARTITION BY component_id ORDER BY n_clean DESC, n_chars DESC, doc_id
       ) AS keep_id,
       (first_value(doc_id) OVER (
         PARTITION BY component_id ORDER BY n_clean DESC, n_chars DESC, doc_id
       ) <> doc_id) AS is_pruned
FROM assigned
ORDER BY doc_id
""",
    tags=("dedup", "components", "quality", "curation", "llm"),
)
def neardup_canonical_keep(spark, sf_dir):
    """The full near-dup dedup assignment a pipeline actually applies:
    MinHash-LSH candidates → connected components
    (operators/dedup.py::connected_components) → quality-aware survivor
    per component (clean-char count desc, length desc, min doc_id — the
    same rule ``quality_aware_dedup_keep`` applies to exact-dup groups,
    here composed with the transitive near-dup clustering). Docs in no
    component keep themselves (component_id = doc_id, is_pruned false),
    so the output is a total keep/prune decision over the corpus.

    Scale: candidate generation and CC are the bounded scale paths
    documented at ``neardup_components``; the quality join is a left
    equi-join on doc_id against component labels (|labels| ≪ corpus),
    and the survivor choice is a per-component window (partition size =
    component size, diameter-bounded by the same LSH cap)."""
    from pyspark.sql import Window as W

    from .dedup import corpus_components

    docs = T(spark, sf_dir, "documents")
    comp = corpus_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("component").alias("component")
    )
    quality = docs.select(
        "doc_id",
        "n_chars",
        F.length(F.regexp_replace("text", "[^a-z ]", "")).alias("n_clean"),
    )
    assigned = quality.join(comp, "doc_id", "left").withColumn(
        "component_id", F.coalesce("component", "doc_id")
    )
    w = W.partitionBy("component_id")
    wo = w.orderBy(F.col("n_clean").desc(), F.col("n_chars").desc(), "doc_id")
    return assigned.select(
        "doc_id",
        "component_id",
        F.count("*").over(w).cast("bigint").alias("component_size"),
        F.first("doc_id").over(wo).alias("keep_id"),
        (F.first("doc_id").over(wo) != F.col("doc_id")).alias("is_pruned"),
    ).orderBy("doc_id")

"""Text-analysis queries over `documents` (LLM-data-pipeline extension):
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure built-in string functions — at 100 TB these are embarrassingly
parallel projections with zero shuffle (except the final aggregates), and
they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import md5_quarter
from .helpers import T
from .registry import query


@query(
    "text_token_stats",
    oracle="""
SELECT doc_id,
       length(text) AS n_chars_actual,
       len(string_split(text, ' ')) AS n_tokens,
       length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
       length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
       CAST(length(text) = n_chars AS BOOLEAN) AS n_chars_consistent
FROM documents
ORDER BY doc_id
""",
    tags=("text", "tokens"),
)
def text_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer) + character-class counts; also
    cross-checks the fixture's n_chars metadata column against the data.
    """
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digits"),
        (F.length("text") == F.col("n_chars")).alias("n_chars_consistent"),
    ).orderBy("doc_id")


@query(
    "text_quality_score",
    oracle="""
WITH m AS (
  SELECT doc_id,
         length(text) AS n,
         len(string_split(text, ' ')) AS n_tokens,
         length(regexp_replace(text, '[^a-z ]', '', 'g')) AS n_clean,
         (length(text) - length(replace(text, ' the ', ''))) // 5 AS n_stop
  FROM documents
)
SELECT doc_id,
       CAST(n_clean AS DOUBLE) / n AS clean_ratio,
       CAST(n AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CASE WHEN n_tokens >= 20 AND CAST(n_clean AS DOUBLE) / n > 0.8 THEN 'keep'
            WHEN n_tokens >= 5 THEN 'review' ELSE 'drop' END AS quality_bucket
FROM m
ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def text_quality_score(spark, sf_dir):
    """Quality scoring: length / punctuation / stopword ratios feeding a
    keep/review/drop bucket — the classic pre-training filter shape. All
    ratios are integer-count divisions (bit-identical across engines).
    """
    d = T(spark, sf_dir, "documents")
    n = F.length("text")
    n_tokens = F.size(F.split("text", " "))
    n_clean = F.length(F.regexp_replace("text", "[^a-z ]", ""))
    n_stop = ((F.length("text") - F.length(F.expr("replace(text, ' the ', '')"))) / 5).cast("long")
    m = d.select(
        "doc_id",
        n.alias("n"),
        n_tokens.alias("n_tokens"),
        n_clean.alias("n_clean"),
        n_stop.alias("n_stop"),
    )
    clean_ratio = F.col("n_clean").cast("double") / F.col("n")
    return m.select(
        "doc_id",
        clean_ratio.alias("clean_ratio"),
        (F.col("n").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stopword_ratio"),
        F.when((F.col("n_tokens") >= 20) & (clean_ratio > 0.8), "keep")
        .when(F.col("n_tokens") >= 5, "review")
        .otherwise("drop")
        .alias("quality_bucket"),
    ).orderBy("doc_id")


def _occurrences(term: str) -> str:
    """SQL fragment: occurrence count of `term` in text (portable:
    length-difference // term length)."""
    return f"(length(text) - length(replace(text, '{term}', ''))) // {len(term)}"


_LANG_VOTES = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de "],
    "de": [" der ", " und ", " die "],
}


def _lang_id_sql() -> str:
    votes = {
        lang: " + ".join(_occurrences(t) for t in terms) for lang, terms in _LANG_VOTES.items()
    }
    return f"""
SELECT doc_id, lang,
       CAST({votes['en']} AS BIGINT) AS votes_en,
       CAST({votes['es']} AS BIGINT) AS votes_es,
       CAST({votes['de']} AS BIGINT) AS votes_de,
       CASE
         WHEN {votes['en']} > {votes['es']} AND {votes['en']} > {votes['de']} THEN 'en'
         WHEN {votes['es']} > {votes['en']} AND {votes['es']} > {votes['de']} THEN 'es'
         WHEN {votes['de']} > {votes['en']} AND {votes['de']} > {votes['es']} THEN 'de'
         ELSE 'und'
       END AS predicted_lang
FROM documents
ORDER BY doc_id
"""


@query("lang_id_heuristic", oracle=_lang_id_sql(), tags=("text", "langid"))
def lang_id_heuristic(spark, sf_dir):
    """Language-ID by stopword-vote heuristic (n-gram occurrence counting
    via length-difference — no regex in the hot path, no UDF). Emits the
    per-language votes and an argmax with 'und' on ties.
    """
    d = T(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    # DuckDB `//` is integer division; Spark's is `div`.
    return spark.sql(_lang_id_sql().replace("//", "div"))


@query(
    "doc_fingerprints",
    oracle="""
SELECT doc_id,
       substr(md5(lower(text)), 1, 16) AS fingerprint,
       md5(substr(text, 1, 64)) AS head_hash,
       md5(substr(text, greatest(length(text) - 63, 1), 64)) AS tail_hash
FROM documents
ORDER BY doc_id
""",
    tags=("text", "fingerprint"),
)
def doc_fingerprints(spark, sf_dir):
    """Document fingerprinting: normalized-content digest prefix plus
    head/tail block hashes (the cheap rolling-hash stand-in for chunk-level
    identity at scale)."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring(F.md5(F.lower(F.col("text"))), 1, 16).alias("fingerprint"),
        F.md5(F.substring("text", 1, 64)).alias("head_hash"),
        F.md5(F.expr("substr(text, greatest(length(text) - 63, 1), 64)")).alias("tail_hash"),
    ).orderBy("doc_id")


@query(
    "bpe_token_stats",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(CAST(length(text) AS DOUBLE)
             / len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')), 6)
         AS chars_per_token
FROM documents
ORDER BY doc_id
""",
    tags=("text", "tokens", "bpe"),
)
def bpe_token_stats(spark, sf_dir):
    """BPE-style token counting: a GPT-2-ish pre-tokenizer regex
    (space-prefixed letter runs | digit runs | punctuation runs | residual
    whitespace) counts the units a byte-pair encoder would start from —
    the standard fast token-budget estimator for training-data sizing.
    Pure codegen regexp_extract_all; chars_per_token is the usual
    compression diagnostic. Whitespace-split counts sit alongside for
    comparison."""
    docs = T(spark, sf_dir, "documents")
    pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"
    n_bpe = F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).cast("bigint")
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(F.length("text").cast("double") / n_bpe, 6).alias("chars_per_token"),
    ).orderBy("doc_id")


@query(
    "stratified_sample_documents",
    oracle=f"""
WITH marked AS (
  SELECT lang, {md5_quarter("CAST(doc_id AS STRING)", oracle=True)} AS sampled
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE sampled) AS BIGINT) AS n_sampled,
       round(CAST(count(*) FILTER (WHERE sampled) AS DOUBLE) / count(*), 6) AS sample_rate
FROM marked
GROUP BY lang
ORDER BY lang
""",
    tags=("text", "sampling", "llm"),
)
def stratified_sample_documents(spark, sf_dir):
    """Deterministic stratified sampling — the training-data mixing
    primitive. Membership is a pure function of the row key (first md5
    hex nibble in 0-3 → ~25% expected rate), so the sample is stable
    across runs, engines, partitionings, and retries — unlike
    df.sample(), whose output depends on partition layout. Per-stratum
    (lang) realized rates are reported; at scale this is a map-only
    filter with a small aggregate."""
    docs = T(spark, sf_dir, "documents")
    sampled = F.expr(md5_quarter("CAST(doc_id AS STRING)"))
    return (
        docs.select("lang", sampled.alias("sampled"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("sampled"), 1)).alias("n_sampled"),
            F.round(
                F.count(F.when(F.col("sampled"), 1)).cast("double") / F.count("*"), 6
            ).alias("sample_rate"),
        )
        .orderBy("lang")
    )


@query(
    "corpus_curation_pipeline",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         md5(text) AS digest,
         (len(string_split(text, ' ')) >= 20
          AND CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
              / length(text) > 0.8) AS is_keep
  FROM documents
),
flagged AS (
  SELECT *, row_number() OVER (PARTITION BY is_keep, digest ORDER BY doc_id) AS rn
  FROM scored
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE is_keep) AS BIGINT) AS n_keep,
       CAST(count(*) FILTER (WHERE is_keep AND rn = 1) AS BIGINT) AS n_canonical,
       CAST(coalesce(sum(n_tokens) FILTER (WHERE is_keep AND rn = 1), 0) AS BIGINT)
         AS tokens_kept
FROM flagged
GROUP BY lang
ORDER BY lang
""",
    tags=("text", "quality", "dedup", "pipeline", "llm"),
)
def corpus_curation_pipeline(spark, sf_dir):
    """The end-to-end corpus-curation composition — quality gate →
    exact dedup → per-language yield accounting — in ONE plan: the shape
    every pre-training data pipeline runs nightly. One scan computes the
    quality flag and content digest; one window picks the canonical doc
    per (flag, digest); one aggregate reports per-language docs in /
    quality-kept / post-dedup / token yield. Two shuffles total (window +
    final group) regardless of corpus size."""
    from pyspark.sql import Window as W

    docs = T(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    clean_ratio = (
        F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double") / F.length("text")
    )
    scored = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.md5("text").alias("digest"),
        ((n_tokens >= 20) & (clean_ratio > 0.8)).alias("is_keep"),
    )
    w = W.partitionBy("is_keep", "digest").orderBy("doc_id")
    flagged = scored.withColumn("rn", F.row_number().over(w))
    kept = F.col("is_keep")
    canon = kept & (F.col("rn") == 1)
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_keep"),
            F.count(F.when(canon, 1)).alias("n_canonical"),
            F.coalesce(F.sum(F.when(canon, F.col("n_tokens"))), F.lit(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .orderBy("lang")
    )


@query(
    "distinctive_terms_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, lower(t) AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df, CAST(t.tf AS DOUBLE) / d.df AS score
  FROM tf t JOIN df d ON t.term = d.term
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tf, df, score
FROM ranked WHERE rn <= 3
ORDER BY doc_id, score DESC, term
""",
    tags=("text", "tfidf", "topk"),
)
def distinctive_terms_topk(spark, sf_dir):
    """TF-IDF-style distinctive-term extraction: per-document top-3 terms
    by term-frequency / document-frequency ratio (a log-free IDF variant
    whose single IEEE division is bit-identical across engines — ln() is
    not). Two aggregates shuffle on (doc_id, term) and (term); the
    corpus-wide DF table joins back on term so both sides share the term
    partitioning; the top-k window partitions by doc_id with a
    deterministic (score, term) tie-break. At 100 TB this is the standard
    two-pass distributed TF-IDF with no driver-side state."""
    toks = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .select("doc_id", F.lower("t").alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "term").select(
        "doc_id", "term", "tf", "df",
        (F.col("tf").cast("double") / F.col("df")).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
        .orderBy("doc_id", F.desc("score"), "term")
    )


@query(
    "token_gini_concentration",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tkn FROM documents
),
c AS (
  SELECT source, tkn, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE tkn <> '' GROUP BY source, tkn
),
agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c * c) AS BIGINT) AS sum_sq
  FROM c GROUP BY source
)
SELECT source, n_tokens, n_distinct, sum_sq,
       1.0 - CAST(sum_sq AS DOUBLE) / (n_tokens * n_tokens) AS gini
FROM agg
ORDER BY source
""",
    tags=("text", "quality", "diversity", "gini", "llm"),
)
def token_gini_concentration(spark, sf_dir):
    """Per-source vocabulary concentration as Gini impurity
    1 − Σp² — the log-free diversity signal (Shannon entropy needs ln(),
    which the house determinism rules ban; Gini is a RATIONAL of exact
    BIGINT counts: Σc² over N², one IEEE division at report time). Low
    gini = the source's token mass concentrates in few types (template/
    boilerplate smell — the corpus-level cousin of the per-doc
    repetition gates); alongside n_distinct it gives the type-token
    view a mixture designer reads with `source_overlap_matrix`.

    Scale: one token explode into a (source, token)-keyed count
    (map-side combinable), then a source-keyed fold of three BIGINTs —
    output one row per source at any corpus."""
    tok = (
        T(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tkn"))
        .filter(F.col("tkn") != "")
    )
    c = tok.groupBy("source", "tkn").agg(F.count("*").cast("bigint").alias("c"))
    return (
        c.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            "sum_sq",
            (
                F.lit(1.0)
                - F.col("sum_sq").cast("double")
                / (F.col("n_tokens") * F.col("n_tokens"))
            ).alias("gini"),
        )
        .orderBy("source")
    )

"""Stored postings (inverted) index — the FOURTH index lifecycle, for
ranked retrieval: write / search / append / retire over (term, doc_id,
tf, dl) postings bucketed on term. `bm25_topk_retrieval`
(plans/retrieval.py) scores a query by scanning the corpus; a search
deployment cannot re-scan 100 TB per query — it stores the postings
once and reads only the query terms' lists. Bucketing on term gives the
probe BUCKET PRUNING: an IN filter over k query terms reads at most k
of the bucket files (machine-pinned via SelectedBucketsCount in
tests/test_postings_index.py), so per-query IO is postings-of-the-
query-terms, independent of corpus size.

Companion table `{table}_docs` holds (doc_id, dl) — the document-length
side of BM25's normalization and the source of the corpus scalars
(N, total length), kept consistent by every mutation, so scores after
an append or retire use LIVE statistics (contrast the IVF tier, whose
centroids are deliberately frozen — a quantizer is a model, corpus
counts are not).

Impact truncation (Anh & Moffat): each term keeps at most
``max_postings_per_term`` entries ranked by (tf DESC, doc_id) — the
high-impact prefix of the list. A stop-word's corpus-sized postings
list is exactly the content BM25's idf already discounts to nothing,
so the cap bounds storage and probe fan-out the way the LSH hot-bucket
cap does, with the same observability argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpoints import ckpt_local
from .layout import rewrite_index

# the BM25 integer rationalization shared with plans/retrieval.py
# (k1 = 1.2, b = 0.75; log-free rational idf) — same formula text so the
# operator-vs-query equivalence test can be exact
_TF_NUM = "CAST(22 * tf * s AS DOUBLE)"
_TF_DEN = "CAST(10 * tf * s + 3 * s + 9 * dl * n AS DOUBLE)"
_IDF_NUM = "CAST(2 * n - 2 * df + 1 AS DOUBLE)"
_IDF_DEN = "CAST(2 * df + 1 AS DOUBLE)"
_CONTRIB = f"({_TF_NUM} / {_TF_DEN}) * ({_IDF_NUM} / {_IDF_DEN})"


def _postings_rows(docs: DataFrame) -> DataFrame:
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("dl"),
        F.split("text", " ").alias("w"),
    )
    return (
        d.select("doc_id", "dl", F.explode("w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.max("dl").alias("dl"), F.count("*").cast("bigint").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def write_postings_index(
    docs: DataFrame,
    table: str,
    buckets: int = 16,
    max_postings_per_term: int = 100000,
    path: str | None = None,
) -> None:
    """Materialize the impact-truncated postings, bucketed on term, plus
    the `{table}_docs` (doc_id, dl) companion."""
    spark = docs.sparkSession
    rows = _postings_rows(docs)
    w = Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    capped = (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_postings_per_term)
        .select("term", "doc_id", "tf", "dl")
    )
    writer = (
        capped.write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, "term")
        .sortBy("term", "doc_id")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    dw = (
        docs.select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl"))
        .write.format("parquet")
        .mode("overwrite")
    )
    if path is not None:
        dw = dw.option("path", path + "_docs")
    dw.saveAsTable(f"{table}_docs")


def bm25_search(spark, terms: tuple[str, ...], table: str, k: int = 10) -> DataFrame:
    """Score ``terms`` against the STORED index: read only the query
    terms' postings (bucket-pruned IN filter), df per term from those
    postings, corpus scalars from the live `{table}_docs` aggregate,
    then the exact integer-rationalized BM25 sum in DECIMAL(38,6) —
    identical arithmetic to `bm25_topk_retrieval`, so on an index built
    from the full corpus the two are row-for-row equal (pytest-pinned).
    """
    if not terms:
        raise ValueError("bm25_search requires at least one query term")
    # parameterized isin (still bucket-prunable) — terms are caller input,
    # never spliced into SQL text
    post = spark.table(table).filter(F.col("term").isin(list(terms)))
    # Spark's autoBucketedScan DISABLES the bucketed read when no join /
    # aggregate wants the bucket partitioning — which also forfeits
    # bucket FILTER pruning, the entire point of this probe (measured:
    # plain FileScan reads all buckets; bucketed scan reads <= |terms|,
    # "SelectedBucketsCount: k out of N"). The postings frame is
    # materialized EAGERLY (ckpt) so the toggle can be scoped to this
    # one scan and restored immediately.
    old = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        # read twice afterwards (df aggregate + scoring); query-sized and
        # recomputable, probed per standing-query epoch -> local cut
        post = ckpt_local(post)
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", old
        )
    stats = spark.table(f"{table}_docs").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("s"),
    )
    idf = post.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    return (
        post.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_matched"),
            F.round(F.sum(F.expr(_CONTRIB).cast("decimal(38,6)")), 6)
            .cast("double")
            .alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
    )


def append_to_postings_index(
    spark,
    docs: DataFrame,
    table: str,
    max_postings_per_term: int = 100000,
) -> None:
    """Add a batch without a rebuild: idempotent on doc_id (a doc already
    in `{table}_docs` contributes nothing), postings appended through
    ``insertInto`` under the stored bucketing, `{table}_docs` appended
    so the NEXT search's corpus scalars and idf see the batch — live
    statistics, the opposite trade from the IVF tier's frozen
    centroids. The per-term impact cap is
    honored against remaining capacity (earlier ingests win), the band
    index's induction argument.

    Each of the two appends is INDIVIDUALLY idempotent, so a crash
    between them replays cleanly: the postings append anti-joins the
    batch against stored (term, doc_id) keys before writing, and the
    docs append recomputes its anti-join against `{table}_docs`
    immediately before writing (never the pre-postings snapshot). A
    replay after a postings-only commit appends zero new postings rows
    and exactly the missing docs rows."""
    # batch-sized, recomputable, appended per streaming epoch -> local cut
    fresh_docs = ckpt_local(
        docs.join(spark.table(f"{table}_docs").select("doc_id"), ["doc_id"], "left_anti")
    )
    rows = _postings_rows(fresh_docs)
    stored = spark.table(table)
    # postings-side idempotence: (term, doc_id) keys already stored — e.g.
    # by a crashed run that committed postings but not docs — drop here,
    # BEFORE capacity ranking, so a replay appends nothing and burns no cap.
    # The stored side is first semi-filtered to the BATCH'S terms via a
    # broadcast (term is also the bucket key), so the anti-join's right
    # side is batch-term-sized — not a corpus-sized scan+shuffle per
    # micro-batch (review r12, the same fix as the IVF append's semi-filter)
    batch_terms = F.broadcast(rows.select("term").distinct())
    stored_keys = stored.join(batch_terms, ["term"], "left_semi").select("term", "doc_id")
    rows = rows.join(stored_keys, ["term", "doc_id"], "left_anti")
    # capacity counts likewise only matter for the batch's terms — the
    # left join below keys on rows.term, so non-batch terms in `existing`
    # would be dead weight shuffled for nothing
    existing = (
        stored.join(batch_terms, ["term"], "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_existing"))
    )
    w = Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    capped = (
        rows.join(existing, ["term"], "left")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= max_postings_per_term - F.coalesce(F.col("n_existing"), F.lit(0))
        )
    )
    capped.select(*stored.columns).write.insertInto(table)
    # docs-side idempotence: recompute the anti-join NOW (not the
    # fresh_docs snapshot taken before the postings append) so a replay
    # that already committed docs appends nothing. No coalesce(1): the
    # corpus-wide (doc_id, dl) table must not funnel through one task.
    (
        docs.select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl"))
        .join(spark.table(f"{table}_docs").select("doc_id"), ["doc_id"], "left_anti")
        .write.insertInto(f"{table}_docs")
    )


def retire_from_postings_index(spark, table: str, retired: DataFrame) -> None:
    """Retention: retired documents leave both the postings and the
    ``{table}_docs`` companion (ghost postings inflate df and decay
    ranking quality; ghost doc rows corrupt N/avgdl) — two in-place
    ``rewrite_index`` passes, which also compact the appended files."""
    rewrite_index(spark, table, retired)
    rewrite_index(spark, f"{table}_docs", retired)

"""Stored postings-index lifecycle (operators/postings.py): the search
tier's write / search / append / retire, pinned three ways — exact
operator-vs-query equivalence with `bm25_topk_retrieval`, bucket
pruning on the probe scan, and live-statistics semantics across
appends and retirement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_auto_spark.operators import postings as P
from data_ingestion_auto_spark.plans.retrieval import _BM25_TERMS


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return [(r.doc_id, r.n_terms_matched, r.bm25) for r in df.collect()]


def test_search_equals_corpus_scan_query(spark, sf_dir, tmp_path):
    """An index built from the full corpus must reproduce
    `bm25_topk_retrieval` row-for-row — same rationalized arithmetic,
    same DECIMAL summation, same tie-breaks."""
    from data_ingestion_auto_spark import plans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS t_post_idx")
    spark.sql("DROP TABLE IF EXISTS t_post_idx_docs")
    P.write_postings_index(docs, "t_post_idx", buckets=8, path=str(tmp_path / "pi"))
    got = _rows(P.bm25_search(spark, _BM25_TERMS, "t_post_idx", k=10))
    want = _rows(plans.REGISTRY["bm25_topk_retrieval"].spark(spark, sf_dir))
    assert got == want
    assert len(got) == 10


def test_probe_scan_is_bucket_pruned(spark, sf_dir, tmp_path):
    """The IN filter over query terms must prune the bucketed scan to at
    most |terms| of the 8 buckets — per-query IO independent of the
    vocabulary outside the query."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS t_post_idx_b")
    spark.sql("DROP TABLE IF EXISTS t_post_idx_b_docs")
    P.write_postings_index(docs, "t_post_idx_b", buckets=8, path=str(tmp_path / "pb"))
    # the probe scan under the conf bm25_search scopes around its eager
    # materialization: bucketed read + filter pruning to <= |terms|
    # buckets (with the default autoBucketedScan the same scan reads
    # ALL buckets as a plain FileScan — the conf toggle is load-bearing)
    terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    scan = spark.table("t_post_idx_b").filter(F.expr(f"term IN ({terms_sql})"))
    assert "SelectedBucketsCount" not in _plan(scan)  # the default loses pruning
    old = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        p = _plan(
            spark.table("t_post_idx_b").filter(F.expr(f"term IN ({terms_sql})"))
        )
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", old)
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", p)
    assert m, p
    assert int(m.group(1)) <= len(_BM25_TERMS)
    assert int(m.group(2)) == 8


def test_append_live_stats_and_idempotence(spark, sf_dir, tmp_path):
    """Appending a batch: its docs join the ranking, corpus scalars and
    idf move (live statistics — scores CHANGE, unlike the frozen IVF
    quantizer), and re-appending is an exact no-op on both tables."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    corpus = docs.filter(~nib.isin("0", "1", "2", "3")).localCheckpoint()
    batch = docs.filter(nib.isin("0", "1", "2", "3")).localCheckpoint()

    spark.sql("DROP TABLE IF EXISTS t_post_idx_a")
    spark.sql("DROP TABLE IF EXISTS t_post_idx_a_docs")
    P.write_postings_index(corpus, "t_post_idx_a", buckets=8, path=str(tmp_path / "pa"))
    before = _rows(P.bm25_search(spark, _BM25_TERMS, "t_post_idx_a", k=10))
    n_docs0 = spark.table("t_post_idx_a_docs").count()

    P.append_to_postings_index(spark, batch, "t_post_idx_a")
    assert spark.table("t_post_idx_a_docs").count() == n_docs0 + batch.count()
    after = _rows(P.bm25_search(spark, _BM25_TERMS, "t_post_idx_a", k=10))
    batch_ids = {r.doc_id for r in batch.collect()}
    # the full-corpus equivalence transfers: post-append search == the
    # corpus-scan query on ALL docs
    from data_ingestion_auto_spark import plans

    want = _rows(plans.REGISTRY["bm25_topk_retrieval"].spark(spark, sf_dir))
    assert after == want
    assert after != before  # live stats: the ranking genuinely moved

    n_post = spark.table("t_post_idx_a").count()
    P.append_to_postings_index(spark, batch, "t_post_idx_a")
    assert spark.table("t_post_idx_a").count() == n_post
    assert spark.table("t_post_idx_a_docs").count() == n_docs0 + batch.count()

    # retire the appended batch: search returns to the corpus-only
    # ranking (postings, df, N and avgdl all restored)
    P.retire_from_postings_index(spark, "t_post_idx_a", batch.select("doc_id"))
    restored = _rows(P.bm25_search(spark, _BM25_TERMS, "t_post_idx_a", k=10))
    assert restored == before
    assert not batch_ids & {d for d, _, _ in restored}


def test_crash_between_appends_replays_exactly_once(spark, sf_dir, tmp_path):
    """ADVICE r10 (postings.py:162): a crash AFTER the postings append
    but BEFORE the docs append must replay cleanly — the retried
    append_to_postings_index appends zero duplicate postings (each write
    is individually idempotent) and exactly the missing docs rows, so
    the final index is byte-identical to a never-crashed append."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    corpus = docs.filter(~nib.isin("0", "1")).localCheckpoint()
    batch = docs.filter(nib.isin("0", "1")).localCheckpoint()

    # control: the clean, never-crashed append
    spark.sql("DROP TABLE IF EXISTS t_post_ctl")
    spark.sql("DROP TABLE IF EXISTS t_post_ctl_docs")
    P.write_postings_index(corpus, "t_post_ctl", buckets=8, path=str(tmp_path / "ctl"))
    P.append_to_postings_index(spark, batch, "t_post_ctl")

    # crashed run: simulate the first write committing and the second not
    spark.sql("DROP TABLE IF EXISTS t_post_crash")
    spark.sql("DROP TABLE IF EXISTS t_post_crash_docs")
    P.write_postings_index(
        corpus, "t_post_crash", buckets=8, path=str(tmp_path / "crash")
    )
    (
        P._postings_rows(batch)
        .write.format("parquet")
        .mode("append")
        .bucketBy(8, "term")
        .sortBy("term", "doc_id")
        .saveAsTable("t_post_crash")
    )
    # ... crash: t_post_crash_docs never updated. foreachBatch replays:
    P.append_to_postings_index(spark, batch, "t_post_crash")

    key = lambda t: sorted(
        map(tuple, spark.table(t).select("term", "doc_id", "tf", "dl").collect())
    )
    assert key("t_post_crash") == key("t_post_ctl")  # no duplicated postings
    dkey = lambda t: sorted(map(tuple, spark.table(t).collect()))
    assert dkey("t_post_crash_docs") == dkey("t_post_ctl_docs")
    # and the replayed index SCORES identically (df/tf uninflated)
    assert _rows(P.bm25_search(spark, _BM25_TERMS, "t_post_crash", k=10)) == _rows(
        P.bm25_search(spark, _BM25_TERMS, "t_post_ctl", k=10)
    )


def test_bm25_search_rejects_empty_terms(spark):
    with pytest.raises(ValueError, match="at least one query term"):
        P.bm25_search(spark, (), "t_whatever")


def test_impact_cap_truncates_to_high_tf_prefix(spark, tmp_path):
    """max_postings_per_term = 2: only each term's two highest-tf docs
    survive the write — the Anh–Moffat impact-ordered prefix."""
    docs = spark.createDataFrame(
        [
            (1, "x x x x y"),
            (2, "x x x z"),
            (3, "x x w"),
            (4, "x q"),
        ],
        "doc_id long, text string",
    )
    spark.sql("DROP TABLE IF EXISTS t_post_cap")
    spark.sql("DROP TABLE IF EXISTS t_post_cap_docs")
    P.write_postings_index(
        docs, "t_post_cap", buckets=2, max_postings_per_term=2,
        path=str(tmp_path / "pc"),
    )
    x_docs = sorted(
        r.doc_id for r in spark.table("t_post_cap").filter("term = 'x'").collect()
    )
    assert x_docs == [1, 2]  # tf 4 and 3 beat tf 2 and 1

"""Round-13 fixes for the four r12 ADVICE findings:

1. streaming/incremental._parse_watermark treats unusable stored state
   (legacy 'None', type changes, tz-aware vs naive) as ABSENT instead of
   raising inside foreachBatch and dead-locking the stream; Decimal and
   other constructible types parse via the sample's constructor.
2. bench._clear_memos / tools.soak --cold scope the cold-clear to the
   current corpus key instead of bulk-deleting every spark_graft_* entry
   in the shared memo root.
3. plans/dedup.publish_once removes its private .building-<uuid> dir
   when the build raises, not only on the rename-race path.
4. bench memo_builds sums duplicate memo names instead of
   last-write-wins.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest

from data_ingestion_auto_spark.streaming.incremental import _parse_watermark


def test_parse_watermark_decimal_parses_in_domain():
    sample = decimal.Decimal("10.5")
    assert _parse_watermark("9.25", sample) == decimal.Decimal("9.25")
    # and the classic lexicographic trap stays closed for Decimal too
    assert _parse_watermark("9", decimal.Decimal("10")) < decimal.Decimal("10")


def test_parse_watermark_unusable_state_is_absent_not_fatal():
    # legacy literal 'None' committed by the pre-r12 code against an int key
    assert _parse_watermark("None", 10) is None
    # garbage against a date key
    assert _parse_watermark("not-a-date", dt.date(2024, 1, 2)) is None
    # tz-aware batch vs naive stored state: comparison would raise
    aware = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    assert _parse_watermark("2024-01-01T00:00:00", aware) is None
    # unparseable Decimal
    assert _parse_watermark("None", decimal.Decimal("1")) is None


def test_parse_watermark_happy_paths_unchanged():
    assert _parse_watermark("9", 10) == 9
    assert _parse_watermark("1.5", 2.0) == 1.5
    assert _parse_watermark("2024-01-01", dt.date(2024, 1, 2)) == dt.date(2024, 1, 1)
    assert _parse_watermark("abc", "abd") == "abc"
    assert (
        _parse_watermark("2024-01-01T03:00:00", dt.datetime(2024, 1, 2))
        == dt.datetime(2024, 1, 1, 3)
    )


def test_clear_memos_scoped_to_corpus(tmp_path, monkeypatch):
    """--cold must only drop THIS corpus's memos: the memo root is a
    shared filesystem on the documented deployment and another live
    driver's memos must survive."""
    import bench

    root = tmp_path / "memo"
    root.mkdir()
    mine = root / "spark_graft_sig_sf0.1_v1_abc123"
    other_corpus = root / "spark_graft_sig_sf1_v1_def456"
    unrelated = root / "someone_elses_dir"
    for d in (mine, other_corpus, unrelated):
        d.mkdir()
        (d / "_SUCCESS").touch()
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(root))

    n = bench._clear_memos("/root/testdata/sf0.1")
    assert n == 1
    assert not mine.exists()
    assert other_corpus.exists()
    assert unrelated.exists()


@pytest.mark.parametrize("kind", ["parquet", "files"])
def test_failed_memo_build_cleans_private_dir(spark, tmp_path, monkeypatch, kind):
    """A build that raises mid-way must not leak its corpus-sized
    .building-<uuid> dir into the shared memo root; the next attempt
    builds clean. Covers a parquet `_corpus_memo` and a `publish_once`
    writer that writes plain files."""
    from tests.test_corpus_memo import publish_kind

    memo_root = tmp_path / "memo"
    memo_root.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(memo_root))
    sf = tmp_path / "sfX"
    sf.mkdir()
    spark.createDataFrame(
        [(1, "aa")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))

    def fail():
        raise RuntimeError("simulated mid-build failure")

    with pytest.raises(RuntimeError):
        publish_kind(kind, spark, str(sf), "tleak", fail)
    leftovers = [e for e in os.listdir(memo_root) if ".building-" in e]
    assert leftovers == []

    # recovery: a later good build publishes normally
    got = publish_kind(kind, spark, str(sf), "tleak")
    assert os.listdir(memo_root) == [os.path.basename(got)]
    if kind == "parquet":
        assert [(r.doc_id, r.text) for r in spark.read.parquet(got).collect()] == [(1, "aa")]
    else:
        assert sorted(e for e in os.listdir(got) if e.startswith("part-")) == [
            f"part-{i}.txt" for i in range(4)
        ]


def test_memo_build_log_sums_duplicate_names():
    """bench memo_builds accounting: duplicate names (rebuild after a
    mid-run clear, same-name build for a second corpus) must SUM."""
    log = [("sig", 1.0), ("pairs", 2.0), ("sig", 3.5)]
    memo_builds: dict = {}
    for n, t in log:
        memo_builds[n] = round(memo_builds.get(n, 0.0) + t, 3)
    assert memo_builds == {"sig": 4.5, "pairs": 2.0}

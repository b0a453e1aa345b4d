"""The memo tier's own contract (data_ingestion_auto_spark/memo.py): the
key and its matcher, the corpus-scoped cold-clear, the per-thread build
log and its per-name sums, and the cleanup of a failed build. Staleness
and publication live in test_corpus_memo.py, corpus appends in
test_memo_append.py."""

from __future__ import annotations

import os

import pytest

from data_ingestion_auto_spark import memo

# a stand-in source file set: the key only sees (relpath, size, mtime_ns)
_ENTRIES = [("part-00000.parquet", 1234, 1_700_000_000_000_000_000)]


def test_key_matches_only_its_own_corpus_and_name():
    key = memo.memo_key("kml_full_k4i2_assign", "/data/sf0.1/", _ENTRIES)
    fp = memo.match_key(key, "/data/sf0.1")
    assert fp is not None and key == f"spark_graft_kml_full_k4i2_assign_sf0.1_v1_{fp}"
    assert memo.match_key(key, "/data/sf0.1", "kml_full_k4i2_assign") == fp
    # corpus and name are whole fields, never substrings
    for corpus in ("full", "v1", "0.1", "sf0"):
        assert memo.match_key(key, f"/data/{corpus}") is None
    assert memo.match_key(key, "/data/sf0.1", "kml_full") is None
    # a private build dir is not a published memo
    assert memo.match_key(f"{key}.building-0123abcd", "/data/sf0.1") is None


@pytest.mark.parametrize("corpus", ["sf0.1", "full", "v1"])
def test_clear_memos_scoped_to_corpus(tmp_path, monkeypatch, corpus):
    """--cold must only drop THIS corpus's memos: the memo root is a
    shared filesystem on the documented deployment and another live
    driver's memos must survive — including memos whose NAME contains
    the corpus (``full`` is a real variant name) or whose version field
    equals it (``v1``)."""
    import bench

    root = tmp_path / "memo"
    root.mkdir()
    mine = root / memo.memo_key("sig", f"/data/{corpus}", _ENTRIES)
    other_corpus = [
        root / memo.memo_key(n, "/data/sf1", _ENTRIES)
        for n in ("sig", "kml_full_k4i2_assign", "kmh_aug_k6i2_fcents")
    ]
    unrelated = root / "someone_elses_dir"
    for d in (mine, *other_corpus, unrelated):
        d.mkdir()
        (d / "_SUCCESS").touch()
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(root))

    n = bench._clear_memos(f"/data/{corpus}")
    assert n == 1
    assert not mine.exists()
    assert all(d.exists() for d in other_corpus)
    assert unrelated.exists()


def test_clear_keeps_a_corpus_whose_name_ends_with_this_one(tmp_path, monkeypatch):
    """Corpora ``sf0.1`` and ``run_sf0.1`` share one memo root. The key
    of ``run_sf0.1``'s memo ``sig`` also parses as memo ``sig_run`` of
    ``sf0.1``, so the cold-clear of ``sf0.1`` goes by the corpus path
    each memo recorded at publication; a memo with no record (published
    before it existed) keeps the key match."""
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo"))
    corpora = [tmp_path / "d" / "sf0.1", tmp_path / "e" / "run_sf0.1"]
    for sf in corpora:
        sf.mkdir(parents=True)
        (sf / "documents.parquet").write_bytes(b"x")
    mine, theirs = (memo.publish_once(str(sf), "sig", lambda tmp: None) for sf in corpora)
    assert memo.match_key(os.path.basename(theirs), str(corpora[0])) is not None
    unrecorded = tmp_path / "memo" / memo.memo_key("sig", str(corpora[1]), _ENTRIES)
    unrecorded.mkdir()

    assert memo.clear_corpus(f"{corpora[0]}/") == 2
    assert not os.path.exists(mine) and not unrecorded.exists()
    assert os.path.exists(os.path.join(theirs, "_SUCCESS"))
    assert memo.clear_corpus(str(corpora[1])) == 1


@pytest.mark.parametrize("kind", ["parquet", "files"])
def test_failed_memo_build_cleans_private_dir(spark, tmp_path, monkeypatch, kind):
    """A build that raises mid-way must not leak its corpus-sized
    .building-<uuid> dir into the shared memo root; the next attempt
    builds clean. Covers a parquet `corpus_memo` and a `publish_once`
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
    memo_builds = memo.build_seconds(log)
    assert memo_builds == {"sig": 4.5, "pairs": 2.0}


def test_memo_build_log_is_per_thread(spark, tmp_path):
    """Two threads building DISTINCT memos concurrently must BOTH log as
    outermost builds (the old process-global depth counter would treat
    the second thread's build as nested and skip it), and a nested build
    inside one thread must still log only the outer frame."""
    import threading

    sf_dir = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    src = tmp_path / "sf" / "documents.parquet"
    spark.range(5).selectExpr("id AS doc_id", "'x' AS text").coalesce(1).write.parquet(
        str(src)
    )

    # save/restore rather than unconditional del (ADVICE r13): a
    # surrounding environment that set the memo dir must get its value
    # back, and later tests in this process must not see ours
    prior_memo_dir = os.environ.get("SPARK_GRAFT_CC_MEMO_DIR")
    os.environ["SPARK_GRAFT_CC_MEMO_DIR"] = str(tmp_path / "memos")
    before = len(memo.MEMO_BUILD_LOG)
    try:
        barrier = threading.Barrier(2)

        def build(name):
            def inner():
                barrier.wait(timeout=30)
                if name == "t13b_outer":
                    # nested build inside this thread: only the OUTER
                    # frame may log
                    memo.corpus_memo(
                        spark, sf_dir, "t13b_inner",
                        lambda: spark.range(2).toDF("v"),
                    )
                return spark.range(3).toDF("v")

            memo.corpus_memo(spark, sf_dir, name, inner)

        t1 = threading.Thread(target=build, args=("t13a",))
        t2 = threading.Thread(target=build, args=("t13b_outer",))
        t1.start(); t2.start(); t1.join(30); t2.join(30)
    finally:
        if prior_memo_dir is None:
            del os.environ["SPARK_GRAFT_CC_MEMO_DIR"]
        else:
            os.environ["SPARK_GRAFT_CC_MEMO_DIR"] = prior_memo_dir
    logged = dict(memo.MEMO_BUILD_LOG[before:])
    assert "t13a" in logged and "t13b_outer" in logged
    assert "t13b_inner" not in logged


def test_perfbench_reads_the_tier_log(spark, tmp_path, monkeypatch):
    """perfbench/ reads ``plans.dedup.MEMO_BUILD_LOG`` for its memo-free
    guard and its ``memo.builds`` count, and looks its cold chain up in
    `prebuild_chains` by the name ``sareps_direct``: a build through the
    tier must show up under the old name, and the chain must exist."""
    from data_ingestion_auto_spark.plans import dedup
    from data_ingestion_auto_spark.plans.memo_prebuild import prebuild_chains

    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo"))
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.range(3).selectExpr("id AS doc_id", "'x' AS text").coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    before = len(dedup.MEMO_BUILD_LOG)
    got = memo.corpus_memo(spark, str(sf), "tlog", lambda: spark.range(3).toDF("v"))
    assert got.count() == 3
    assert [n for n, _ in dedup.MEMO_BUILD_LOG[before:]] == ["tlog"]
    assert "sareps_direct" in dict(prebuild_chains(spark, str(sf)))

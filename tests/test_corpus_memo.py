"""Staleness + publication contract of `publish_once` (memo.py)
and its users, the `corpus_memo` tables and the built input fixtures:
the key carries the source table's file fingerprint, so a changed
corpus REBUILDS instead of serving stale values, and publication is
atomic via private build dirs."""

from __future__ import annotations

import os
import shutil
import threading
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from data_ingestion_auto_spark.memo import corpus_memo, publish_once


def _mini_sf(spark, tmp_path, name, rows):
    sf = tmp_path / name
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(sf / "documents.parquet"))
    return str(sf)


def test_changed_corpus_rebuilds_unchanged_corpus_reuses(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo"))
    os.makedirs(str(tmp_path / "memo"))
    sf = _mini_sf(spark, tmp_path, "sfA", [(1, "aa"), (2, "bb")])

    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", F.length("text").alias("n")
        )

    got = corpus_memo(spark, sf, "t1", build)
    assert sorted((r.doc_id, r.n) for r in got.collect()) == [(1, 2), (2, 2)]
    assert builds == [1]
    # unchanged corpus: second call reuses the published memo (no rebuild)
    corpus_memo(spark, sf, "t1", build).collect()
    assert builds == [1]

    # changed corpus (same directory name, new content → new fingerprint):
    # the memo MUST rebuild, not serve the stale two-row table
    src = f"{sf}/documents.parquet"
    spark.createDataFrame(
        [(1, "aaaa"), (2, "bb"), (3, "c")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src + ".new")
    shutil.rmtree(src)
    os.rename(src + ".new", src)
    got2 = corpus_memo(spark, sf, "t1", build)
    assert builds == [1, 1]
    assert sorted((r.doc_id, r.n) for r in got2.collect()) == [(1, 4), (2, 2), (3, 1)]


def test_same_second_same_size_regeneration_rebuilds(spark, tmp_path, monkeypatch):
    """Review r12: a corpus regenerated in place with EQUAL total bytes
    (content swapped between files, mtimes unchanged at second
    granularity) must still rebuild — the fingerprint hashes per-file
    (relpath, size, mtime_ns), not just totals."""
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo3"))
    os.makedirs(str(tmp_path / "memo3"))
    sf = _mini_sf(spark, tmp_path, "sfC", [(1, "ab"), (2, "cd")])
    src = f"{sf}/documents.parquet"

    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(src).select("doc_id", "text")

    first = {(r.doc_id, r.text) for r in corpus_memo(spark, sf, "t3", build).collect()}
    assert first == {(1, "ab"), (2, "cd")}
    # regenerate with the same row widths (≈ same bytes) and force every
    # file's mtime to a FIXED whole second so the old bytes+max-int-mtime
    # key could not distinguish the two corpora
    spark.createDataFrame(
        [(1, "xy"), (2, "zw")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src + ".new")
    shutil.rmtree(src)
    os.rename(src + ".new", src)
    stamp = int(os.stat(src).st_mtime) + 2
    for root, _, files in os.walk(src):
        for f in files:
            os.utime(os.path.join(root, f), (stamp, stamp))
    os.utime(src, (stamp, stamp))
    got2 = {(r.doc_id, r.text) for r in corpus_memo(spark, sf, "t3", build).collect()}
    assert builds == [1, 1]
    assert got2 == {(1, "xy"), (2, "zw")}


def test_ann_model_memo_matches_live_kmeans(spark, tmp_path, monkeypatch):
    """plans/ann_memo.py (round-12): the memoized kmeans_lite model is
    BIT-IDENTICAL to the live derivation (exact BIGINT k-means), and the
    second call serves the memo without retraining."""
    from data_ingestion_auto_spark.operators.ivf import kmeans_lite
    from data_ingestion_auto_spark.plans.ann_memo import kml_model

    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo4"))
    os.makedirs(str(tmp_path / "memo4"))
    sf = tmp_path / "sfD"
    sf.mkdir()
    rows = [(i, [float((i * 7 + d * 3) % 11) / 10 for d in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb.coalesce(1).write.mode("overwrite").parquet(str(sf / "embeddings.parquet"))

    trains = []

    def emb_builder():
        trains.append(1)
        return spark.read.parquet(str(sf / "embeddings.parquet"))

    assigned, cents = kml_model(spark, str(sf), "t", emb_builder, k=4)
    live_assigned, live_cents = kmeans_lite(
        spark.read.parquet(str(sf / "embeddings.parquet")), k=4, iters=2
    )
    memo = {(r.vec_id, r.cluster_id, tuple(r.qvec)) for r in assigned.collect()}
    live = {
        (r.vec_id, r.cluster_id, tuple(r.qvec))
        for r in live_assigned.select("vec_id", "qvec", "cluster_id").collect()
    }
    assert memo == live
    assert {(r.cluster_id, tuple(r.cvec)) for r in cents.collect()} == {
        (c, tuple(v)) for c, v in live_cents
    }
    n_trains = len(trains)
    assert n_trains >= 1
    a2, c2 = kml_model(spark, str(sf), "t", emb_builder, k=4)  # warm: no retrain
    a2.collect(), c2.collect()
    assert len(trains) == n_trains


def test_wide_memo_read_parallelism_guaranteed(spark, tmp_path, monkeypatch):
    """Round-12 soak catch, pinned: a memo built with ``partitions=N``
    must come BACK with ≥N partitions even though the files are tiny —
    AQE coalesces the build and maxPartitionBytes PACKS small files into
    one split, and a consumer whose join expands the memoized rows then
    runs the whole expansion in one task (incremental_ann_assign sat
    >12 min single-task at zipf-10× before the fix)."""
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo5"))
    os.makedirs(str(tmp_path / "memo5"))
    sf = _mini_sf(spark, tmp_path, "sfE", [(i, "x" * 10) for i in range(100)])
    n = spark.sparkContext.defaultParallelism

    def build():
        return spark.read.parquet(f"{sf}/documents.parquet")

    got = corpus_memo(spark, sf, "t5", build, partitions=n)
    assert got.rdd.getNumPartitions() >= n
    assert got.count() == 100
    # warm read honors the same guarantee
    again = corpus_memo(spark, sf, "t5", build, partitions=n)
    assert again.rdd.getNumPartitions() >= n
    # and a no-partitions memo keeps its natural (packed) layout
    plain = corpus_memo(spark, sf, "t5b", build)
    assert plain.count() == 100


def publish_kind(kind, spark, sf, name, build_hook=lambda: None) -> str:
    """Publish one artifact through a parquet `corpus_memo` ("parquet")
    or a plain-file `publish_once` writer ("files"); ``build_hook`` runs
    inside the build (for "files", after the files are written). Returns
    the published dir."""
    if kind == "parquet":

        def build():
            build_hook()
            return spark.read.parquet(f"{sf}/documents.parquet")

        df = corpus_memo(spark, sf, name, build)
        (root,) = {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}
        return root

    def write(tmp):
        for i in range(4):
            with open(os.path.join(tmp, f"part-{i}.txt"), "w") as f:
                f.write(f"{i}\n")
        build_hook()

    return publish_once(sf, name, write)


@pytest.mark.parametrize("racers", [1, 2])
@pytest.mark.parametrize("kind", ["parquet", "files"])
def test_publication_is_rename_atomic(spark, tmp_path, monkeypatch, kind, racers):
    """The published dir appears only complete (_SUCCESS inside); no
    shared '.building' path exists that a second builder could write
    into after a winner renames. With two racers, both build at once
    (they meet at a barrier inside the build): both callers get the
    same complete dir, and the loser's private dir is gone."""
    memo_root = str(tmp_path / "memo2")
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", memo_root)
    os.makedirs(memo_root)
    sf = _mini_sf(spark, tmp_path, "sfB", [(1, "x")])
    barrier = threading.Barrier(racers, timeout=60)
    got, errors = [], []

    def run():
        try:
            got.append(publish_kind(kind, spark, sf, "t2", barrier.wait))
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(racers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == racers and len(set(got)) == 1
    entries = os.listdir(memo_root)
    assert len(entries) == 1 and entries[0].startswith("spark_graft_t2_")
    assert got[0] == os.path.join(memo_root, entries[0])
    published = os.listdir(got[0])
    assert {"_SUCCESS", "_manifest.json"} <= set(published)
    if kind == "files":
        assert sorted(e for e in published if e.startswith("part-")) == [
            f"part-{i}.txt" for i in range(4)
        ]
    assert not [e for e in entries if ".building" in e]  # no shared tmp left


def _write_events(table, path, mtime_ns):
    """Plain-encoded, uncompressed parquet: adding 1.0 to a double column
    leaves the file size unchanged."""
    import pyarrow.parquet as pq

    pq.write_table(table, path, compression="none", use_dictionary=False)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def _regenerate(table: str, src: str) -> None:
    """Rewrite a source table in place. events: ``value + 1`` at equal
    bytes within the same whole second (what the old total-bytes +
    integer max-mtime key could not tell apart); documents and nation:
    the first half of the rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    if table == "events":
        second = int(os.stat(src).st_mtime)
        size = os.path.getsize(src)
        i = t.schema.get_field_index("value")
        t = t.set_column(i, "value", pc.add(t["value"], 1.0))
        _write_events(t, src, second * 10**9 + 700_000_000)
        assert os.path.getsize(src) == size
        assert int(os.stat(src).st_mtime) == second
    else:
        pq.write_table(t.slice(0, t.num_rows // 2), src)


@pytest.mark.parametrize(
    "module, builder, consumer, table",
    [
        ("binary_decode", "_ensure_sgb_fixture", "binary_grid_decode_roundtrip", "events"),
        ("binary_decode", "_ensure_grib2_fixture", "grib2_decode_roundtrip", "events"),
        ("binary_decode", "_ensure_grib2_bitmap_fixture", "grib2_bitmap_mask_stats", "events"),
        ("sources_ops", "_ensure_remote_corpus", "http_landing_roundtrip", "documents"),
        ("sources_ops", "_ensure_remote_messages", "byte_range_message_fetch", "nation"),
    ],
    ids=["sgb", "grib2", "grib2_bitmap", "remote_corpus", "remote_messages"],
)
def test_fixture_rebuilds_when_source_regenerated(
    spark, sf_dir, tmp_path, monkeypatch, module, builder, consumer, table
):
    """A built input fixture is keyed on its source table's fingerprint:
    regenerating that table in place must publish a NEW fixture, and the
    consuming query must then match its DuckDB oracle on the new table
    without writing into the published fixture."""
    import importlib

    import pyarrow.parquet as pq

    from data_ingestion_auto_spark.plans import REGISTRY
    from tools.parity import compare, duck_connection

    ensure = getattr(importlib.import_module(f"data_ingestion_auto_spark.plans.{module}"), builder)
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo"))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = str(sf / f"{table}.parquet")
    orig = os.path.join(sf_dir, f"{table}.parquet")
    if table == "events":
        _write_events(pq.read_table(orig), src, int(os.stat(orig).st_mtime) * 10**9 + 100_000_000)
    else:
        shutil.copy(orig, src)

    first = ensure(spark, str(sf))
    _regenerate(table, src)
    second = ensure(spark, str(sf))
    assert second != first
    published = sorted(os.walk(second))
    q = REGISTRY[consumer]
    errs = compare(
        consumer,
        q.spark(spark, str(sf)).toPandas(),
        duck_connection(str(sf)).execute(q.oracle).fetchdf(),
    )
    assert not errs, errs
    assert sorted(os.walk(second)) == published

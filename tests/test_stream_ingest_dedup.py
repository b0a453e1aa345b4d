"""Streaming closure of the stored-band-index lifecycle
(streaming/incremental.py::start_dedup_ingest_stream): micro-batches
probe the index, land assignments, and append themselves so later
batches dedup against earlier ones. Checked against a sequential
BATCH-mode control running the same probe/append loop, and replayed to
pin the at-least-once tolerance claims."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from data_ingestion_auto_spark.operators import dedup as D
from data_ingestion_auto_spark.streaming.incremental import start_dedup_ingest_stream


def _banded(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return D.band_signature(D.minhash_signature(D.shingles(docs))).localCheckpoint()


@pytest.fixture(scope="module")
def corpus_and_batches(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    corpus = [(r.doc_id, r.text) for r in docs.filter(~nib.isin("0", "1", "2", "3")).collect()]
    new = [(r.doc_id, r.text) for r in docs.filter(nib.isin("0", "1", "2", "3")).collect()]
    half = len(new) // 2
    return corpus, new[:half], new[half:]


def _run_stream(spark, tmp, corpus, batches, tag):
    idx = f"t_stream_idx_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    D.write_band_index(
        _banded(spark, corpus), idx, buckets=8, path=str(tmp / f"idx_{tag}")
    )
    src = tmp / f"src_{tag}"
    src.mkdir(exist_ok=True)
    for i, batch in enumerate(batches):
        f = src / f"b{i}"
        spark.createDataFrame(batch, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(f))
        # pin arrival order: the file source orders batches by mod time
        t = time.time() - 100 + i * 50
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (t, t))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = start_dedup_ingest_stream(
        spark,
        stream,
        idx,
        assign_path=str(tmp / f"assign_{tag}"),
        checkpoint=str(tmp / f"ckpt_{tag}"),
        buckets=8,
    )
    q.awaitTermination(300)
    return idx, str(tmp / f"assign_{tag}"), q


def _batch_control(spark, tmp, corpus, batches, tag):
    """The same loop, plain batch mode: probe then append, per batch."""
    idx = f"t_ctrl_idx_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    D.write_band_index(
        _banded(spark, corpus), idx, buckets=8, path=str(tmp / f"cidx_{tag}")
    )
    out = {}
    for batch in batches:
        banded = _banded(spark, batch)
        for r in D.probe_band_index(spark, banded, idx).collect():
            out[r.doc_id] = (r.dup_of, r.is_dup)
        D.write_band_index(banded, idx, buckets=8, mode="append")
    return idx, out


def test_stream_matches_sequential_batch_control(
    spark, corpus_and_batches, tmp_path
):
    corpus, b1, b2 = corpus_and_batches
    idx, assign_path, _ = _run_stream(spark, tmp_path, corpus, (b1, b2), "a")
    got = {
        r.doc_id: (r.dup_of, r.is_dup)
        for r in spark.read.parquet(assign_path).collect()
    }
    ctrl_idx, want = _batch_control(spark, tmp_path, corpus, (b1, b2), "a")
    assert got == want
    assert len(got) == len(b1) + len(b2)
    # later batch deduped against the earlier one THROUGH the index:
    # the streamed index equals the control index row-for-row
    s_rows = sorted(
        (r.doc_id, r.band, r.band_hash) for r in spark.table(idx).collect()
    )
    c_rows = sorted(
        (r.doc_id, r.band, r.band_hash) for r in spark.table(ctrl_idx).collect()
    )
    assert s_rows == c_rows
    # the fixture's engineered near-dups make this non-trivial
    assert any(v[1] for v in got.values())


def test_stream_replay_refines_never_loses(spark, corpus_and_batches, tmp_path):
    """At-least-once tolerance, as documented: re-running the SAME input
    with a FRESH checkpoint (the worst replay — every epoch re-fires
    against the already-complete index) leaves the index EXACTLY
    unchanged (idempotent append), and assignments only REFINE — the
    replayed probe sees a superset of partners, so per doc dup_of can
    only stay or decrease and is_dup can only flip false→true. The
    documented read contract (per doc_id, min(dup_of)) is deterministic
    under any replay history."""
    corpus, b1, b2 = corpus_and_batches
    idx, assign_path, _ = _run_stream(spark, tmp_path, corpus, (b1, b2), "r")
    idx_rows = sorted(
        (r.doc_id, r.band, r.band_hash) for r in spark.table(idx).collect()
    )
    first = {
        r.doc_id: (r.dup_of, r.is_dup)
        for r in spark.read.parquet(assign_path).collect()
    }
    # replay: same source dir, fresh checkpoint, same index table
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src_r") + "/*")
    )
    q = start_dedup_ingest_stream(
        spark,
        stream,
        idx,
        assign_path=assign_path,
        checkpoint=str(tmp_path / "ckpt_r2"),
        buckets=8,
    )
    q.awaitTermination(300)
    # index: exactly-once in effect — byte-for-byte the same rows
    assert sorted(
        (r.doc_id, r.band, r.band_hash) for r in spark.table(idx).collect()
    ) == idx_rows
    # assignments: the replay really appended rows...
    n_rows = spark.read.parquet(assign_path).count()
    assert n_rows > len(first)
    # ...and every replayed row refines monotonically
    import collections

    by_doc = collections.defaultdict(list)
    for r in spark.read.parquet(assign_path).collect():
        by_doc[r.doc_id].append((r.dup_of, r.is_dup))
    assert set(by_doc) == set(first)
    for doc, rows in by_doc.items():
        d0, i0 = first[doc]
        for d, i in rows:
            # a duplicate is never lost...
            assert i or not i0, (doc, rows, first[doc])
            # ...and among is_dup rows the partner only improves
            if i and i0:
                assert d <= d0, (doc, rows, first[doc])
            # a new-unique row always points at itself
            if not i:
                assert d == doc, (doc, rows)
    # the documented reader (min dup_of among is_dup rows, else self) is
    # well-defined and at least as informed as the first pass
    final = {
        doc: (min(d for d, i in rows if i) if any(i for _, i in rows) else doc)
        for doc, rows in by_doc.items()
    }
    for doc, (d0, i0) in first.items():
        if i0:
            assert final[doc] <= d0


def test_epoch_cuts_the_batch_once(spark, corpus_and_batches, tmp_path):
    """One micro-batch against a stored index: the stream runs its jobs
    under its runId job group, so the status tracker sees them. The
    handler cuts the banded batch once for probe and append; the probe
    reads that cut and must not copy a projection of it again (one more
    job and one more in-memory copy per epoch). Counted by call site, so
    the number of query stages AQE splits the epoch into does not
    matter."""
    corpus, b1, _ = corpus_and_batches
    _, assign_path, q = _run_stream(spark, tmp_path, corpus, (b1,), "cut")
    assert q.exception() is None
    assert spark.read.parquet(assign_path).count() == len(b1)
    st = spark.sparkContext.statusTracker()
    cuts = [
        j
        for j in st.getJobIdsForGroup(str(q.runId))
        if any(
            st.getStageInfo(s).name.startswith("localCheckpoint at ")
            for s in st.getJobInfo(j).stageIds
        )
    ]
    assert len(cuts) == 1, cuts

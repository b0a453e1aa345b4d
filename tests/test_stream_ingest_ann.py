"""Streaming closure of the stored-IVF lifecycle
(streaming/incremental.py::start_ann_ingest_stream): micro-batches probe
the index, land top-k assignments, and append themselves so later
batches route against earlier ones. Checked against a sequential
batch-mode control, and replayed to pin the at-least-once contract
(index exactly-once in effect; assignments refine rank-wise)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from data_ingestion_auto_spark.operators import ivf as V
from data_ingestion_auto_spark.streaming.incremental import start_ann_ingest_stream


@pytest.fixture(scope="module")
def emb_batches(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    nib = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    corpus = emb.filter(~nib.isin("0", "1", "2", "3")).localCheckpoint()
    new = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(nib.isin("0", "1", "2", "3")).collect()
    ]
    half = len(new) // 2
    return corpus, new[:half], new[half:]


_SCHEMA = "vec_id long, embedding array<float>"


def _run_stream(spark, tmp, corpus, b1, b2, tag):
    idx = f"t_astream_idx_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    spark.sql(f"DROP TABLE IF EXISTS {idx}_centroids")
    V.write_ivf_index(corpus, idx, buckets=8, path=str(tmp / f"aidx_{tag}"))
    src = tmp / f"asrc_{tag}"
    src.mkdir(exist_ok=True)
    for i, batch in enumerate((b1, b2)):
        f = src / f"b{i}"
        spark.createDataFrame(batch, _SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(f))
        t = time.time() - 100 + i * 50
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (t, t))
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = start_ann_ingest_stream(
        spark,
        stream,
        idx,
        assign_path=str(tmp / f"aassign_{tag}"),
        checkpoint=str(tmp / f"ackpt_{tag}"),
    )
    q.awaitTermination(300)
    return idx, str(tmp / f"aassign_{tag}")


def _batch_control(spark, tmp, corpus, batches, tag):
    idx = f"t_actrl_idx_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    spark.sql(f"DROP TABLE IF EXISTS {idx}_centroids")
    V.write_ivf_index(corpus, idx, buckets=8, path=str(tmp / f"acidx_{tag}"))
    out = {}
    for batch in batches:
        bdf = spark.createDataFrame(batch, _SCHEMA).localCheckpoint()
        for r in V.probe_ivf_index(spark, bdf, idx).collect():
            out[(r.query_id, r.rank)] = (r.cand_id, r.cosine)
        V.append_to_ivf_index(spark, bdf, idx)
    return idx, out


def test_stream_matches_sequential_batch_control(spark, emb_batches, tmp_path):
    corpus, b1, b2 = emb_batches
    idx, assign_path = _run_stream(spark, tmp_path, corpus, b1, b2, "a")
    got = {
        (r.query_id, r.rank): (r.cand_id, r.cosine)
        for r in spark.read.parquet(assign_path).collect()
    }
    ctrl_idx, want = _batch_control(spark, tmp_path, corpus, (b1, b2), "a")
    assert got == want
    # the streamed index equals the control index row-for-row
    s_rows = sorted(
        (r.vec_id, r.cluster_id) for r in spark.table(idx).collect()
    )
    c_rows = sorted(
        (r.vec_id, r.cluster_id) for r in spark.table(ctrl_idx).collect()
    )
    assert s_rows == c_rows
    # batch-2 queries CAN hit batch-1 vectors through the index — the
    # whole point of appending between epochs
    b1_ids = {i for i, _ in b1}
    assert any(c in b1_ids for (_, _), (c, _) in got.items())


def test_replay_keeps_index_and_refines_rankwise(spark, emb_batches, tmp_path):
    corpus, b1, b2 = emb_batches
    idx, assign_path = _run_stream(spark, tmp_path, corpus, b1, b2, "r")
    before = sorted((r.vec_id, r.cluster_id) for r in spark.table(idx).collect())
    first = {
        (r.query_id, r.rank): r.cosine
        for r in spark.read.parquet(assign_path).collect()
    }

    # worst-case replay: fresh checkpoint, every epoch re-fires against
    # the already-complete index
    src = tmp_path / "asrc_r"
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = start_ann_ingest_stream(
        spark,
        stream,
        idx,
        assign_path=assign_path,
        checkpoint=str(tmp_path / "ackpt_r2"),
    )
    q.awaitTermination(300)

    after = sorted((r.vec_id, r.cluster_id) for r in spark.table(idx).collect())
    assert after == before  # append idempotent: index byte-identical

    # rank-wise refinement: for every (query, rank) the replayed cosine
    # is >= the first pass's (a superset candidate pool can only improve)
    latest = {}
    for r in spark.read.parquet(assign_path).collect():
        k = (r.query_id, r.rank)
        latest[k] = max(latest.get(k, r.cosine), r.cosine)
    for k, c0 in first.items():
        assert latest[k] >= c0

"""The stored IVF index ingest path (operators/ivf.py::write_ivf_index /
probe_ivf_index / append_to_ivf_index) — round-9 verdict #5, the
embedding twin of the stored band index (tests/test_incremental_index.py).

`incremental_ann_assign` (plans/ann_incremental.py) is the oracled query
twin; these tests materialize the REAL thing — assignments bucketed on
cluster_id plus the frozen centroid table — and machine-check:

1. correctness: probing the stored index returns exactly the same
   (query, cand, cosine, rank) rows as the same routing re-run inline
   (no storage round-trip) — the index loses nothing;
2. physics: the probe reads the index side with ZERO Exchange,
   demonstrated against a non-bucketed control copy of identical rows;
3. append semantics: routed under the FROZEN stored centroids, visible
   to the next probe, idempotent on re-ingest.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_ingestion_auto_spark.operators import ivf as V
from data_ingestion_auto_spark.operators.layout import rewrite_index


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb_split(spark, sf_dir):
    """(corpus, batch) embeddings using the oracled twin's md5 split."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    is_new = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).isin(
        "0", "1", "2", "3"
    )
    return emb.filter(~is_new).localCheckpoint(), emb.filter(is_new).localCheckpoint()


def _inline_reference(spark, corpus, batch, nprobe=2, topk=3):
    """The same routing computed with no stored table: kmeans on the
    corpus, broadcast-centroid nprobe routing, cosine top-k."""
    assigned, cent_rows = V.kmeans_lite(corpus, k=8, iters=2)
    centroids = spark.createDataFrame(cent_rows, "cluster_id int, cvec array<bigint>")
    q = V.quantize(batch).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qq")
    )
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "dist2", F.expr(V._DIST2.format(a="qq", b="cvec"))
    )
    wq = W.partitionBy("query_id").orderBy("dist2", "cluster_id")
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qq", "cluster_id")
    )
    dot = "aggregate(zip_with(qq, qvec, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    nrm = "aggregate({v}, 0L, (acc, x) -> acc + x * x)"
    cand = assigned.join(probes, "cluster_id").select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(
            F.expr(dot)
            / (F.sqrt(F.expr(nrm.format(v="qq"))) * F.sqrt(F.expr(nrm.format(v="qvec")))),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _rows(df):
    return sorted(
        (r.query_id, r.cand_id, r.cosine, r.rank) for r in df.collect()
    )


def test_probe_stored_index_equals_inline_rerun(spark, emb_split, tmp_path):
    corpus, batch = emb_split
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx")
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx_centroids")
    V.write_ivf_index(corpus, "t_ivf_idx", buckets=8, path=str(tmp_path / "ivf"))
    got = _rows(V.probe_ivf_index(spark, batch, "t_ivf_idx"))
    want = _rows(_inline_reference(spark, corpus, batch))
    assert got == want
    assert len(got) > 0
    # rank-1 hits exist and are never the query itself
    assert all(q != c for q, c, _, _ in got)


def test_probe_index_side_is_exchange_free(spark, emb_split, tmp_path):
    corpus, batch = emb_split
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx_b")
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx_b_centroids")
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx_flat")
    V.write_ivf_index(corpus, "t_ivf_idx_b", buckets=8, path=str(tmp_path / "ivf_b"))
    spark.table("t_ivf_idx_b").write.format("parquet").option(
        "path", str(tmp_path / "ivf_flat")
    ).saveAsTable("t_ivf_idx_flat")
    # the flat control needs the same centroid table under its name
    spark.table("t_ivf_idx_b_centroids").write.format("parquet").option(
        "path", str(tmp_path / "ivf_flat_centroids")
    ).saveAsTable("t_ivf_idx_flat_centroids")

    def n_cluster_exchanges(table):
        p = _plan(V.probe_ivf_index(spark, batch, table))
        return sum(
            1
            for line in p.splitlines()
            if "Exchange hashpartitioning(cluster_id" in line
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_bucketed = _plan(V.probe_ivf_index(spark, batch, "t_ivf_idx_b"))
        assert "Bucketed: true" in p_bucketed
        n_b = n_cluster_exchanges("t_ivf_idx_b")
        n_flat = n_cluster_exchanges("t_ivf_idx_flat")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert n_flat == n_b + 1, (n_b, n_flat)


def test_append_routes_with_frozen_centroids_and_is_idempotent(
    spark, emb_split, tmp_path
):
    corpus, batch = emb_split
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx_a")
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx_a_centroids")
    V.write_ivf_index(corpus, "t_ivf_idx_a", buckets=8, path=str(tmp_path / "ivf_a"))
    n0 = spark.table("t_ivf_idx_a").count()
    cents_before = sorted(
        (r.cluster_id, tuple(r.cvec))
        for r in spark.table("t_ivf_idx_a_centroids").collect()
    )

    V.append_to_ivf_index(spark, batch, "t_ivf_idx_a")
    n1 = spark.table("t_ivf_idx_a").count()
    assert n1 == n0 + batch.count()
    # centroids are FROZEN: append must not touch them, and the appended
    # rows sit exactly where the frozen quantizer routes them
    cents_after = sorted(
        (r.cluster_id, tuple(r.cvec))
        for r in spark.table("t_ivf_idx_a_centroids").collect()
    )
    assert cents_after == cents_before
    centroids = V._cent_rows(spark.table("t_ivf_idx_a_centroids"))
    routed = {
        r.vec_id: r.cluster_id
        for r in V._assign(V.quantize(batch), centroids, "vec_id").collect()
    }
    stored = {
        r.vec_id: r.cluster_id
        for r in spark.table("t_ivf_idx_a").collect()
    }
    for vid, cid in routed.items():
        assert stored[vid] == cid
    # layout survives the append
    p = _plan(V.probe_ivf_index(spark, batch, "t_ivf_idx_a"))
    assert "Bucketed: true" in p

    # re-ingest: exact no-op
    V.append_to_ivf_index(spark, batch, "t_ivf_idx_a")
    assert spark.table("t_ivf_idx_a").count() == n1
    assert spark.table("t_ivf_idx_a").select("vec_id").distinct().count() == n1

    # a probed batch that is ALREADY in the index never matches itself
    res = V.probe_ivf_index(spark, batch, "t_ivf_idx_a")
    assert res.filter(F.col("query_id") == F.col("cand_id")).count() == 0


def test_retire_removes_ghosts_and_preserves_layout(spark, emb_split, tmp_path):
    """The retire cycle (the band-index retention contract, embedding
    side): retired vectors vanish from probe results, the survivors'
    bucketed layout and the frozen centroids survive the rewrite, and a
    retired id can be re-appended afterwards (the anti-join admission
    sees it as fresh again)."""
    corpus, batch = emb_split
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx_r")
    spark.sql("DROP TABLE IF EXISTS t_ivf_idx_r_centroids")
    V.write_ivf_index(corpus, "t_ivf_idx_r", buckets=8, path=str(tmp_path / "ivf_r"))
    n0 = spark.table("t_ivf_idx_r").count()
    cents_before = sorted(
        (r.cluster_id, tuple(r.cvec))
        for r in spark.table("t_ivf_idx_r_centroids").collect()
    )

    # retire every vector the batch currently hits at rank 1 — the ids a
    # user would most notice returning as ghosts
    hits = V.probe_ivf_index(spark, batch, "t_ivf_idx_r")
    retired_ids = [
        r.cand_id for r in hits.filter(F.col("rank") == 1).select("cand_id").distinct().collect()
    ]
    assert retired_ids
    retired = spark.createDataFrame([(i,) for i in retired_ids], "vec_id bigint")
    rewrite_index(spark, "t_ivf_idx_r", retired, key="vec_id")

    # ghosts are gone from storage AND from probe results
    assert spark.table("t_ivf_idx_r").count() == n0 - len(retired_ids)
    res = V.probe_ivf_index(spark, batch, "t_ivf_idx_r")
    got_ids = {r.cand_id for r in res.collect()}
    assert got_ids.isdisjoint(set(retired_ids))

    # centroids untouched, bucketed layout survives the rewrite
    cents_after = sorted(
        (r.cluster_id, tuple(r.cvec))
        for r in spark.table("t_ivf_idx_r_centroids").collect()
    )
    assert cents_after == cents_before
    assert "Bucketed: true" in _plan(V.probe_ivf_index(spark, batch, "t_ivf_idx_r"))

    # a retired id re-appends as fresh, routed by the frozen quantizer
    revived = corpus.filter(F.col("vec_id").isin(retired_ids[:2]))
    V.append_to_ivf_index(spark, revived, "t_ivf_idx_r")
    assert spark.table("t_ivf_idx_r").count() == n0 - len(retired_ids) + 2

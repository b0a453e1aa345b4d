"""IVF ANN tier: integer k-means determinism + probe recall."""

from __future__ import annotations

from data_ingestion_auto_spark.operators.ivf import ivf_topk, kmeans_lite
from data_ingestion_auto_spark.sources.tables import load_table


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    _, c1 = kmeans_lite(emb, k=4, iters=2)
    _, c2 = kmeans_lite(emb, k=4, iters=2)
    assert c1 == c2  # exact integer centroids, no float reduce-order drift


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_lite(emb, k=4, iters=1)
    n = emb.count()
    rows = assigned.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} <= {c[0] for c in cents}


def test_ivf_probe_recall_vs_bruteforce(spark, sf_dir):
    from data_ingestion_auto_spark import plans

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = ivf_topk(emb, n_queries=8, k=8, iters=2, nprobe=2, topk=3).toPandas()
    gt = plans.REGISTRY["embedding_cosine_topk"].spark(spark, sf_dir).toPandas()
    gt3 = gt[gt["rank"] <= 3]
    want = set(zip(gt3.query_id, gt3.cand_id))
    got = set(zip(ivf.query_id, ivf.cand_id))
    recall = len(got & want) / len(want)
    # nprobe=2 of k=8 clusters scans ~25% of the corpus; random embeddings
    # make this a hard fixture — require nontrivial recall and full result
    # shape (3 candidates for every query).
    assert recall > 0.2
    assert len(ivf) == 8 * 3

    # determinism of the full probe output
    ivf2 = ivf_topk(emb, n_queries=8, k=8, iters=2, nprobe=2, topk=3).toPandas()
    assert ivf.equals(ivf2)


def test_hierarchical_kmeans_partitions_and_fine_argmin(spark, sf_dir):
    """Two-level k-means (round 6, the k ∝ corpus regime): every vector
    lands in exactly one composite cluster; determinism across runs; and
    the fine assignment is the true within-group argmin — verified
    against a python brute force over the final fine centroids."""
    from collections import defaultdict

    from data_ingestion_auto_spark.operators.ivf import (
        kmeans_grouped,
        kmeans_hierarchical,
        kmeans_lite,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_hierarchical(emb, k=9, iters=2)
    rows = out.collect()
    assert len(rows) == emb.count()  # total partition, one row per vector
    out2 = kmeans_hierarchical(emb, k=9, iters=2).collect()
    assert sorted((r.vec_id, r.cluster_id) for r in rows) == sorted(
        (r.vec_id, r.cluster_id) for r in out2
    )

    # fine argmin check: brute-force the within-group argmin over the
    # EXACT centroids the assignment ran against (kmeans_grouped returns
    # them) — dist2, tie-breaks, and group routing must all agree
    coarse, _ = kmeans_lite(emb, k=3, iters=2)
    import pyspark.sql.functions as F

    grouped = coarse.select(
        "vec_id", F.col("cluster_id").alias("group_id"), "qvec"
    ).localCheckpoint()
    fine, cents_df = kmeans_grouped(grouped, k_per_group=3, iters=2)
    cents = defaultdict(dict)
    for r in cents_df.collect():
        cents[r.group_id][r.fine_id] = list(r.cvec)
    n_checked = 0
    for r in fine.collect():
        best = min(
            (
                (sum((a - b) ** 2 for a, b in zip(r.qvec, cv)), fid)
                for fid, cv in cents[r.group_id].items()
            ),
        )
        assert (best[1], best[0]) == (r.fine_id, r.dist2), r.vec_id
        n_checked += 1
    assert n_checked == emb.count()


def _dist2(q, c):
    """The engine's exact dist²: zip_with pads the shorter array with
    NULL, and any NULL element makes the sum NULL."""
    if q is None or c is None or len(q) != len(c) or None in q or None in c:
        return None
    return sum((a - b) ** 2 for a, b in zip(q, c))


def _check_brute_force_argmin(assigned, cents):
    """Every vector sits at its nearest centroid: smallest dist², NULL
    last, ties to the smallest cluster id."""
    rows = assigned.collect()
    for r in rows:
        d, cid = min(
            ((_dist2(r.qvec, cv), cid) for cid, cv in cents),
            key=lambda t: (t[0] is None, t[0] or 0, t[1]),
        )
        assert (r.cluster_id, r.dist2) == (cid, d), r.vec_id
    return {r.vec_id: r for r in rows}


def test_kmeans_lite_mixed_length_corpus(spark):
    """2-dim vectors (ids 0, 4) beside 3-dim ones (ids 1-3): a dist²
    against a centroid of the other length is NULL and must rank last,
    so each length family keeps its own cluster and every vector gets a
    real distance."""
    rows = [
        (0, [1.0, 1.0]),
        (1, [5.0, 5.0, 5.0]),
        (2, [5.0, 6.0, 5.0]),
        (3, [6.0, 5.0, 5.0]),
        (4, [1.0, 2.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans_lite(emb, k=2, iters=2)
    by_id = _check_brute_force_argmin(assigned, cents)
    assert by_id[1].cluster_id == by_id[2].cluster_id == by_id[3].cluster_id
    assert by_id[0].cluster_id == by_id[4].cluster_id != by_id[1].cluster_id
    assert all(r.dist2 is not None for r in by_id.values())


def test_kmeans_lite_nan_in_init_row(spark):
    """A non-finite component quantizes to NULL; when it lands in an
    init centroid that centroid ranks last for every vector instead of
    crashing the literal assign."""
    rows = [
        (0, [float("nan"), 1.0, 1.0]),
        (1, [1.0, 1.0, 1.0]),
        (2, [2.0, 2.0, 2.0]),
        (3, [9.0, 9.0, 9.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans_lite(emb, k=2, iters=2)
    by_id = _check_brute_force_argmin(assigned, cents)
    assert by_id[1].cluster_id == by_id[2].cluster_id == by_id[3].cluster_id
    assert by_id[0].dist2 is None


def test_quantize_cache_hit_requires_same_semantics(spark):
    """The quantize cut is cached under a 32-bit semantic hash; a cut
    cached for ANOTHER frame under the probed key must not be reused."""
    from data_ingestion_auto_spark.operators.ivf import quantize

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id long, embedding array<double>"
    )
    other = spark.createDataFrame(
        [(100 + i, [0.0, float(i)]) for i in range(3)], "vec_id long, embedding array<double>"
    )
    if getattr(spark, "_graft_quant_cache", None) is None:
        spark._graft_quant_cache = {}
    key = ("vec_id", "embedding", emb.semanticHash())
    spark._graft_quant_cache[key] = (other, quantize(other))
    assigned, _ = kmeans_lite(emb, k=2, iters=1)
    assert sorted(r.vec_id for r in assigned.collect()) == list(range(6))

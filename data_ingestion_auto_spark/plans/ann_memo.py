"""Memoized k-means / quantizer MODEL TABLES for the embedding family
(round-12 verdict #2: the `_corpus_memo` pattern — plans/dedup.py — applied
to the frozen centroid/codebook/assignment tables that `semdedup_clusters`,
`semdedup_hier`, `hierarchical_kmeans_assign`, `incremental_ann_assign`,
`pq_adc_topk`, `ivfpq_adc_topk` and `ann_ivf_probe` each re-derived per
query, ~4.5–5.4 s calibrated apiece at sf0.1).

This IS the production shape, not a benchmark trick: a 100 TB vector
pipeline trains its quantizer ONCE per corpus version and serves every
downstream query from the stored model/index — exactly what
`operators/ivf.py::write_ivf_index` proves on the operator side. The memo
key is the EMBEDDINGS table's file fingerprint (count + per-file
path/size/mtime_ns hash) + the shared `_MEMO_VERSION`, so a regenerated
corpus or a changed algorithm rebuilds; results are bit-identical to the
live derivation because the k-means tiers are exact BIGINT arithmetic
(pinned in tests/test_ivf.py), so every consumer's oracle hash is
unchanged.

Each (assignments, centroids) pair shares ONE training run on a cold memo
via the `shared` dict — the second memo's build reuses the first's model
instead of re-running Lloyd iterations; on a crash between the two
publishes the survivor retrains, which is rare and correct.

CONTRACT: the (variant, k, iters) triple IS the model's identity — the
``emb_builder``/``sub_builder`` passed for a given variant must be a pure
function of the fingerprinted embeddings table (the key cannot see the
builder's code). Registering a new training frame means a new variant
name, exactly like `_MEMO_VERSION` for algorithm changes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .dedup import _corpus_memo
from .helpers import T

def _emb_memo(spark, sf_dir, name, build, wide: bool = False):
    """``wide=True`` for the corpus-sized assignment/code tables: they
    feed EXPANSION joins (probe lists × queries, codes × query distance
    tables), so the memo must come back with full read parallelism —
    see `_corpus_memo(partitions=...)`. Centroid/codebook tables stay
    single-file (bounded model state, broadcast by consumers)."""
    parts = spark.sparkContext.defaultParallelism if wide else None
    return _corpus_memo(
        spark, sf_dir, name, build, src_file="embeddings.parquet", partitions=parts
    )


# --- corpus frames the models are trained on -------------------------------


def emb_full(spark, sf_dir):
    """The raw embeddings corpus as (vec_id, embedding double[])."""
    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )


# --- kmeans_lite (flat, driver-held centroids) ------------------------------


def _frozen_prior(sf_dir, *memo_names):
    """The frozen-model append contract (round-13, verdict #4): when the
    embeddings corpus has been APPENDED to (old files untouched, new
    files added — detected via the per-memo _manifest.json), the prior
    corpus version's model tables are reusable: the quantizer stays
    FROZEN and only the new rows get assigned. Returns the prior memo
    paths for ALL of ``memo_names`` (they must come from the same prior
    corpus version — a crash between publishes leaves a partial set, in
    which case retrain), else None."""
    import os

    from .dedup import find_appendable_prior

    paths = [
        find_appendable_prior(sf_dir, n, src_file="embeddings.parquet")
        for n in memo_names
    ]
    if any(p is None for p in paths):
        return None
    # all priors must describe the SAME prior corpus version: the dir
    # name ends in the fingerprint (count_hash16), which must match
    # across the set
    fps = {"_".join(os.path.basename(p).rsplit("_", 2)[1:]) for p in paths}
    if len(fps) != 1:
        return None
    return paths


def kml_model(spark, sf_dir, variant: str, emb_builder, k: int, iters: int = 2):
    """Memoized ``kmeans_lite`` model: returns (assignments (vec_id, qvec,
    cluster_id), centroids (cluster_id, cvec)) — both parquet memo reads
    after the first call per corpus version.

    Append path (round-13): if the corpus is an APPEND of a prior
    version with published model memos, the centroids are FROZEN (copied
    from the prior memo) and only the new rows — those absent from the
    prior assignment table — are assigned by `_assign` against the
    collected prior centroids, the same literal argmin training uses.
    Old rows keep their exact prior assignments; a full retrain happens
    only on in-place regeneration or an algorithm/version change
    (SCALE.md round-13). Same contract as
    `operators/ivf.py::append_to_ivf_index`."""
    from ..operators.ivf import _assign, _cent_rows, cent_df, kmeans_lite, quantize

    shared = {}
    tag = f"{variant}_k{k}i{iters}"
    names = (f"kml_{tag}_assign", f"kml_{tag}_cents")

    def _train():
        if "a" not in shared:
            shared["a"], shared["c"] = kmeans_lite(emb_builder(), k=k, iters=iters)
        return shared

    def _prior():
        if "p" not in shared:
            shared["p"] = _frozen_prior(sf_dir, *names)
        return shared["p"]

    def build_assign():
        pr = _prior()
        if pr:
            old = spark.read.parquet(pr[0]).select("vec_id", "qvec", "cluster_id")
            cents = _cent_rows(spark.read.parquet(pr[1]))
            fresh = quantize(emb_builder())
            new = fresh.join(old.select("vec_id"), "vec_id", "left_anti")
            return old.unionByName(
                _assign(new, cents, "vec_id").select("vec_id", "qvec", "cluster_id")
            )
        return _train()["a"].select("vec_id", "qvec", "cluster_id")

    def build_cents():
        pr = _prior()
        if pr:
            return spark.read.parquet(pr[1]).coalesce(1)
        return cent_df(spark, _train()["c"]).coalesce(1)

    assigned = _emb_memo(spark, sf_dir, names[0], build_assign, wide=True)
    cents = _emb_memo(spark, sf_dir, names[1], build_cents)
    return assigned, cents


# --- kmeans_grouped (distributed fine centroids) ----------------------------


def kmg_model(spark, sf_dir, variant: str, sub_builder, k_per_group: int, iters: int = 2):
    """Memoized ``kmeans_grouped`` model over a pre-grouped (rid, group_id,
    qvec) frame: returns (codes (rid, group_id, fine_id), centroids
    (group_id, fine_id, cvec)).

    Append path (round-13): on a corpus append the per-group fine
    centroids stay FROZEN and only sub-frame rows absent from the prior
    code table are assigned via `_assign_grouped` (for the residual
    variants the sub frame derives from the kml model, itself frozen on
    append, so old rows' groupings are unchanged)."""
    from ..operators.ivf import _assign_grouped, kmeans_grouped

    shared = {}

    def _train():
        if "a" not in shared:
            shared["a"], shared["c"] = kmeans_grouped(
                sub_builder(), k_per_group=k_per_group, iters=iters, id_col="rid"
            )
        return shared

    tag = f"{variant}_k{k_per_group}i{iters}"
    names = (f"kmg_{tag}_codes", f"kmg_{tag}_cents")

    def _prior():
        if "p" not in shared:
            shared["p"] = _frozen_prior(sf_dir, *names)
        return shared["p"]

    def build_codes():
        pr = _prior()
        if pr:
            old = spark.read.parquet(pr[0]).select("rid", "group_id", "fine_id")
            cents = spark.read.parquet(pr[1])
            new = sub_builder().join(old.select("rid"), "rid", "left_anti")
            return old.unionByName(
                _assign_grouped(new, cents, "rid").select("rid", "group_id", "fine_id")
            )
        return _train()["a"].select("rid", "group_id", "fine_id")

    def build_cents():
        pr = _prior()
        if pr:
            return spark.read.parquet(pr[1])
        return _train()["c"]

    codes = _emb_memo(spark, sf_dir, names[0], build_codes, wide=True)
    cents = _emb_memo(spark, sf_dir, names[1], build_cents)
    return codes, cents


# --- kmeans_hierarchical (two-level composite ids) --------------------------


def kmh_assign(spark, sf_dir, variant: str, emb_builder, k: int, iters: int = 2):
    """Memoized ``kmeans_hierarchical`` assignment table (vec_id, qvec,
    cluster_id) — the composite coarse·k2+fine ids.

    Round-13: the coarse centroid rows and fine centroid table are
    memoized ALONGSIDE the assignments (one shared training run via
    `kmeans_hierarchical_model`), which is what makes the frozen-model
    append path possible for the hierarchical tier: on a corpus append,
    new rows route coarse→fine through the stored model
    (`assign_hierarchical_frozen`) and old rows keep their exact prior
    composite ids."""
    from ..operators.ivf import (
        assign_hierarchical_frozen,
        cent_df,
        kmeans_hierarchical_model,
        quantize,
    )

    shared = {}
    tag = f"kmh_{variant}_k{k}i{iters}"
    names = (f"{tag}_assign", f"{tag}_ccents", f"{tag}_fcents")

    def _train():
        if "a" not in shared:
            shared["a"], shared["cc"], shared["fc"] = kmeans_hierarchical_model(
                emb_builder(), k=k, iters=iters
            )
        return shared

    def _prior():
        if "p" not in shared:
            shared["p"] = _frozen_prior(sf_dir, *names)
        return shared["p"]

    def build_assign():
        pr = _prior()
        if pr:
            old = spark.read.parquet(pr[0]).select("vec_id", "qvec", "cluster_id")
            ccents = spark.read.parquet(pr[1])
            fcents = spark.read.parquet(pr[2])
            new = quantize(emb_builder()).join(
                old.select("vec_id"), "vec_id", "left_anti"
            )
            return old.unionByName(
                assign_hierarchical_frozen(new, ccents, fcents, k=k)
            )
        return _train()["a"]

    def build_ccents():
        pr = _prior()
        if pr:
            return spark.read.parquet(pr[1]).coalesce(1)
        return cent_df(spark, _train()["cc"]).coalesce(1)

    def build_fcents():
        pr = _prior()
        if pr:
            return spark.read.parquet(pr[2])
        return _train()["fc"]

    assigned = _emb_memo(spark, sf_dir, names[0], build_assign, wide=True)
    _emb_memo(spark, sf_dir, names[1], build_ccents)
    _emb_memo(spark, sf_dir, names[2], build_fcents)
    return assigned

"""Memoized k-means / quantizer MODEL TABLES for the embedding family
(round-12 verdict #2: the `memo.corpus_memo` pattern applied to the
frozen centroid/codebook/assignment tables that `semdedup_clusters`,
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

Each model's tables are one `memo.frozen_model_memo` set: they share ONE
training run on a cold memo — the second memo's build reuses the first's
model instead of re-running Lloyd iterations — and on a corpus append
they extend the prior model together; on a crash between publishes the
survivor retrains, which is rare and correct.

CONTRACT: the (variant, k, iters) triple IS the model's identity — the
``emb_builder``/``sub_builder`` passed for a given variant must be a pure
function of the fingerprinted embeddings table (the key cannot see the
builder's code). Registering a new training frame means a new variant
name, exactly like `_MEMO_VERSION` for algorithm changes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..memo import frozen_model_memo
from .helpers import T

# Every model is keyed on the embeddings table. The first table of each
# model set is the corpus-sized one (assignments, codes): it feeds
# EXPANSION joins (probe lists × queries, codes × query distance tables),
# so it is read wide. Centroid/codebook tables stay narrow (bounded model
# state, broadcast by consumers).
_EMB = "embeddings.parquet"


# --- corpus frames the models are trained on -------------------------------


def emb_full(spark, sf_dir):
    """The raw embeddings corpus as (vec_id, embedding double[])."""
    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )


# --- kmeans_lite (flat, driver-held centroids) ------------------------------


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

    def train():
        a, c = kmeans_lite(emb_builder(), k=k, iters=iters)
        return a.select("vec_id", "qvec", "cluster_id"), cent_df(spark, c).coalesce(1)

    def extend(prior):
        old = prior[0].select("vec_id", "qvec", "cluster_id")
        new = quantize(emb_builder()).join(old.select("vec_id"), "vec_id", "left_anti")
        assigned = _assign(new, _cent_rows(prior[1]), "vec_id")
        return (
            old.unionByName(assigned.select("vec_id", "qvec", "cluster_id")),
            prior[1].coalesce(1),
        )

    tag = f"{variant}_k{k}i{iters}"
    names = (f"kml_{tag}_assign", f"kml_{tag}_cents")
    return tuple(frozen_model_memo(spark, sf_dir, names, train, extend, names[:1], _EMB))


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

    def train():
        a, c = kmeans_grouped(sub_builder(), k_per_group=k_per_group, iters=iters, id_col="rid")
        return a.select("rid", "group_id", "fine_id"), c

    def extend(prior):
        old = prior[0].select("rid", "group_id", "fine_id")
        new = sub_builder().join(old.select("rid"), "rid", "left_anti")
        coded = _assign_grouped(new, prior[1], "rid")
        return old.unionByName(coded.select("rid", "group_id", "fine_id")), prior[1]

    tag = f"{variant}_k{k_per_group}i{iters}"
    names = (f"kmg_{tag}_codes", f"kmg_{tag}_cents")
    return tuple(frozen_model_memo(spark, sf_dir, names, train, extend, names[:1], _EMB))


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

    def train():
        a, cc, fc = kmeans_hierarchical_model(emb_builder(), k=k, iters=iters)
        return a, cent_df(spark, cc).coalesce(1), fc

    def extend(prior):
        old = prior[0].select("vec_id", "qvec", "cluster_id")
        new = quantize(emb_builder()).join(old.select("vec_id"), "vec_id", "left_anti")
        assigned = assign_hierarchical_frozen(new, prior[1], prior[2], k=k)
        return old.unionByName(assigned), prior[1].coalesce(1), prior[2]

    tag = f"kmh_{variant}_k{k}i{iters}"
    names = (f"{tag}_assign", f"{tag}_ccents", f"{tag}_fcents")
    return frozen_model_memo(spark, sf_dir, names, train, extend, names[:1], _EMB)[0]

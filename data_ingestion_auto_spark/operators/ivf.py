"""IVF (inverted-file) ANN tier: k-means-lite coarse quantizer + cluster
probing — the third rung of the similarity ladder (brute-force → LSH
buckets → IVF), for when bucket occupancy needs to follow the data
distribution instead of fixed hyperplanes.

Spark-first shape:

- vectors are integer-quantized once (×10⁴, the same quantization as the
  cosine queries) so every distance/centroid computation is exact bigint
  arithmetic — k-means on floats is reduce-order nondeterministic across
  runs/engines, k-means on ints is bit-stable anywhere;
- each Lloyd iteration is: one map-side nearest-centroid projection
  against the k centroids inlined as literals (zip_with/aggregate —
  codegen, no UDF, no join), one wide per-cluster aggregation;
  centroids (k×dim ints — index METADATA, not data) come back to the
  driver exactly like any ML model state;
- probing: a query searches only its ``nprobe`` nearest clusters — the
  candidate join is an equi-join on cluster id, linear in corpus size.

The algorithm is iterative, so there is no SQL oracle (rows-only at the
gate); correctness is pinned by tests/test_ivf.py (recall vs brute force,
run-to-run determinism, centroid-update exactness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpoints import ckpt, ckpt_local
from ..functions.scalars import order_struct, top1

# TRY_CAST, not CAST (review r11): Spark 4 runs ANSI mode by default, so
# a single NaN/Infinity component in one upstream embedding would
# otherwise throw CAST_INVALID_INPUT and kill the whole build/ingest job.
# A non-finite component quantizes to NULL; NULL poisons that vector's
# dist²/norm, which ranks it LAST (the `order_struct` NULL flag in the
# argmins, the NULL-guarded cosine below) instead of crashing the
# pipeline.
_QUANT = "transform({col}, x -> TRY_CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))"
_DIST2 = "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
_DOT = "aggregate(zip_with(qq, qvec, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
_NRM = "aggregate({v}, 0L, (acc, x) -> acc + x * x)"


def quantize(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return emb.select(F.col(id_col), F.expr(_QUANT.format(col=vec_col)).alias("qvec"))


def _lit_vec(vec) -> str:
    """A driver-held vector as a BIGINT array literal. A NULL component
    (a non-finite input that TRY_CAST quantized to NULL) or a NULL
    vector stays NULL, so every dist² against it is NULL and the
    `order_struct` flag ranks it last instead of crashing on int(None)."""
    if vec is None:
        return "CAST(NULL AS array<bigint>)"
    elems = ",".join("CAST(NULL AS BIGINT)" if v is None else f"{int(v)}L" for v in vec)
    return f"CAST(array({elems}) AS array<bigint>)"


def _cent_rows(centroids: DataFrame) -> list:
    """A stored (cluster_id, cvec) table → driver-held centroid rows,
    sorted by cluster id. k×dim ints is bounded model state."""
    return sorted(
        ((r["cluster_id"], None if r["cvec"] is None else list(r["cvec"]))
         for r in centroids.select("cluster_id", "cvec").collect()),
        key=lambda t: t[0],
    )


def cent_df(spark, cent_rows) -> DataFrame:
    """Driver-held centroid rows → a JVM-side VALUES-literal DataFrame.
    A local-list ``createDataFrame`` is backed by a Python RDD: every
    job that touches it (each Lloyd iteration's broadcast, every model
    memo write) forks Python workers — measured at 2-6 s of pure
    startup latency per tiny write on the round-13 host, which
    dominated the cold memo-build bill. A VALUES literal plans as a
    LocalTableScan: zero Python workers, same rows, same schema. k×dim
    ints is bounded model state, well under any SQL-length concern."""
    if not cent_rows:
        return spark.createDataFrame([], "cluster_id int, cvec array<bigint>")
    vals = ", ".join(
        f"(CAST({int(cid)} AS INT), {_lit_vec(vec)})" for cid, vec in cent_rows
    )
    return spark.sql(f"SELECT cluster_id, cvec FROM (VALUES {vals}) AS t(cluster_id, cvec)")


def _assign(vectors: DataFrame, cent_rows, id_col: str) -> DataFrame:
    """Nearest centroid per vector, for DRIVER-HELD centroid rows (a
    stored centroid table is collected with `_cent_rows` first): the
    k×dim model is inlined as literal arrays, so the argmin is one
    PROJECTION — the ``least`` of k `order_struct`s over (dist2,
    cluster_id) — with no join, no window and no exchange. Ties go to
    the smallest cluster id. A NULL dist² ranks last: it arises from a
    non-finite component in the vector or the centroid, or from a
    length mismatch (zip_with pads the shorter side with NULL)."""
    if not cent_rows:
        return vectors.select(
            id_col,
            "qvec",
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(None).cast("bigint").alias("dist2"),
        ).where(F.lit(False))
    cands = [
        order_struct([
            F.expr(_DIST2.format(a="qvec", b=_lit_vec(vec))).alias("dist2"),
            F.lit(int(cid)).cast("int").alias("cluster_id"),
        ])
        for cid, vec in cent_rows
    ]
    best = F.least(*cands) if len(cands) > 1 else cands[0]
    return vectors.select(id_col, "qvec", best.alias("_best")).select(
        id_col, "qvec", "_best.cluster_id", "_best.dist2"
    )


def _route_probe_rank(
    queries: DataFrame,
    lists: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    topk: int,
    id_col: str,
    broadcast_probes: bool,
) -> DataFrame:
    """The shared route → probe → cosine → rank block (review r11:
    previously duplicated between ivf_topk and probe_ivf_index, so a
    cosine fix had to land twice). ``queries`` is (query_id, qq);
    ``lists`` is the candidate side (id_col, qvec, cluster_id).

    Zero-norm guard: an all-zero (or NULL-poisoned non-finite) vector
    has no defined cosine — 0/0 would be NaN, and Spark sorts NaN ABOVE
    every number, so a degenerate stored vector would rank #1 for every
    query probing its cluster. The cosine is therefore NULL unless both
    norms are positive, and DESC ordering puts NULLs last."""
    qc = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "dist2", F.expr(_DIST2.format(a="qq", b="cvec"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc_nulls_last("dist2"), "cluster_id")
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qq", "cluster_id")
    )
    if broadcast_probes:
        probes = F.broadcast(probes)
    nrm_q = F.expr(_NRM.format(v="qq"))
    nrm_c = F.expr(_NRM.format(v="qvec"))
    cand = (
        lists.join(probes, "cluster_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("cand_id"),
            F.when(
                (nrm_q > 0) & (nrm_c > 0),
                F.round(F.expr(_DOT) / (F.sqrt(nrm_q) * F.sqrt(nrm_c)), 6),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "cand_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def _update(vectors: DataFrame, keys: list[str]):
    """The Lloyd update step of one training call over ``vectors``:
    returns ``step(assigned) -> (keys…, cvec)``, the per-dimension
    integer mean of each cluster's member vectors. ``sum(v) div
    count(v)`` stays in BIGINT end-to-end — a DOUBLE division then
    truncation would lose exactness once a cluster's per-dimension sum
    exceeds 2^53, breaking the bit-determinism claim (round-2 advice).

    The width is learned ONCE here, from the corpus's longest vector —
    not from the init rows, which may all be shorter than some member.
    Each step then runs the per-dimension means as that many WIDE
    aggregates in ONE groupBy(keys): map-side partial aggregation, a
    single exchange of k×dim partial states. try_element_at is NULL past
    a short vector's end and sum/count skip NULLs, so a cluster's
    centroid is as long as its longest member (``slice`` to its max
    size) and a dimension with only NULL members is NULL. A cluster
    whose members are all NULL vectors has a NULL max size and drops out,
    as does an empty cluster (tests/test_opt_r14.py pins this against
    the posexplode reference)."""
    width = vectors.select(F.max(F.size("qvec"))).first()[0]
    dim = max(width or 0, 1)
    means = [
        F.expr(
            f"sum(try_element_at(qvec, {i + 1})) div count(try_element_at(qvec, {i + 1}))"
        ).alias(f"_c{i}")
        for i in range(dim)
    ]
    arr = ",".join(f"_c{i}" for i in range(dim))

    def step(assigned: DataFrame) -> DataFrame:
        return (
            assigned.groupBy(*keys)
            .agg(F.expr("max(size(qvec))").alias("_msz"), *means)
            .filter(F.col("_msz").isNotNull())
            .select(*keys, F.expr(f"slice(array({arr}), 1, least(_msz, {dim}))").alias("cvec"))
        )

    return step


def kmeans_lite(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """Deterministic Lloyd iterations over quantized vectors. Init:
    centroids = the k smallest ids (deterministic, engine-independent).
    Returns (assignments DataFrame, centroid rows list). Centroids are
    collected per iteration (k×dim ints) and re-inlined — bounded model
    state, the same pattern as MLlib's driver-held coefficients."""
    spark = emb.sparkSession
    # Materialize the quantized vectors ONCE: the init collect, every
    # Lloyd iteration's _assign, and the final _assign all consume this
    # subtree, and without truncation each re-executes the scan+quantize
    # DAG (round-3 verdict). localCheckpoint, not persist: lineage
    # truncation also keeps the per-iteration plan flat. On a real
    # cluster use a reliable checkpoint() dir so executor loss can't
    # drop blocks mid-iteration.
    #
    # The cut is shared PER (session, input frame) within this process
    # (optimization r14): three model variants train on the identical
    # embeddings frame, and each paid its own quantize+checkpoint job —
    # same-invocation amortization only (the cache dies with the
    # session object; nothing persists across runs). The key's 32-bit
    # semantic hash can collide, so a hit is reused only when its stored
    # source frame has the same semantics as ``emb``.
    cache = getattr(spark, "_graft_quant_cache", None)
    if cache is None:
        cache = {}
        spark._graft_quant_cache = cache
    key = (id_col, vec_col, emb.semanticHash())
    hit = cache.get(key)
    if hit is not None and hit[0].sameSemantics(emb):
        vectors = hit[1]
    else:
        vectors = ckpt(quantize(emb, id_col, vec_col))
        cache[key] = (emb, vectors)
    init = vectors.orderBy(id_col).limit(k).collect()
    cent_rows = [
        (i, None if r["qvec"] is None else list(r["qvec"])) for i, r in enumerate(init)
    ]
    update = _update(vectors, ["cluster_id"])
    for _ in range(iters):
        cent_rows = _cent_rows(update(_assign(vectors, cent_rows, id_col)))
    return _assign(vectors, cent_rows, id_col), cent_rows


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: queries (the ``n_queries`` smallest ids) search only
    their ``nprobe`` nearest clusters; exact quantized cosine ranks the
    candidates. Output: (query_id, cand_id, cosine, rank)."""
    spark = emb.sparkSession
    assigned, cent_rows = kmeans_lite(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    centroids = cent_df(spark, cent_rows)

    queries = assigned.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qq")
    )
    return _route_probe_rank(
        queries, assigned, centroids, nprobe, topk, id_col, broadcast_probes=True
    )


# ---------------------------------------------------------------------------
# Stored IVF index — the production incremental-ANN path (round-9 verdict
# #5: the embedding twin of operators/dedup.py::write_band_index /
# probe_band_index). `plans/ann_incremental.py::incremental_ann_assign` is
# the oracled query twin; these are the operators a real pipeline calls.


def write_ivf_index(
    emb: DataFrame,
    table: str,
    k: int = 8,
    iters: int = 2,
    buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    path: str | None = None,
) -> None:
    """Train the deterministic k-means-lite quantizer on the corpus and
    materialize the IVF index: assignments (id, qvec, cluster_id) as a
    parquet table BUCKETED on cluster_id (every future probe equi-joins
    the lists with zero Exchange on this side), centroids as the
    companion ``{table}_centroids`` table (k×dim ints — model state,
    list-sized, broadcast by every probe).

    At 100 TB: the index is corpus-sized but writing it costs one
    shuffle; probes and appends afterwards never retrain or reshuffle it
    (the IVF contract: centroids are frozen until an explicit rebuild,
    exactly like Faiss's add-after-train).

    Retention: ``operators/layout.py::rewrite_index(..., key=id_col)``.
    Retired vectors must leave the index or probes keep returning ghosts
    as nearest neighbors — not wasted space but WRONG answers. The
    rewrite leaves ``{table}_centroids`` untouched: the quantizer is
    model state, and retiring vectors does not retrain it, exactly as
    appending does not."""
    spark = emb.sparkSession
    assigned, cent_rows = kmeans_lite(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    writer = (
        assigned.select(id_col, "qvec", "cluster_id")
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, "cluster_id")
        .sortBy("cluster_id", id_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    cw = cent_df(spark, cent_rows).coalesce(1).write.format("parquet").mode("overwrite")
    if path is not None:
        cw = cw.option("path", path + "_centroids")
    cw.saveAsTable(f"{table}_centroids")


def probe_ivf_index(
    spark,
    batch_emb: DataFrame,
    table: str,
    nprobe: int = 2,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search an arriving batch against the STORED IVF index: broadcast
    the stored centroids (bounded model state), coarse-route each batch
    vector to its ``nprobe`` nearest lists, exact quantized cosine
    against the stored list members only, keep ``topk``. Self-matches
    are excluded (``cand_id != query_id``) so probing a batch that was
    already appended is idempotent — the same contract as
    ``probe_band_index``.

    Plan shape (machine-pinned in tests/test_ivf_index.py): the index
    side is a bare bucketed scan on cluster_id with NO Exchange;
    per-probe cost is O(batch·k) routing + O(probed-list rows) ADC —
    independent of corpus size outside the probed lists."""
    centroids = spark.table(f"{table}_centroids").select(
        "cluster_id", F.col("cvec")
    )
    q = quantize(batch_emb, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qq")
    )
    ranked = _route_probe_rank(
        q, spark.table(table), centroids, nprobe, topk, id_col,
        broadcast_probes=False,  # the pinned bucketed-scan plan relies on
        # the optimizer (not a hint) choosing the probe side as build
    )
    return ranked.select(
        "query_id", "cand_id", "cosine", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


def append_to_ivf_index(
    spark,
    batch_emb: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add a new batch to the stored index WITHOUT retraining: route the
    batch through the FROZEN stored centroids (broadcast, map-side) and
    append the routed (id, qvec, cluster_id) rows. Idempotent: ids
    already stored are dropped first (one anti-join against the stored
    id column — ids are unique per vector, so this is the whole key).
    Centroid staleness is the standard IVF trade: lists drift as the
    corpus grows until an explicit ``write_ivf_index`` rebuild, which is
    the Faiss add-vs-retrain contract. ``insertInto`` writes under the
    stored bucket spec, so the layout is the table's, not the caller's.

    Scale (review r11): the admission anti-join must NOT shuffle the
    corpus-sized stored id column per epoch. Routing is deterministic
    under the frozen centroids, so a previously stored copy of an id
    lives in the SAME cluster the batch routes it to — the stored side
    is first restricted to the batch's routed cluster_ids (a broadcast
    semi-filter over the bucketed scan), making the anti-join
    probed-list-sized, corpus-size-independent."""
    cent_rows = _cent_rows(spark.table(f"{table}_centroids"))
    routed = ckpt_local(  # read twice: cluster set + admission/append
        _assign(quantize(batch_emb, id_col, vec_col), cent_rows, id_col).select(
            id_col, "qvec", "cluster_id"
        )
    )
    batch_clusters = routed.select("cluster_id").distinct()
    stored_ids = (
        spark.table(table)
        .join(F.broadcast(batch_clusters), "cluster_id")
        .select(id_col)
    )
    fresh = routed.join(stored_ids, [id_col], "left_anti")
    fresh.select(*spark.table(table).columns).write.insertInto(table)


def _assign_grouped(vectors: DataFrame, centroids: DataFrame, id_col: str) -> DataFrame:
    """Nearest FINE centroid within each vector's own coarse group: an
    equi-join on group_id (per-key candidate set = that group's fine
    centroids), map-side dist², then `top1` over (dist2, fine_id) — ties
    to the smallest fine_id, a NULL dist² (a fine centroid with a NULL
    dimension) last. Unlike ``_assign`` the centroid table is a
    DataFrame joined by key — nothing is collected to the driver, so the
    total centroid count may scale with the corpus."""
    d = vectors.join(centroids, "group_id").select(
        id_col,
        "group_id",
        "qvec",
        "fine_id",
        F.expr(_DIST2.format(a="qvec", b="cvec")).alias("dist2"),
    )
    return top1(d, [id_col], ["dist2", "fine_id"], ["group_id", "qvec"]).select(
        id_col, "group_id", "qvec", "fine_id", "dist2"
    )


def kmeans_grouped(
    vectors: DataFrame,
    k_per_group: int,
    iters: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Data-parallel k-means WITHIN each group of pre-grouped quantized
    vectors (``group_id``, ``qvec`` columns): the second level of the
    hierarchical (IVF-style) clustering used when total k scales with
    the corpus (SemDeDup's k ∝ n regime). Per Lloyd iteration the cost
    is Σ_g n_g·k_g = n·k_per_group — independent of the number of
    groups — versus flat k-means' n·k_total; with k_total ∝ n that is
    the difference between linear and quadratic total work.

    Same determinism contract as ``kmeans_lite``: init = each group's
    ``k_per_group`` smallest ids, exact BIGINT dist² and integer-mean
    updates (the same `_update`), ties → smallest fine_id. Empty fine
    clusters drop out of the update. Returns ((id, group_id, qvec,
    fine_id, dist2) assignments, the final (group_id, fine_id, cvec)
    centroid DataFrame they were assigned against)."""
    wi = Window.partitionBy("group_id").orderBy(id_col)
    centroids = (
        vectors.withColumn("rn", F.row_number().over(wi))
        .filter(F.col("rn") <= k_per_group)
        .select(
            "group_id", (F.col("rn") - 1).cast("int").alias("fine_id"),
            F.col("qvec").alias("cvec"),
        )
        .transform(ckpt)
    )
    update = _update(vectors, ["group_id", "fine_id"])
    for _ in range(iters):
        centroids = ckpt(update(_assign_grouped(vectors, centroids, id_col)))
    return _assign_grouped(vectors, centroids, id_col), centroids


def kmeans_hierarchical(
    emb: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level k-means for the k ∝ corpus regime: a coarse
    ``kmeans_lite`` pass with k1 ≈ √k (driver-held centroids, n·√k per
    iteration) routes each vector to a group, then ``kmeans_grouped``
    refines k2 = ⌈k/k1⌉ fine clusters inside every group (n·√k per
    iteration, centroids stay distributed). Total assignment work is
    n·O(√k) instead of flat k-means' n·k — at SemDeDup's deployment
    scale (k ∝ n) that is the difference between O(n^1.5) and O(n²)
    total work. Returns (id, cluster_id) with cluster_id = coarse·k2 +
    fine (stable composite id)."""
    return kmeans_hierarchical_model(emb, k, iters, id_col, vec_col)[0]


def hier_split(k: int) -> tuple[int, int]:
    """The (k1, k2) coarse/fine split for a hierarchical budget of k
    composite clusters — shared by training and the frozen-model
    assignment of appended rows (the composite id is group·k2 + fine,
    so k2 is part of the model's identity)."""
    import math

    k1 = max(2, int(math.isqrt(k)))
    k2 = max(2, math.ceil(k / k1))
    return k1, k2


def kmeans_hierarchical_model(
    emb: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list, DataFrame]:
    """`kmeans_hierarchical` exposing the trained MODEL alongside the
    assignments: (assign_df, coarse centroid rows, fine centroids
    DataFrame). The memo tier (plans/ann_memo.py) persists all three so
    a corpus APPEND can route new rows through the frozen model —
    coarse `_assign` then grouped `_assign_grouped` — instead of
    retraining (round-13; the same contract as `append_to_ivf_index`)."""
    k1, k2 = hier_split(k)
    coarse, coarse_cents = kmeans_lite(
        emb, k=k1, iters=iters, id_col=id_col, vec_col=vec_col
    )
    grouped = ckpt(coarse.select(
        id_col, F.col("cluster_id").alias("group_id"), "qvec"
    ))
    fine, fine_cents = kmeans_grouped(grouped, k_per_group=k2, iters=iters, id_col=id_col)
    assign = fine.select(
        id_col,
        "qvec",
        (F.col("group_id").cast("bigint") * k2 + F.col("fine_id")).alias("cluster_id"),
    )
    return assign, coarse_cents, fine_cents


def assign_hierarchical_frozen(
    vectors: DataFrame,
    coarse_cents: DataFrame,
    fine_cents: DataFrame,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign (id, qvec) rows under a FROZEN two-level model: the
    collected coarse centroids route each vector to its group through
    `_assign`, grouped `_assign_grouped` picks the fine cluster within
    that group, and the composite id uses the model's own k2 —
    bit-compatible with `kmeans_hierarchical_model`'s final assignment
    pass over the same rows."""
    _, k2 = hier_split(k)
    routed = _assign(vectors, _cent_rows(coarse_cents), id_col).select(
        id_col, "qvec", F.col("cluster_id").alias("group_id")
    )
    fine = _assign_grouped(routed, fine_cents, id_col)
    return fine.select(
        id_col,
        "qvec",
        (F.col("group_id").cast("bigint") * k2 + F.col("fine_id")).alias("cluster_id"),
    )

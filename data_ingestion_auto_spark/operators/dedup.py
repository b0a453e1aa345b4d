"""Deduplication operators for large-scale text corpora.

Four tiers, all pure DataFrame compositions (no Python UDFs — every hash is
Spark's built-in ``md5``, so plans stay in whole-stage codegen and results
are engine-portable):

- exact:       hash-groupBy on a content digest
- n-gram Jaccard: shingle explode → self-join on shingle → pair agg
- MinHash:     k permutations via keyed md5, min per permutation
- MinHash-LSH: band the signature, bucket-join — the 100 TB path: candidate
  generation is linear in corpus size (shuffle on band key), never the
  quadratic all-pairs join.

SimHash lives in plans/dedup.py as generated bit expressions.

Scale notes: at 100 TB the only viable near-dup path is MinHash-LSH (or
SimHash bucketing): shingle self-joins are quadratic in bucket size. The
LSH design keeps every shuffle keyed on (band_id, band_hash) whose
cardinality grows with the corpus, so buckets stay small; skewed buckets
(boilerplate shingles) are handled by AQE skew-join or by capping bucket
size before the pair expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..checkpoints import ckpt
from .layout import write_capped_index


def content_digest(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-dup digest: md5 of the raw content."""
    return df.withColumn("digest", F.md5(F.col(text_col)))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per identical content; report group size.

    One shuffle on the digest; map-side partial agg keeps the shuffle
    proportional to distinct contents.
    """
    return (
        content_digest(df, text_col)
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    partitions: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Distinct k-character shingles per document (positional substrings).

    posexplode over a sequence of start offsets — stays JVM-side; the
    distinct collapses repeated shingles before any join.

    ``distinct=False`` skips the set-collapse for consumers whose
    aggregate is multiset-invariant — MinHash minima are identical over
    the multiset and the set (min(md5(i|s)) ignores duplicates), so the
    signature path sets it False and saves a full (id, shingle) shuffle:
    the explode stays hash-partitioned on ``id_col`` from the explicit
    repartition, and the per-doc min aggregation reuses that exchange
    (0 additional shuffles vs 2 through the distinct). Consumers that
    COUNT shingles (Jaccard sizes, simhash ±1 sums) need the set
    semantics and keep the default.
    """
    n = f"greatest(length({text_col}) - {k - 1}, 1)"
    # Documents often arrive as few large files (locally: one) — spread
    # docs across partitions BEFORE the ~300× explode so shingling, hashing
    # and partial aggregation parallelize. The partition count is explicit:
    # AQE would coalesce this shuffle to 1 based on its tiny PRE-explode
    # byte size, serializing all post-explode work. Hash-partitioning on id
    # also co-locates each doc's shingles for the per-doc groupBys.
    nparts = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out = df.repartition(nparts, F.col(id_col)).select(
        F.col(id_col),
        F.explode(F.expr(f"transform(sequence(1, {n}), i -> substring({text_col}, i, {k}))")).alias(
            "shingle"
        ),
    )
    return out.distinct() if distinct else out


def jaccard_pairs(
    sh: DataFrame, sizes: DataFrame, id_col: str = "doc_id", threshold: float = 0.5
) -> DataFrame:
    """All-pairs n-gram Jaccard via shingle self-join (small-corpus tier;
    LSH below is the scale path). Pairs restricted to a < b. The sizes
    joins carry no broadcast hint (round 6): sizes is one row per doc —
    corpus-linear — so AQE decides from runtime stats."""
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature(sh: DataFrame, id_col: str = "doc_id", num_perm: int = 16) -> DataFrame:
    """MinHash signature: permutation i = md5(i || '|' || shingle); the
    signature element is the lexicographic MIN digest — a pure-string
    minhash that is identical in any engine with md5.

    WIDE single-pass form: all `num_perm` mins as parallel aggregates in
    ONE groupBy(id) — no perm explode. The naive long form (explode ×
    num_perm → shuffle num_perm× the shingle rows) benched 31 s at sf0.1;
    this shuffles the shingle rows once with map-side partial mins
    (~6× faster). Output: (id, mh0..mh{n-1}).
    """
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(i), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_signature(
    sig: DataFrame, id_col: str = "doc_id", bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Explode the wide signature into (id, band, band_hash) rows; the
    band_hash is md5 over the band's minhashes in perm order."""
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)])
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_cols).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )


def lsh_bucket_stats(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Observability for the hot-bucket cap: per-bucket member count and
    whether it overflowed ``max_bucket`` (its pair tail was dropped by
    ``lsh_candidates``). Pure count aggregate — never materializes ids."""
    banded = band_signature(sig, id_col, bands, rows_per_band)
    return (
        banded.groupBy("band", "band_hash")
        .agg(F.count("*").alias("n_members"))
        .withColumn("overflow", F.col("n_members") > max_bucket)
    )


def lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
    count_bands: bool = False,
) -> DataFrame:
    """Band the wide signature and emit candidate pairs sharing any band
    bucket. band_hash = md5 of the band's minhashes in perm order —
    computed as a plain projection over the wide columns (no collect_list).
    The pair join is per (band, band_hash) bucket — linear candidate
    generation, the LSH scale path.

    Hot-bucket cap: a pathological bucket (boilerplate shingles in a real
    corpus — every near-identical page shares every band) would otherwise
    aggregate an unbounded id array on one executor and expand O(n²) pairs.
    Members are ranked per bucket (row_number over id — deterministic) and
    only the first ``max_bucket`` survive BEFORE the collect, so both the
    array and the pair expansion are bounded by construction; a bucket that
    big is boilerplate, not near-duplication, so dropping its tail loses no
    real signal. Overflow is observable via ``lsh_bucket_stats``.

    ``count_bands=True`` returns (a, b, n_bands) where n_bands is the
    number of bands the pair collides in (1..bands) — signature
    agreement, the cheap confidence score downstream budget caps rank
    by (round-9: ranking a verify budget by n_bands instead of
    smallest-id raised confirmed-pair recall 0.77 -> 0.85 at identical
    work on the zipf-10x fixture; see SCALE.md). Same shuffle as the
    default distinct — a pair appears exactly once per shared band, so
    the groupBy count IS the band-agreement count.
    """
    banded = band_signature(sig, id_col, bands, rows_per_band)
    # Pairs via per-bucket array combinations, NOT a self-join: a self-join
    # re-executes the whole signature DAG for both sides and adds a
    # shuffle; collect_list computes it once and the pair expansion is a
    # projection. The row_number window sorts within the same (band,
    # band_hash) partitioning the groupBy needs, so the cap adds no extra
    # shuffle — one exchange serves both.
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_hash").orderBy(id_col)
    capped = banded.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= max_bucket
    )
    buckets = (
        capped.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    if count_bands:
        return pairs.groupBy("a", "b").agg(
            F.count("*").cast("int").alias("n_bands")
        )
    return pairs.distinct()


# Round shape of `connected_components`: neighbour-min hops, then
# pointer jumps, per materialized round (see its docstring for the sweep).
_HOPS_PER_ROUND = 5
_JUMPS_PER_ROUND = 1


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair list (columns ``a``,
    ``b``) via min-label propagation with pointer jumping: every node
    starts labeled with itself; each materialized round takes
    ``_HOPS_PER_ROUND`` neighbour-minimum HOPS (edge joins —
    unconditional frontier advance) followed by ``_JUMPS_PER_ROUND``
    pointer JUMPS (``label ← label(label)``, labels-only self-joins —
    chain compression when label chains align, a no-op when they stall
    on a node that hasn't learned a smaller label yet). The shape is the
    measured optimum of the round-14 sweep under the frontier-filtered
    hop (three sweeps at sf0.1, label tables verified identical
    across 4:2/4:3/5:2/5:3/3:2/6:2/5:1/4:1/6:1/5:0): 5:1 ≈ 5.2 s warm
    vs 7.0 s at r13's 4:2 and 8-16 s at 6 hops — each extra hop doubles
    the references into the round's lazy subtree (the
    estimate-compounding hazard in lesson 2 below bounds how deep a
    round can go; 6 hops = 64 references is past the planning knee),
    while more rounds pay more parquet round-trips; with frontier
    filtering making late hops cheap, 5 hops + 1 jump is the saddle.
    The round-2 advisor
    was right that the old ``max_iter=10`` hop-only loop silently
    returned split components: measured at sf0.1, the corpus pair
    graph's giant component has eccentricity 18 from its min node, so
    round 2's `neardup_components` WAS exiting unconverged — its 3.17 s
    bench time was the cost of a wrong answer. Round 5 measured that
    1-hop rounds still advanced the min ~1 link per round (16 rounds at
    sf0.1 — jump stalling is the norm on real graphs, not the
    exception); 3 hops per round guarantee ≥3 links per round and the
    same graph converges in 6 rounds, all extra work lazy inside the one
    per-round job.

    Non-convergence within ``max_iter`` RAISES instead of returning
    wrong labels; the default cap of 20 rounds GUARANTEES diameter ≥80
    (4 links × 20 rounds, jumps usually reach much further) — beyond any
    plausible near-dup graph, whose components are dense boilerplate
    clusters, not 80-link chains.

    The canonical-assignment operator the single-pass min-neighbour
    approximation (embedding_neardup_dedup) converges to. Each round is
    one join + one groupBy keyed on node id plus one self-join on label.
    Checked at the gate by a DuckDB WITH RECURSIVE transitive-closure
    oracle and pinned by pytest on known graphs (chains/islands/
    triangles, 50-link chain).

    Per-round state is materialized to PARQUET, not ``localCheckpoint``-ed.
    Location (ADVICE r4 — on a multi-node cluster this MUST be a path every
    executor can reach; a driver-local tempdir only works in local mode):
    ``checkpoint_dir`` if given (pass a DFS path on a cluster), else a
    unique subdir of the session's configured checkpoint dir
    (``sc.setCheckpointDir`` — already required to be shared on a
    cluster), else a driver-local tempdir (local-mode fallback). Two
    hard-won lessons are encoded here:

    1. (round 3) persist() alone keeps the full logical lineage, which
       doubles in depth every iteration — at sf0.1 the uncheckpointed
       loop built a 2 GiB plan string and OOMed the driver.
    2. (round 4) ``localCheckpoint`` truncates the PLAN but Spark's
       LogicalRDD preserves the origin plan's STATISTICS, and
       SizeInBytesOnlyStatsPlanVisitor estimates every join as
       left×right: each round's self-joins therefore MULTIPLY inherited
       sizeInBytes estimates, and the BigInteger grows ~8× in digit
       count per round — measured 11,704 digits after ONE round at
       sf0.1, with Catalyst burning unbounded single-thread CPU in
       BigInteger ToomCook multiplication by round ~4 (the "wedged CC"
       in the round-4 bench). A parquet round-trip resets statistics to
       real file sizes, keeps every round's optimizer input tiny, and —
       on a real cluster — also survives executor loss, which
       localCheckpoint's memory-only blocks do not.

    Returns (node, component) where component = min node id reachable.
    """
    import os
    import shutil
    import tempfile

    spark = pairs.sparkSession
    # Default state location (ADVICE r4): on a real multi-node cluster the
    # per-round parquet state MUST live on a shared filesystem every
    # executor can reach — a driver-local tempdir only works in local
    # mode. Prefer, in order: the caller's checkpoint_dir, the session's
    # configured checkpoint dir (spark.sparkContext.setCheckpointDir — on
    # a cluster that's already required to be a DFS path), then a local
    # tempdir as the local-mode fallback.
    base = checkpoint_dir
    derived_from_ckpt = False
    if base is None:
        cluster_ckpt = spark.sparkContext._jsc.sc().getCheckpointDir()
        if cluster_ckpt.isDefined():
            import uuid

            # unique per call: two concurrent CC runs must not clobber
            # each other's round state
            base = cluster_ckpt.get().rstrip("/") + "/spark_cc_state_" + uuid.uuid4().hex
            derived_from_ckpt = True
    if base is None:
        base = tempfile.mkdtemp(prefix="spark_cc_state_")

    def materialize(df: DataFrame, name: str) -> DataFrame:
        path = os.path.join(base, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    try:
        edges = pairs.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        edges = materialize(edges.distinct(), "edges")
        labels = materialize(
            edges.select(F.col("src").alias("node")).distinct().withColumn(
                "label", F.col("node")
            ),
            "labels_0",
        )
        # Per materialized round: 3 neighbour-min HOPS then 3 pointer
        # JUMPS, all lazy (one job per round, at the materialization).
        # Jumps compress label chains (label ← label(label)) but STALL
        # whenever a label points at a node that hasn't itself learned a
        # smaller label yet — measured on the sf0.1 LSH graph (giant
        # component, eccentricity 18 from its min node) the original
        # 1-hop+3-jump round still needed 16 rounds, i.e. the min was
        # advancing ~1 link per round with jumps helping only
        # sporadically. Hops advance the frontier unconditionally, so
        # 3 hops guarantee ≥3 links per round and the same graph now
        # converges in 6 rounds — fewer parquet round-trips buys more
        # than the extra lazy edge joins cost (each hop is a join+groupBy
        # over the bounded edge/label tables). The round-5 sf1 soak
        # (tools/soak.py, SCALE.md) exercises this on a 10× corpus
        # including a near-cap hot bucket: round count stays
        # diameter-bound, independent of data volume.
        changed = -1
        frontier_true = True  # round 0: every node's initial label is fresh
        for rnd in range(max_iter):
            # `prev` carries the round-start label through the hop+jump
            # chain so convergence detection is a filter over the written
            # parquet, not an extra old⋈new join job per round.
            #
            # FRONTIER FILTERING (optimization r14, guide §2.3 — shuffle
            # fewer bytes; semi-naive evaluation of the monotone min
            # recursion): a hop's neighbour-min only needs the labels
            # that CHANGED since they were last propagated — an
            # unchanged neighbour's label was already folded into every
            # adjacent node's min in the hop after it last changed, and
            # labels are monotone non-increasing, so re-propagating it
            # is the identity. `chg` carries the delta: round 0 starts
            # all-fresh; within a round each hop propagates the previous
            # hop's changes; across rounds the materialized (label !=
            # prev) filter re-seeds the frontier (covering last-hop and
            # jump changes, at worst re-propagating an already-seen
            # label — redundant, never wrong). Per-round label tables
            # are bit-identical to the unfiltered loop (pinned by
            # tests/test_opt_r14.py at four round shapes); late rounds
            # — where only a few labels still move — stop paying a full
            # edges⋈labels join per hop.
            if frontier_true:
                cur = labels.select(
                    "node", "label", F.lit(True).alias("chg")
                ).withColumn("prev", F.col("label"))
                frontier_true = False
            else:
                cur = labels.select(
                    "node",
                    "label",
                    (F.col("label") != F.col("prev")).alias("chg"),
                ).withColumn("prev", F.col("label"))
            for _h in range(_HOPS_PER_ROUND):
                frontier = cur.filter(F.col("chg")).select(
                    F.col("node").alias("fnode"), F.col("label").alias("flabel")
                )
                neighbour_min = (
                    edges.join(frontier, edges.dst == F.col("fnode"))
                    .groupBy("src")
                    .agg(F.min("flabel").alias("nbr_label"))
                )
                cur = cur.join(
                    neighbour_min, cur.node == neighbour_min.src, "left"
                ).select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                    ).alias("label"),
                    "prev",
                    F.coalesce(
                        F.col("nbr_label") < F.col("label"), F.lit(False)
                    ).alias("chg"),
                )
            hop = cur.select("node", "label", "prev")
            # Pointer jumping: every label is itself a node id (labels
            # only ever take the min of existing node ids), so
            # label(label) is defined and monotone non-increasing. Each
            # jump references its input twice, so the chain holds 2^jumps
            # references to the hop subtree — materialize hop FIRST so
            # the 8 references scan a small parquet file, not 8
            # re-executions of the edge join. With no jumps there is no
            # multi-reference, so the round needs only the labels write.
            if _JUMPS_PER_ROUND > 0:
                hop = materialize(hop, f"hop_{rnd}")
            for _j in range(_JUMPS_PER_ROUND):
                # ptr side restricted to non-root nodes: label(label)
                # differs from label only when the label's own label
                # moved off itself; a root's (pnode == plabel) row maps
                # the jump to the identity, which the left-join coalesce
                # already produces on a miss — identical output, smaller
                # build side.
                ptr = hop.filter(F.col("node") != F.col("label")).select(
                    F.col("node").alias("pnode"), F.col("label").alias("plabel")
                )
                hop = hop.join(ptr, hop.label == ptr.pnode, "left").select(
                    "node", F.coalesce("plabel", "label").alias("label"), "prev"
                )
            new_labels = materialize(hop, f"labels_{rnd + 1}")
            changed = new_labels.filter(F.col("label") != F.col("prev")).count()
            # keep `prev` on the carried table: the next round re-seeds
            # its frontier from (label != prev) over this parquet
            labels = new_labels
            if changed == 0:
                # Pin the result in memory so the temp files can be
                # deleted; the final table is one (node, component) row
                # per connected node — bounded, and its origin stats are
                # a real parquet scan, so no estimate compounding.
                result = ckpt(labels.select(
                    F.col("node"), F.col("label").alias("component")
                ))
                return result
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds "
            f"(last round changed {changed} labels); the pair graph is deeper "
            "than any plausible near-dup structure — raise max_iter explicitly "
            "if this is intended"
        )
    finally:
        if checkpoint_dir is None:
            if derived_from_ckpt:
                # The derived path may be a DFS URI (hdfs://, s3a://...)
                # that shutil can't touch — delete through Hadoop's FS.
                try:
                    jvm = spark._jvm
                    hconf = spark.sparkContext._jsc.hadoopConfiguration()
                    jpath = jvm.org.apache.hadoop.fs.Path(base)
                    jpath.getFileSystem(hconf).delete(jpath, True)
                except Exception:  # noqa: BLE001 — best-effort cleanup
                    pass
            else:
                shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Stored band index — the production ingest path.
# (`plans/incremental_dedup.py` is the oracled query twin; these are the
# operators a real pipeline calls. Reference scope: the reference engine
# has no incremental dedup — this is LLM-pipeline tier, see COVERAGE.md.)


def write_band_index(
    banded: DataFrame,
    table: str,
    id_col: str = "doc_id",
    buckets: int = 16,
    max_bucket: int = 1000,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Materialize the capped (id, band, band_hash) LSH index as a table
    BUCKETED on (band, band_hash) — the physical layout that makes every
    future ingest probe join shuffle-free on the index side.

    Hot-bucket cap ``max_bucket`` (same rank-and-cap as
    `lsh_candidates`, same argument: a bucket beyond it is boilerplate,
    not near-duplication). ``mode='append'`` (the daily-ingest call)
    admits only each bucket's remaining capacity and drops already
    stored (id, band, band_hash) rows first, so the cap holds across
    appends and a re-ingested batch is a no-op (round-9 ADVICE); a row
    repeated within one batch is stored once — the
    ``operators/layout.py::write_capped_index`` contract.

    At 100 TB: the index is shingle-band-sized, NOT pair-sized; writing
    it costs one shuffle into ``buckets`` files per partition, and every
    subsequent probe reads only the matching buckets with zero Exchange
    on this side (pinned by tests/test_incremental_index.py). An append
    scans the index once and keeps only the stored rows of the batch's
    own (band, band_hash) keys (a semi-join against a broadcast of
    them), with no Exchange and no aggregate on the index side and no
    rewrite of stored files; only those rows and the batch are sorted.
    Retention and compaction: ``operators/layout.py::rewrite_index``.
    """
    write_capped_index(
        banded.select(id_col, "band", "band_hash"),
        table,
        keys=["band", "band_hash"],
        id_col=id_col,
        cap=max_bucket,
        buckets=buckets,
        mode=mode,
        path=path,
    )


def probe_band_index(
    spark,
    batch_banded: DataFrame,
    table: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign an arriving batch against the STORED band index: for each
    batch document, the smallest partner id among (any indexed document
    other than itself) ∪ (batch documents with smaller id) sharing a
    band bucket — or itself if new-unique. Same assignment rule as the
    oracled `incremental_lsh_dedup_assign` query; this variant reads
    the real bucketed table, and the self-exclusion makes re-ingesting
    an already-indexed batch idempotent (a doc never reports itself as
    its own duplicate).

    Plan shape (machine-pinned): the probe side shuffles once into the
    index's bucket count; the index side is a bare bucketed scan with NO
    Exchange, so shuffle and working memory are batch-sized. The scan
    still reads every bucket (no bucket pruning on the batch's keys), so
    per-ingest I/O grows with the index. The batch-internal earlier-id
    partners come from a SEPARATE batch-vs-batch join (batch-sized on both sides)
    whose candidate hits union with the index hits AFTER the joins —
    unioning raw rows into the index side would discard its bucketed
    output partitioning and force the Exchange this layout exists to
    avoid.

    ``batch_banded`` is read four times (index join, self join twice,
    distinct ids), so pass a frame that is already cut, as the dedup
    stream does with one ``localCheckpoint`` shared by probe and append.
    """
    idx = spark.table(table).select(
        F.col(id_col).alias("o_id"), "band", "band_hash"
    )
    batch = batch_banded.select(F.col(id_col).alias("n_id"), "band", "band_hash")
    # o_id != n_id: on RE-ingest of an already-indexed batch a document
    # finds its own index rows; self is never a duplicate partner.
    idx_cand = (
        batch.join(idx, ["band", "band_hash"])
        .filter(F.col("o_id") != F.col("n_id"))
        .select("n_id", "o_id")
    )
    self_side = batch.select(
        F.col("n_id").alias("o_id"), "band", "band_hash"
    )
    self_cand = (
        batch.join(self_side, ["band", "band_hash"])
        .filter(F.col("o_id") < F.col("n_id"))
        .select("n_id", "o_id")
    )
    cand = (
        idx_cand.unionByName(self_cand)
        .groupBy("n_id")
        .agg(F.min("o_id").alias("dup_of_hit"))
    )
    ids = batch.select("n_id").distinct()
    return ids.join(cand, "n_id", "left").select(
        F.col("n_id").alias(id_col),
        F.coalesce("dup_of_hit", "n_id").alias("dup_of"),
        F.col("dup_of_hit").isNotNull().alias("is_dup"),
    )

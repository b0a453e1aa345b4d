"""Memoized deterministic row-sample / planning frames for the lineitem
sampling tier (round-13, verdict #2: `partition_plan_histogram` and
`hashed_sample_quantiles` were the two most expensive non-memoized
queries — 4.2 s / 3.1 s calibrated at sf0.1 — and both re-derived the
same md5 Bernoulli sample + rank table per query).

This is the production shape, same as the ANN model tier
(plans/ann_memo.py): a 100 TB planner samples ONCE per corpus version at
ingest, materializes the boundary/rank table, and every
repartitionByRange / skew-audit / quantile-estimate query thereafter
reads the stored frame. The memo key is the LINEITEM table's file
fingerprint (count + per-file path/size/mtime_ns hash,
`memo.corpus_memo`), so a regenerated corpus rebuilds; results are
bit-identical to the live derivation (the sample predicate is a pure
md5 function of the row key; doubles roundtrip parquet exactly), so
every consumer's oracle hash is unchanged.

Three frames:

- `lineitem_hash_sample` — the h % 8 == 0 row sample WITH the hash
  column, at the tier's COARSEST rate so finer rates filter the same
  frame (16 | h ⇒ 8 | h: `hashed_sample_quantiles`'s h % 16 == 0 is a
  subset). Row multiplicity preserved — the fixture's (orderkey,
  linenumber) is not unique and the quantile estimator samples ROWS;
  boundary planning deduplicates key tuples downstream on the ~n/8
  sample, never the corpus.
- `lineitem_sample_ranked` — distinct (l_orderkey, l_linenumber) key
  tuples of the sample, dense-ranked 1..n by `_dense_rank` (no
  single-partition window). n recovers as max(rn).
- `lineitem_exact_group_quantiles` — the ≤|groups|-row exact per-group
  rank-quantile table over FULL lineitem: the self-grading reference
  `hashed_sample_quantiles` ships next to its estimate. Computing it is
  the one full per-group sort in the tier; memoizing it is exactly the
  once-per-corpus accounting the query's docstring promises.

Reference analogue: the climatology normals memo
(chirps_rainfall/__init__.py:229-234) — expensive per-corpus statistics
computed once and joined thereafter.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalars import md5_hex_int
from ..memo import corpus_memo
from .helpers import T


def _li_memo(spark, sf_dir, name, build, partitions=None):
    return corpus_memo(
        spark, sf_dir, name, build, src_file="lineitem.parquet", partitions=partitions
    )


def lineitem_hash_sample(spark, sf_dir):
    """Memoized md5 Bernoulli row sample of lineitem (h % 8 == 0 on the
    (orderkey, linenumber) row key — the SAME rows in any engine, any
    shard order): (l_orderkey, l_linenumber, l_returnflag,
    l_extendedprice, h). The `partitions` read guard applies — the
    sample is corpus-sized/8 and feeds window shuffles downstream."""
    def build():
        from ..sources.tables import spread

        # spread BEFORE the md5 projection (optimization r13, the
        # single-row-group systemic fix): without it the whole per-row
        # hash runs inside the one scan task and the memo's
        # `partitions=` repartition only spreads the already-computed
        # rows.
        li = spread(T(spark, sf_dir, "lineitem"))
        hexpr = md5_hex_int(
            "concat(CAST(l_orderkey AS STRING), '|', CAST(l_linenumber AS STRING))"
        )
        return li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            F.expr(hexpr).alias("h"),
        ).filter(F.expr("h % 8 = 0"))

    return _li_memo(
        spark, sf_dir, "lisamp", build, partitions=spark.sparkContext.defaultParallelism
    )


def lineitem_sample_ranked(spark, sf_dir):
    """Memoized ranked boundary frame: distinct (l_orderkey,
    l_linenumber) tuples of the h % 8 sample, dense-ranked 1..n —
    the table equi-depth partition planning filters for its edge
    ranks. Builds ON TOP of the `lisamp` memo (nested builds log only
    the outermost frame, `memo.MEMO_BUILD_LOG`)."""
    from ..operators.suffix import _adaptive_np, _dense_rank

    def build():
        samp = (
            lineitem_hash_sample(spark, sf_dir)
            .select("l_orderkey", "l_linenumber")
            .distinct()
        )
        n = samp.count()
        return _dense_rank(samp, ["l_orderkey", "l_linenumber"], "rn", np=_adaptive_np(n))

    return _li_memo(
        spark,
        sf_dir,
        "lisampr",
        build,
        partitions=spark.sparkContext.defaultParallelism,
    )


def lineitem_plan_edges(spark, sf_dir, b: int):
    """Memoized equi-depth BOUNDARY TABLE — the ≤(b-1)-row (i, edge)
    frame partition planning actually stores: edge = the sample key at
    rank i*(n+1) div b, one row per valid i (duplicate edge values
    across i preserved — the bucket rule counts per-i edges, matching
    the oracle's per-i CASE). Derived entirely from the `lisampr` memo;
    per-query cost collapses to one tiny single-file read, leaving the
    full-corpus skew audit as the only live scan."""

    def build():
        ranked = lineitem_sample_ranked(spark, sf_dir)
        n = ranked.agg(F.max("rn")).collect()[0][0] or 0
        targets = [(i, i * (n + 1) // b) for i in range(1, b)]
        want = [(i, t) for i, t in targets if 1 <= t <= n]
        if not want:
            return spark.createDataFrame([], "i int, edge bigint")
        by_rank = {
            r["rn"]: int(r["l_orderkey"])
            for r in ranked.filter(
                F.col("rn").isin(sorted({t for _, t in want}))
            ).collect()
        }
        vals = ", ".join(
            f"(CAST({i} AS INT), CAST({by_rank[t]} AS BIGINT))" for i, t in want
        )
        # VALUES literal, not a local-list createDataFrame: the latter is
        # Python-RDD-backed and its write forks Python workers (~6 s of
        # startup on the round-13 host for a 31-row table)
        return spark.sql(
            f"SELECT i, edge FROM (VALUES {vals}) AS t(i, edge)"
        ).coalesce(1)

    return _li_memo(spark, sf_dir, f"liedges{b}", build)


def _rank_quantiles(df, p50: str, p90: str, n_name: str):
    """Exact rank-based per-group quantiles by integer arithmetic
    (rn == (n+1) div 2 for p50, (9n+9) div 10 for p90 — no
    interpolation, so every engine picks the identical element).
    Shared by the estimate side (over the memoized sample) and the
    exact-twin memo build (over full lineitem)."""
    w = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wc = W.partitionBy("l_returnflag")
    r = df.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    return r.groupBy("l_returnflag").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("l_extendedprice"))
        ).alias(p50),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("l_extendedprice"))
        ).alias(p90),
        F.max("n").cast("bigint").alias(n_name),
    )


def lineitem_exact_group_quantiles(spark, sf_dir):
    """Memoized exact per-group quantile table over FULL lineitem:
    (l_returnflag, exact_p50, exact_p90, exact_n), ≤|distinct flags|
    rows — bounded model state, single-file memo (consumers broadcast
    it).

    Scale honesty: this build sorts each of the ~3 flag groups through
    one task (the window is partitioned by l_returnflag only) — the
    documented exact-tier shape, acceptable ONLY because it is the
    grading reference, runs once per corpus version, and the estimate
    it grades is the production path. At deployment scale the exact
    twin is dropped or rebuilt on `_dense_rank`'s range-partitioned
    construction (`order_value_deciles_binned` is the registered scale
    twin of this whole pattern)."""
    return _li_memo(
        spark,
        sf_dir,
        "liexq",
        lambda: _rank_quantiles(
            T(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice"),
            "exact_p50",
            "exact_p90",
            "exact_n",
        ).coalesce(1),
    )

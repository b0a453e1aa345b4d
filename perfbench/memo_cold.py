"""The cold memo build that opens the ``analytics`` workload.

Right after the session starts, the ``CHAIN`` of
``plans.memo_prebuild.prebuild_chains`` is built into an empty memo root
of its own, as a prebuild at process start would run it. Only
``sareps_direct`` runs (the suffix-array ladder: prefix-doubling rounds
of shuffles and checkpoints); ``README.md`` says why the other chains
are left out. The build doubles as the JVM warm-up of ``analytics``;
its own memo root keeps it apart from the memo-free query loop, and
after the loop its consumer query is checked against its DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import os
import time

CHAIN = "sareps_direct"


@contextlib.contextmanager
def memo_root(ctx):
    """Point the package's memo root at this build's own directory."""
    os.environ["SPARK_GRAFT_CC_MEMO_DIR"] = os.path.join(ctx.run_dir, "memo-prebuild")
    try:
        yield
    finally:
        os.environ["SPARK_GRAFT_CC_MEMO_DIR"] = ctx.memo_root


def build(ctx) -> None:
    from data_ingestion_auto_spark.plans.dedup import MEMO_BUILD_LOG
    from data_ingestion_auto_spark.plans.memo_prebuild import prebuild_chains

    tr, sc = ctx.tracer, ctx.spark.sparkContext
    group = f"memo:{CHAIN}"
    with memo_root(ctx):
        thunks = dict(prebuild_chains(ctx.spark, ctx.inputs))[CHAIN]
        n_log = len(MEMO_BUILD_LOG)
        if tr.enabled:
            sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        with tr.span(f"memo.{CHAIN}"):
            for thunk in thunks:
                thunk()
        ctx.extra[f"memo.{CHAIN}.wall_s"] = time.perf_counter() - t0
    built = MEMO_BUILD_LOG[n_log:]
    if tr.enabled:
        tr.count(f"memo.{CHAIN}.build_s", sum(t for _, t in built))
        tr.count("memo.builds", len(built))
        tr.count("memo.jobs", len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the memo-free check of the query loop counts builds from here on
    ctx.memo_log_start = len(MEMO_BUILD_LOG)

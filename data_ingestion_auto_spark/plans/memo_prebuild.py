"""Concurrent prebuild of the per-corpus memo tier (optimization r13).

A cold invocation builds every memoized artifact lazily, serially, on
each consumer's first touch — ~77 s of wall at sf0.1 whose critical
path (the sig → pairs → components chain, ~20 s) is a quarter of that.
The chains are independent of each other, so the guide's §2.6 remedy
applies directly: submit them from a small thread pool and let Spark's
FIFO scheduler back-fill executors across jobs. Nothing about any
single build changes — same plans, same atomic publish (`publish_once`
already race-safe via private .building dirs + rename), same artifacts,
same results; only the idle time between independent builds goes away.

Called by bench.py before the timed loop (the build bill was already
reported out-of-band via memo_build_sec — best-of-3 erases first-touch
builds from per-query times — so accounting is unchanged: memo_build_sec
remains the wall the run spent building, now overlapped). Deployments
call it at ingest, where these artifacts are produced once per corpus
version.

Thread-safety notes: `memo.corpus_memo`'s nesting depth is thread-local;
MEMO_BUILD_LOG appends are GIL-atomic; a lost publish race falls back
to reading the winner's files.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import wait as _wait

# Past the deadline, prebuild re-cancels the unfinished chains' job
# groups every 5 s for at most this many sweeps, then returns anyway.
_DRAIN_SWEEPS = 4


def prebuild_chains(spark, sf_dir: str):
    """Return the independent memo chains as (name, thunk) lists, longest
    critical path first so the pool starts them earliest."""
    from . import REGISTRY
    from . import dedup as PD
    from . import ppjoin as PPJ
    from . import sample_memo as SM
    from .retrieval import corpus_winnowing_fpp
    from .tokenizer import corpus_bpe_vocab

    def q(name):
        # constructing a consumer query materializes its memo tables
        return lambda: REGISTRY[name].spark(spark, sf_dir)

    return [
        # sareps_pd first (optimization r14, verdict r13 #6): it is the
        # single longest BUILD and sits near the pool's critical path —
        # under 4-way concurrency its wall inflated 10 -> 24.5 s in the
        # driver's run when it started alongside three other heavy
        # chains. Starting it first lets its early exchange-heavy rounds
        # run while the pool is least contended.
        ("sareps_pd", [q("suffix_repeat_spans_unbounded")]),
        # sig -> pairs -> banded -> components: the longest chain
        ("cc_chain", [lambda: PD.corpus_components(spark, sf_dir),
                      lambda: PD.corpus_lsh_pairs_banded(spark, sf_dir)]),
        ("ppjoin", [lambda: PPJ._verified_pairs(spark, sf_dir)]),
        ("sareps_direct", [q("suffix_repeat_spans")]),
        ("ann_models", [q("semdedup_clusters"), q("semdedup_hier"),
                        q("hierarchical_kmeans_assign"), q("incremental_ann_assign")]),
        ("pq_models", [q("pq_adc_topk"), q("ivfpq_adc_topk"), q("ann_ivf_probe")]),
        ("sampling", [lambda: SM.lineitem_plan_edges(spark, sf_dir, 32),
                      lambda: SM.lineitem_exact_group_quantiles(spark, sf_dir)]),
        ("cdc_winnow", [q("cdc_chunk_dedup"),
                        lambda: corpus_winnowing_fpp(spark, sf_dir),
                        lambda: corpus_bpe_vocab(spark, sf_dir)]),
    ]


def prebuild(
    spark, sf_dir: str, max_workers: int = 2, timeout_sec: float | None = None
) -> dict[str, float]:
    """Build every memo chain concurrently; returns per-chain wall
    seconds (the per-MEMO build seconds still land in MEMO_BUILD_LOG).
    Exceptions propagate after all chains settle — a failed build must
    fail loudly, not leave a half-warm tier.

    max_workers=2 (optimization r14): on a 32-core local master the
    memo jobs are overhead-bound, so concurrent heavy chains time-slice
    each other and every build's WALL stretches — measured same-host
    A/B: workers=4 → prebuild wall 25.9 s but memo_build_sec (summed
    per-build walls) 91.6 s; workers=2 → wall 39.6 s, summed 74.0 s;
    serial ≈ summed ≈ the real ~56 s bill. Two workers keep most of the
    §2.6 overlap win while the per-memo accounting stays close to real
    cost; deployments with idle clusters can raise it.

    Bounded (optimization r14, ADVICE r13): the prebuild runs BEFORE the
    bench's per-query watchdog, and this host exhibits scheduler stalls
    that can wedge a job for minutes — an unbounded f.exception() wait
    would hang the whole bench. Each chain runs under its own
    cancellable job group; past the deadline (default
    $SPARK_GRAFT_PREBUILD_TIMEOUT_SEC or 480 s) unfinished groups are
    cancelled and their memos fall back to lazy first-touch builds
    (inside the per-query watchdog) instead of failing the run — a
    timeout is a host condition, not a build failure, so only REAL
    build errors still raise. At the deadline, chains that have not
    started are cancelled outright; running ones get at most
    ``_DRAIN_SWEEPS`` 5 s cancel sweeps, and then prebuild returns
    without waiting for them (a thread wedged outside Spark keeps
    running in the background), so it returns within
    ``timeout_sec + 5 * _DRAIN_SWEEPS`` seconds plus the last sweep's
    cancel calls."""
    import os

    if timeout_sec is None:
        timeout_sec = float(
            os.environ.get("SPARK_GRAFT_PREBUILD_TIMEOUT_SEC", "480")
        )
    chains = prebuild_chains(spark, sf_dir)
    walls: dict[str, float] = {}
    cancelled: set[str] = set()

    def run(name, thunks):
        t0 = time.perf_counter()
        sc = spark.sparkContext
        # job GROUP (not just description): the deadline path cancels by
        # group id; thread-local, so each chain is independently
        # cancellable without touching the others.
        sc.setJobGroup(f"memo-prebuild:{name}", f"memo-prebuild:{name}",
                       interruptOnCancel=True)
        try:
            for th in thunks:
                th()
        finally:
            # clear the thread-local group so a pooled thread reused by
            # a later chain (or caller) doesn't inherit this group id
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
        walls[name] = round(time.perf_counter() - t0, 3)

    deadline = time.monotonic() + timeout_sec
    pool = ThreadPoolExecutor(max_workers=max_workers)
    try:
        futs = {pool.submit(run, n, ts): n for n, ts in chains}
        not_done = set(futs)
        while not_done and time.monotonic() < deadline:
            done, not_done = _wait(
                not_done, timeout=min(5.0, max(0.1, deadline - time.monotonic()))
            )
        for f in not_done:
            cancelled.add(futs[f])
        # a chain that has not started never will; a running one is
        # cancelled by job group, re-cancelled each sweep because an
        # iterative build keeps submitting jobs (same pattern as
        # bench.py's watchdog)
        not_done = {f for f in not_done if not f.cancel()}
        for _ in range(_DRAIN_SWEEPS):
            if not not_done:
                break
            for f in not_done:
                try:
                    spark.sparkContext.cancelJobGroup(f"memo-prebuild:{futs[f]}")
                except Exception:  # noqa: BLE001
                    pass
            done, not_done = _wait(not_done, timeout=5.0)
    finally:
        pool.shutdown(wait=False, cancel_futures=True)
    for f, name in futs.items():
        # a cancelled chain may still be running: never wait on it here
        if name not in cancelled and f.exception() is not None:
            raise f.exception()
    return dict(walls)  # a chain still draining must not edit the result

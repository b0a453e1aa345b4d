"""``analytics``: a cold memo build, then memo-free registry queries in
a closed loop with one client.

The warm-up is the cold build of ``memo_cold.CHAIN`` (its own memo
root; measured as set-up). Each timed operation then constructs one
registry query, plans it, and runs it to the ``noop`` sink; its latency
spans all three steps. The query sample is the committed list in
``queries.json`` (memo-free, stratified by tag); the seed sets the
generated data and the order of every pass. Whole passes run until
``--seconds`` have passed, at least ``MIN_PASSES``, and each query
reports its best pass, in wall and in CPU seconds, as the registry bench
does: the first pass also pays for each query's code generation, which
would otherwise decide the median. After the loop, a seed-drawn quarter
of the queries are checked against their DuckDB oracles.
"""

from __future__ import annotations

import json
import os
import time

import memo_cold

MIN_PASSES = 2


def query_list(here: str) -> list[str]:
    with open(os.path.join(here, "queries.json")) as f:
        return json.load(f)["analytics"]


def _status_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return jobs, stages, tasks


def _phase_ms(qe, phase: str) -> float:
    opt = qe.tracker().phases().get(phase)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


def setup(ctx, i: int) -> None:
    from data import make_tables, write_tables

    ctx.inputs = write_tables(make_tables(ctx.seed), os.path.join(ctx.run_dir, f"inputs{i}"))


def warm_up(ctx) -> None:
    memo_cold.build(ctx)


def run(ctx) -> None:
    from data_ingestion_auto_spark import plans
    from data_ingestion_auto_spark.plans.dedup import MEMO_BUILD_LOG

    spark, tr, sf = ctx.spark, ctx.tracer, ctx.inputs
    sc = spark.sparkContext
    names = query_list(ctx.here)
    best: dict[str, float] = {}
    best_cpu: dict[str, float] = {}
    n_pass = i = 0
    t_begin = time.perf_counter()
    while n_pass < MIN_PASSES or time.perf_counter() - t_begin < ctx.seconds:
        n_pass += 1
        for name in ctx.rng.permutation(names):
            name = str(name)
            i += 1
            ctx.attempted += 1
            t0, c0 = time.perf_counter(), ctx.cpu()
            try:
                with tr.span("query", query=name):
                    if tr.enabled:
                        sc.setJobGroup(f"construct:{name}#{i}", name)
                    with tr.span("plans.construct"):
                        df = plans.REGISTRY[name].spark(spark, sf)
                    with tr.span("catalyst.plan"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    if tr.enabled:
                        sc.setJobGroup(f"run:{name}#{i}", name)
                    with tr.span("exec.run"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 - counted, reported, never dropped
                ctx.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            best[name] = min(time.perf_counter() - t0, best.get(name, float("inf")))
            best_cpu[name] = min(ctx.cpu() - c0, best_cpu.get(name, float("inf")))
            if tr.enabled:
                for phase in ("analysis", "optimization", "planning"):
                    tr.count(f"catalyst.{phase}_ms", _phase_ms(qe, phase))
                cj, _, _ = _status_counts(sc, f"construct:{name}#{i}")
                tr.count("plans.construct_jobs", cj)
                rj, rs, rt = _status_counts(sc, f"run:{name}#{i}")
                tr.count("exec.jobs", rj)
                tr.count("exec.stages", rs)
                tr.count("exec.tasks", rt)
    if tr.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ctx.ops.extend(best.values())
    ctx.ops_cpu.extend(best_cpu.values())
    ctx.work.append(sum(best.values()))
    ctx.work_cpu.append(sum(best_cpu.values()))
    ctx.extra["passes"] = n_pass

    # ---- checks, outside the timed loop ----
    grew = MEMO_BUILD_LOG[ctx.memo_log_start:]
    memo_files = os.listdir(ctx.memo_root)
    ctx.attempted += 1
    if grew or memo_files:
        ctx.fail(f"analytics built memos: {grew[:5]} {memo_files[:5]}")
    # a quarter of the sample per run, drawn from the seed, keeps the checks
    # inside the run budget; across seeds every query is checked often
    checked = ctx.rng.permutation(sorted(best))[: (len(best) + 3) // 4]
    check_outputs(ctx, [str(n) for n in checked])
    # the memo chain's consumer query, read from the memo built at set-up
    with open(os.path.join(ctx.here, "queries.json")) as f:
        consumer = json.load(f)["memo_consumer"]
    with memo_cold.memo_root(ctx):
        check_outputs(ctx, [consumer])


def check_outputs(ctx, names: list[str]) -> None:
    """Row count and order-insensitive values against the DuckDB oracle."""
    from tools.parity import compare, duck_connection

    from data_ingestion_auto_spark import plans

    con = duck_connection(ctx.inputs)
    con.execute("SET threads = 2")
    for name in names:
        q = plans.REGISTRY[name]
        ctx.attempted += 1
        try:
            got = q.spark(ctx.spark, ctx.inputs).toPandas()
            errs = compare(name, got, con.execute(q.oracle).fetchdf())
        except Exception as exc:  # noqa: BLE001
            errs = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        if errs:
            ctx.fail(f"{name}: wrong output: {errs[0][:300]}")
    con.close()

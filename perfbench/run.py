"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytics|ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. The run pins Spark to ``local[<cpus>]``,
gives itself a private directory under ``.perfbench/`` for Spark's local
dirs, the memo root, generated inputs and outputs, and removes it at the
end. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics when
``--trace 0``, the per-layer metrics when ``--trace 1``. The line before
it records the host, versions and seed. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
HARD_LIMIT_S = 170

sys.path.insert(0, HERE)
import analytics  # noqa: E402
import ingest  # noqa: E402
from ingest import JOBS as INGEST_JOBS  # noqa: E402
from memo_cold import CHAIN as MEMO_CHAIN  # noqa: E402

WORKLOADS = {"analytics": analytics, "ingest": ingest}

END_TO_END = ("setup_s", "peak_rss_mb")
# reported in the info line and as traced.* but not bounded: on a shared
# host these moved by more than any bound the benchmark may set
UNBOUNDED = ("work_s", "work_cpu_s", "op_cpu_tail_s", "op_cpu_p50_s", "op_p50_s", "op_tail_s")
PER_LAYER = (
    ["session.get_session_s", "plans.construct_s", "plans.construct_jobs",
     "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
     "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks"]
    + [f"memo.{MEMO_CHAIN}.{k}" for k in ("wall_s", "build_s")]
    + ["memo.builds", "memo.jobs", "jobs.run_due_s", "jobs.ticks", "jobs.useful_ratio"]
    + [f"pipelines.{j}.self_s" for j in INGEST_JOBS]
    + ["sources.cds_retrieve_s", "state.commit_s", "state.read_s", "state.commits",
       "sinks.overwrite_partitions_s", "sinks.retention_delete_s", "sinks.partitions_deleted",
       "streaming.start_s", "streaming.trigger_ms", "streaming.addBatch_ms",
       "streaming.input_rows", "operators.dedup.probe_band_index_s",
       "operators.dedup.write_band_index_s", "ingest.gen_late_s", "ingest.backlog_max",
       "trace.coverage"]
    + [f"traced.{m}" for m in END_TO_END + UNBOUNDED]
)
CLK_TCK = os.sysconf("SC_CLK_TCK")
UNITS = {"s": "s", "ms": "ms", "mb": "MB"}


def unit_of(name: str) -> str:
    suffix = name.rsplit("_", 1)[-1]
    if name.endswith("useful_ratio") or name.endswith("coverage"):
        return "ratio"
    if name.endswith("backlog_max"):
        return "periods"
    return UNITS.get(suffix, "count")


class Ctx:
    """Everything a workload needs, plus what it reports back."""

    def __init__(self, args, run_dir: str, tracer) -> None:
        import numpy as np

        self.here, self.root, self.run_dir = HERE, ROOT, run_dir
        self.seed, self.seconds, self.tracer = args.seed, args.seconds, tracer
        self.rng = np.random.default_rng(args.seed)
        self.memo_root = os.path.join(run_dir, "memo")
        self.spark = None
        self.inputs = ""
        self.attempted = 0
        self.failed = 0
        self.ops: list[float] = []  # per-operation latency samples
        self.ops_cpu: list[float] = []  # the same operations' CPU seconds
        self.work: list[float] = []  # per-pass work seconds
        self.work_cpu: list[float] = []
        self.extra: dict[str, float] = {}
        self.sim = None  # ingest only
        self.memo_log_start = 0  # analytics only

    def cpu(self) -> float:
        return cpu_tree_s(self.spark.sparkContext._gateway.proc.pid)

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: FAIL {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would sit under
    the median, so the maximum stands in."""
    s = sorted(values)
    n = len(s)
    if n < 21:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def cpu_tree_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    JVM's descendants (Python workers), reaped children included. Time
    the hypervisor steals from the host is not counted: on a shared host,
    wall times of the same run moved by up to 2x."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, frontier = {jvm_pid}, [jvm_pid]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(frontier)
    tree.add(os.getpid())
    return sum(ticks.get(p, 0) for p in tree) / CLK_TCK


def peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def configure_env(run_dir: str, cpus: int) -> None:
    for d in ("local", "tmp", "memo"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # Python workers start in Spark's own working directory; they find the
    # package only through PYTHONPATH, which the JVM passes down to them.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CC_MEMO_DIR"] = os.path.join(run_dir, "memo")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    sys.path.insert(0, ROOT)


def start_session(run_dir: str, tracer):
    from data_ingestion_auto_spark.session import get_session

    with tracer.span("session.get_session"):
        return get_session(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData -Xms2g -Xmn512m"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )


def install_patches(tracer) -> None:
    """Traced runs only: spans around the package calls the workloads
    cannot wrap at their own call sites."""
    from data_ingestion_auto_spark import pipelines, sinks, state
    from data_ingestion_auto_spark.operators import dedup as D
    from data_ingestion_auto_spark.sources import cds_connector

    def n_deleted(result) -> None:
        tracer.count("sinks.partitions_deleted", len(result))

    def committed(_result) -> None:
        tracer.count("state.commits")

    tracer.patch(pipelines, "overwrite_partitions", "sinks.overwrite_partitions")
    tracer.patch(sinks, "overwrite_partitions", "sinks.overwrite_partitions")
    tracer.patch(pipelines, "retention_delete", "sinks.retention_delete", n_deleted)
    tracer.patch(state.StateStore, "commit", "state.commit", committed)
    for reader in ("get", "get_all"):
        tracer.patch(state.StateStore, reader, "state.read")
    tracer.patch(cds_connector.CdsClient, "retrieve", "sources.cds_retrieve")
    tracer.patch(D, "probe_band_index", "operators.dedup.probe_band_index")
    tracer.patch(D, "write_band_index", "operators.dedup.write_band_index")


def layer_metrics(workload: str, ctx, e2e: dict[str, float]) -> dict[str, float]:
    tr = ctx.tracer
    tot = tr.totals()
    out = {m: 0.0 for m in PER_LAYER}

    def dur(name):
        return tot.get(name, {}).get("dur", 0.0)

    # share of each operation's time that its layer spans account for
    if workload == "analytics":
        covered, whole = sum(map(dur, ("plans.construct", "catalyst.plan", "exec.run"))), dur("query")
    else:
        covered, whole = sum(dur(f"pipelines.{j}") for j in INGEST_JOBS), dur("jobs.run_due")
    out["trace.coverage"] = covered / whole if whole else 0.0

    out["session.get_session_s"] = dur("session.get_session")
    out["plans.construct_s"] = dur("plans.construct")
    out["exec.run_s"] = dur("exec.run")
    out["jobs.run_due_s"] = dur("jobs.run_due")
    out["jobs.ticks"] = tot.get("jobs.run_due", {}).get("n", 0)
    for j in INGEST_JOBS:
        out[f"pipelines.{j}.self_s"] = tot.get(f"pipelines.{j}", {}).get("self", 0.0)
    for name in ("sources.cds_retrieve", "state.commit", "state.read",
                 "sinks.overwrite_partitions", "sinks.retention_delete",
                 "streaming.start", "operators.dedup.probe_band_index",
                 "operators.dedup.write_band_index"):
        out[f"{name}_s"] = dur(name)
    for name, v in tr.counts.items():
        if name in out:
            out[name] = float(v)
    out.update({k: v for k, v in ctx.extra.items() if k in out})
    for m, v in e2e.items():
        out[f"traced.{m}"] = v
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "data_ingestion_auto_spark", "__init__.py")):
        print(f"perfbench: no data_ingestion_auto_spark package under {ROOT}", file=sys.stderr)
        return 2
    from spans import Tracer

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench", run_id)
    configure_env(run_dir, cpus)
    tracer = Tracer(args.trace == 1, run_id)
    ctx = Ctx(args, run_dir, tracer)

    def on_alarm(_sig, _frame):
        print(f"perfbench: run exceeded {HARD_LIMIT_S} s", file=sys.stderr, flush=True)
        if ctx.spark is not None:
            proc = ctx.spark.sparkContext._gateway.proc
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(HARD_LIMIT_S)
    try:
        ctx.spark = start_session(run_dir, tracer)
        import pyspark

        session_ready = time.perf_counter() - T_START
        # inputs are built three times into fresh directories and the
        # median taken; the warm-up (analytics: the cold memo build;
        # ingest: band index and period 0) runs once, since a second one
        # would be warm
        workload = WORKLOADS[args.workload]
        setups = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.setup(ctx, i)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.warm_up(ctx)
        warm_up_s = time.perf_counter() - t0
        if tracer.enabled:
            tracer.reset(keep=("session.", "memo."))
            install_patches(tracer)
        workload.run(ctx)
        tracer.restore()
        ops = ctx.ops or [float("nan")]
        ops_cpu = ctx.ops_cpu or [float("nan")]
        tail_v, tail_pct = tail(ops)
        jvm_rss = peak_rss_mb(ctx.spark.sparkContext._gateway.proc.pid)
        py_rss = peak_rss_mb("self")
        e2e = {
            "setup_s": session_ready + statistics.median(setups) + warm_up_s,
            "peak_rss_mb": jvm_rss + py_rss,
        }
        unbounded = {
            "work_s": statistics.median(ctx.work) if ctx.work else float("nan"),
            "op_cpu_tail_s": tail(ops_cpu)[0],
            "work_cpu_s": statistics.median(ctx.work_cpu) if ctx.work_cpu else float("nan"),
            "op_cpu_p50_s": statistics.median(ops_cpu),
            "op_p50_s": statistics.median(ops),
            "op_tail_s": tail_v,
        }
        if tracer.enabled:
            metrics = layer_metrics(args.workload, ctx, {**e2e, **unbounded})
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.jsonl"))
        else:
            metrics = e2e
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cpus, "spark": pyspark.__version__,
            "python": sys.version.split()[0], "session_s": session_ready,
            "setup_repeats_s": setups, "warm_up_s": warm_up_s, "ops": len(ctx.ops), "tail_pct": tail_pct,
            "peak_rss_jvm_mb": jvm_rss, "peak_rss_python_mb": py_rss,
            **unbounded, **ctx.extra,
        }
    finally:
        signal.alarm(0)
        if ctx.spark is not None:
            gateway = ctx.spark.sparkContext._gateway
            ctx.spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
        shutil.rmtree(run_dir, ignore_errors=True)
    ok = ctx.failed == 0 and all(v == v for v in e2e.values())
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": ok,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

"""Regenerate ``queries.json``: the memo-free query sample for
``analytics`` and an oracle-checked consumer query of its cold memo
build (``memo_cold.CHAIN``).

    python3 perfbench/make_query_list.py

Every registered query with an oracle is built against an EMPTY memo
root on inputs generated with seed 0. A query is memo-free when it adds
nothing to ``plans.dedup.MEMO_BUILD_LOG`` and writes nothing under the
memo root; it enters the candidate pool only if it also matches its
DuckDB oracle and took no longer than the pool's median, so that the
sample measures the per-query floor and a pass is short enough for
three of them in one run. The sample is drawn round-robin over the queries' first
tags (a shuffle seeded with ``DRAW_SEED`` within each tag) until the
summed latency reaches ``TARGET_S``, so every tag contributes before any
contributes twice.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as R  # noqa: E402
from memo_cold import CHAIN  # noqa: E402

TARGET_S = 5.0
DRAW_SEED = 0


def main() -> None:
    work = os.path.join(R.ROOT, ".perfbench", "make-query-list")
    shutil.rmtree(work, ignore_errors=True)
    R.configure_env(work, len(os.sched_getaffinity(0)))
    from data import make_tables, write_tables
    from spans import Tracer
    from tools.parity import compare, duck_connection

    from data_ingestion_auto_spark import plans
    from data_ingestion_auto_spark.plans.dedup import MEMO_BUILD_LOG
    from data_ingestion_auto_spark.plans.memo_prebuild import prebuild_chains

    spark = R.start_session(work, Tracer(False, "list"))
    sf = write_tables(make_tables(0), os.path.join(work, "inputs"))
    con = duck_connection(sf)
    plans.REGISTRY["q1_pricing_summary"].spark(spark, sf).collect()

    def fresh_root(tag: str) -> str:
        root = os.path.join(work, "memo", tag)
        os.makedirs(root)
        os.environ["SPARK_GRAFT_CC_MEMO_DIR"] = root
        return root

    info: dict[str, dict] = {}
    for name in sorted(plans.REGISTRY):
        q = plans.REGISTRY[name]
        if q.oracle is None:
            continue
        root = fresh_root(name)
        n_log = len(MEMO_BUILD_LOG)
        t0 = time.perf_counter()
        try:
            df = q.spark(spark, sf)
            df._jdf.queryExecution().executedPlan()
            df.write.mode("overwrite").format("noop").save()
            err = None
        except Exception as exc:  # noqa: BLE001
            err = f"{type(exc).__name__}: {str(exc)[:200]}"
        dt = time.perf_counter() - t0
        memos = sorted({n for n, _ in MEMO_BUILD_LOG[n_log:]})
        wrote = bool(os.listdir(root))
        if err is None and not memos and not wrote:
            errs = compare(name, q.spark(spark, sf).toPandas(), con.execute(q.oracle).fetchdf())
            err = errs[0][:200] if errs else None
        info[name] = {"s": round(dt, 3), "memos": memos, "memo_root_written": wrote,
                      "tag": q.tags[0] if q.tags else "untagged", "error": err}
        print(f"{name}: {info[name]}", file=sys.stderr, flush=True)

    free = {n: v for n, v in info.items() if not v["memos"] and not v["memo_root_written"]
            and v["error"] is None}
    floor_s = float(np.median([v["s"] for v in free.values()]))
    pool = {n: v for n, v in free.items() if v["s"] <= floor_s}
    rng = np.random.default_rng(DRAW_SEED)
    strata: dict[str, list[str]] = {}
    for n in sorted(pool):
        strata.setdefault(pool[n]["tag"], []).append(n)
    for tag in strata:
        strata[tag] = [str(x) for x in rng.permutation(strata[tag])]
    order = [str(t) for t in rng.permutation(sorted(strata))]
    sample, total = [], 0.0
    while total < TARGET_S and any(strata.values()):
        for tag in order:
            if strata[tag] and total < TARGET_S:
                n = strata[tag].pop(0)
                sample.append(n)
                total += pool[n]["s"]

    fresh_root(f"chain-{CHAIN}")
    n_log = len(MEMO_BUILD_LOG)
    for thunk in dict(prebuild_chains(spark, sf))[CHAIN]:
        thunk()
    built = {n for n, _ in MEMO_BUILD_LOG[n_log:]}
    fits = [n for n, v in info.items()
            if v["memos"] and set(v["memos"]) <= built and v["error"] is None]
    out = {
        "generated_by": "perfbench/make_query_list.py",
        "draw_seed": DRAW_SEED,
        "analytics": sorted(sample),
        "analytics_estimated_pass_s": round(total, 2),
        "memo_free_pool": len(free),
        "pool_max_s": round(floor_s, 3),
        "memo_consumer": min(fits, key=lambda n: info[n]["s"]),
        "excluded": {n: v["error"] for n, v in info.items() if v["error"]},
        "memo_building": {n: v["memos"] for n, v in info.items() if v["memos"]},
    }
    with open(os.path.join(HERE, "queries.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Core-scaling probe (round-14, verdict r13 #5): time a query list at
the CURRENT $SPARK_GRAFT_CPUS core count over a given fixture, noop
sink, best-of-N — run it twice (SPARK_GRAFT_CPUS=32 and =8) over the
sf1 derived fixture and compare: at sf0.1 the bench is overhead-bound
(every 8-vs-32 ratio ≈ 1), so scale evidence needs a fixture where
compute dominates the fixed per-stage floor.

Usage: SPARK_GRAFT_CPUS=N python tools/core_scaling_probe.py <sf_dir> [--reps N] [query ...]
       SPARK_GRAFT_CPUS=N python tools/core_scaling_probe.py <sf_dir> [--reps N] --all

Times each query as construction (REGISTRY[name].spark(...) — includes any
eager subtrees / memo builds on first touch) plus a noop-sink write, and
keeps the best total of N reps. Memo state is whatever the process has
built so far, so the per-rep construct/exec split on stderr shows build
vs steady state. ``--all`` runs every registered query.

Prints one JSON line: {"cpus": N, "sf_dir": ..., "queries": {name: best_sec}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# spread/shuffle-heavy representatives of the bench's top tier, plus the
# headline four; memo-light so the probe times the query paths (the
# memo-backed CC/sareps families have their own sf1 soak in SCALE.md)
DEFAULT = [
    "q1_pricing_summary",
    "regional_revenue",
    "top_orders_by_revenue",
    "flagship_revenue_anomaly",
    "chunk_minhash_neardup",
    "minhash_lsh_candidates",
    "simhash_hamming_neighbors",
    "simhash_signatures",
    "bigram_lm_quality_ppm",
    "ccnet_quality_buckets",
    "dsir_importance_selection",
    "boilerplate_ngram_mass",
    "kmv_distinct_estimate",
    "stateful_dedup_replay",
    "rollup_revenue",
    "q21_lone_returning_supplier",
    "q9_product_type_profit",
    "exact_substring_dedup_spans",
]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0]
    reps = 2
    rest = args[1:]
    if "--reps" in rest:
        i = rest.index("--reps")
        reps = int(rest[i + 1])
        del rest[i : i + 2]

    from data_ingestion_auto_spark import plans
    from data_ingestion_auto_spark.session import get_session

    names = sorted(plans.REGISTRY) if "--all" in rest else rest or DEFAULT
    spark = get_session("core_scaling_probe")
    cpus = spark.sparkContext.defaultParallelism
    plans.REGISTRY["q1_pricing_summary"].spark(spark, sf_dir).collect()  # warm

    out: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"scale:{name}#{rep}")
            t0 = time.perf_counter()
            df = plans.REGISTRY[name].spark(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            best = min(best, t2 - t0)
            print(
                f"# {name} rep{rep}: construct={t1 - t0:.3f}s exec={t2 - t1:.3f}s",
                file=sys.stderr,
                flush=True,
            )
        out[name] = round(best, 2)
    print(json.dumps({"cpus": cpus, "sf_dir": sf_dir, "queries": out}), flush=True)


if __name__ == "__main__":
    main()

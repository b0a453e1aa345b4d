"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py --workload ingest --seeds 1 2 3

Runs the workload once untraced and once traced per seed (alternating
which goes first), each for ``SECONDS`` like the benchmark's own runs,
and prints, per end-to-end metric, the median of each side and their
difference. A traced run reports its own end-to-end figures as the
``traced.*`` per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = 12


def one(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    metrics = json.loads(out)["metrics"]
    prefix = "traced." if trace else ""
    return {k[len(prefix):]: v["value"] for k, v in metrics.items() if k.startswith(prefix)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    runs: dict[int, list[dict[str, float]]] = {0: [], 1: []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(one(args.workload, seed, SECONDS, trace))
    for m in runs[0][0]:
        off = statistics.median(r[m] for r in runs[0])
        on = statistics.median(r[m] for r in runs[1])
        print(f"{args.workload:10s} {m:12s} untraced {off:10.4f} traced {on:10.4f} "
              f"overhead {on - off:+.4f} ({(on - off) / off:+.1%})")


if __name__ == "__main__":
    main()

"""Time each memo chain of `plans.memo_prebuild.prebuild_chains` serially
(fresh process = all cold). Prints one line per chain, then the per-memo
build log.

Usage: python tools/profile_memos.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from data_ingestion_auto_spark.memo import MEMO_BUILD_LOG
    from data_ingestion_auto_spark.plans.memo_prebuild import prebuild_chains
    from data_ingestion_auto_spark.session import get_session

    spark = get_session("profile_memos")
    spark.sql("select 1").collect()  # JVM warmup

    for name, thunks in prebuild_chains(spark, sf_dir):
        t0 = time.perf_counter()
        spark.sparkContext.setJobDescription(f"memo:{name}")
        for th in thunks:
            th()
        print(f"{name}: {time.perf_counter() - t0:.2f}s", flush=True)

    print("\nMEMO_BUILD_LOG:")
    for n, dt in MEMO_BUILD_LOG:
        print(f"  {n}: {dt:.2f}s")
    print(f"total build: {sum(t for _, t in MEMO_BUILD_LOG):.2f}s")


if __name__ == "__main__":
    main()

"""Engine session defaults (session.get_session)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _block_bytes(spark) -> int:
    return spark.sparkContext._jsc.sc().conf().getSizeAsBytes("spark.broadcast.blockSize", "4m")


def test_broadcast_blocks_stay_below_humongous_threshold(spark):
    # G1's smallest region is 1 MB, so anything under 512 KiB is never
    # humongous; the engine default is 256 KiB
    assert _block_bytes(spark) <= 256 * 1024


def test_extra_conf_overrides_broadcast_block_size():
    # a fresh JVM: the block size is fixed when the SparkContext starts
    code = (
        "from data_ingestion_auto_spark.session import get_session\n"
        "s = get_session('t', master='local[1]', extra_conf={'spark.broadcast.blockSize': '1m'})\n"
        "print(s.sparkContext._jsc.sc().conf().getSizeAsBytes('spark.broadcast.blockSize'))\n"
        "s.stop()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    assert out.split()[-1] == str(1024 * 1024)

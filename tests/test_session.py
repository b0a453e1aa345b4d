"""Engine session defaults (session.get_session, session.heap_defaults)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from data_ingestion_auto_spark.session import (
    PAGE_MIB,
    REGION_MIB,
    _mib,
    g1_region_mib,
    heap_defaults,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MiB = 1 << 20
REGION_OPT = f"-XX:G1HeapRegionSize={REGION_MIB}m"


def _block_bytes(spark) -> int:
    return spark.sparkContext._jsc.sc().conf().getSizeAsBytes("spark.broadcast.blockSize", "4m")


def _fresh_jvm(driver_mem: str, extra_conf: dict[str, str] | None = None) -> dict:
    """Start a fresh ``local[1]`` session (static confs are fixed when the
    JVM starts) and report its region size, Tungsten page size, unified
    memory region and broadcast block size."""
    code = (
        "import json, sys\n"
        "from data_ingestion_auto_spark.session import get_session\n"
        "s = get_session('t', master='local[1]', extra_conf=json.loads(sys.argv[1]))\n"
        "jvm, sc = s.sparkContext._jvm, s.sparkContext._jsc.sc()\n"
        "hs = jvm.java.lang.Class.forName('com.sun.management.HotSpotDiagnosticMXBean')\n"
        "bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(hs)\n"
        "mm = sc.env().memoryManager()\n"
        "print(json.dumps({'region': int(bean.getVMOption('G1HeapRegionSize').getValue()),\n"
        "  'page': mm.pageSizeBytes(), 'unified': mm.maxHeapMemory(),\n"
        "  'block': sc.conf().getSizeAsBytes('spark.broadcast.blockSize')}))\n"
        "s.stop()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": driver_mem}
    out = subprocess.run(
        [sys.executable, "-c", code, json.dumps(extra_conf or {})], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_broadcast_blocks_stay_below_humongous_threshold(spark):
    # G1 allocates half a region or more as humongous: 256 KiB is under
    # half of every region size (1-32 MB), the 4 MB the session sets on
    # small driver heaps included
    assert _block_bytes(spark) <= 256 * 1024


def test_extra_conf_overrides_broadcast_block_size():
    got = _fresh_jvm("512m", {"spark.broadcast.blockSize": "1m"})
    assert got["block"] == 1024 * 1024


def test_small_driver_heap_gets_4m_regions_and_1m_pages():
    # the benchmark's heap: G1 alone picks 1 MB regions and Spark 64 MiB
    # pages at one core
    got = _fresh_jvm("2g")
    assert got["region"] == 4 * MiB
    assert got["page"] == 1 * MiB
    assert 8192 * got["page"] >= got["unified"]


def test_extra_conf_overrides_region_and_page_size():
    got = _fresh_jvm("2g", {
        "spark.driver.defaultJavaOptions": "-XX:G1HeapRegionSize=2m",
        "spark.buffer.pageSize": "2m",
    })
    assert (got["region"], got["page"]) == (2 * MiB, 2 * MiB)


@pytest.mark.parametrize("master, conf, region, page", [
    ("local[4]", {"spark.driver.memory": "512m"}, True, True),
    ("local[4]", {"spark.driver.memory": "2g"}, True, True),
    # G1 picks 8 MB regions itself at 12g; 8192 x 1 MiB still covers
    # (12g - 300m) x 0.6
    ("local[4]", {"spark.driver.memory": "12g"}, False, True),
    # (16g - 300m) x 0.6 is more than 8192 pages of 1 MiB
    ("local[4]", {"spark.driver.memory": "16g"}, False, False),
    # the executors run the tasks: a 32g executor keeps Spark's pages
    ("spark://head:7077", {"spark.driver.memory": "2g", "spark.executor.memory": "32g"},
     True, False),
    ("spark://head:7077", {"spark.driver.memory": "2g", "spark.executor.memory": "4g"},
     True, True),
])
def test_heap_defaults_table(master, conf, region, page):
    got = heap_defaults(master, conf)
    assert ("spark.driver.defaultJavaOptions" in got) == region
    assert ("spark.buffer.pageSize" in got) == page


@pytest.mark.parametrize("heap", ["256m", "512m", "1g", "2g", "4g", "4097m", "8g", "12g",
                                  "13g", "14g", "16g", "64g"])
def test_heap_defaults_invariants(heap):
    for master, conf in [
        ("local[4]", {"spark.driver.memory": heap}),
        ("yarn", {"spark.driver.memory": "2g", "spark.executor.memory": heap}),
    ]:
        got = heap_defaults(master, conf)
        driver = _mib(conf["spark.driver.memory"])
        region = g1_region_mib(driver)
        if "spark.driver.defaultJavaOptions" in got:
            # never below G1's own choice
            assert got["spark.driver.defaultJavaOptions"] == REGION_OPT
            assert region < REGION_MIB
            region = REGION_MIB
        if "spark.buffer.pageSize" in got:
            # under half a driver region, and 8192 pages cover the largest
            # on-heap execution pool of every JVM the session starts
            assert 2 * PAGE_MIB < region
            for h in map(_mib, conf.values()):
                assert 8192 * PAGE_MIB >= (h - 300) * 0.6


def test_g1_region_matches_jdk_ergonomics():
    # heap / 2048 rounded up to a power of two (JDK 17), 1..32 MB
    assert [g1_region_mib(_mib(h)) for h in ("512m", "2g", "4g", "4097m", "8g", "12g", "64g")] \
        == [1, 1, 2, 4, 4, 8, 32]

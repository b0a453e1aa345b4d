"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (one JVM); the configs below are the ones
that matter at cluster scale too: AQE for runtime re-planning (join strategy
switch, shuffle-partition coalescing, skew-join splitting), Arrow for any
pandas-UDF exchange, and UTC session timezone (oracle comparability).
Dynamic partition overwrite is not a session setting: the one partitioned
overwrite, ``sinks.overwrite_partitions``, passes it as a write option.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Slightly below the core count: leaves idle slots so speculative copies
# of stalled tasks (this host exhibits intermittent thread stalls) can
# launch immediately instead of waiting for the stalled wave to finish.
DEFAULT_SHUFFLE_PARTITIONS = max(4, int(os.environ.get("SPARK_GRAFT_CPUS", "32")) * 3 // 4)

# Heap-derived defaults (`heap_defaults`). A task addresses at most 8192
# Tungsten pages (TaskMemoryManager.PAGE_TABLE_SIZE), and Spark's unified
# memory region is (heap - 300 MiB reserved) x spark.memory.fraction, all
# of which one task's execution may claim by evicting storage.
REGION_MIB = 4
PAGE_MIB = 1
_TASK_PAGES = 8192
_RESERVED_MIB = 300


def _mib(size: str) -> float:
    """A Spark memory size in MiB; no unit means MiB, as for
    ``spark.driver.memory`` and ``spark.executor.memory``."""
    m = re.fullmatch(r"(\d+)([kmgt]?)(b?)", size.strip().lower())
    if not m:
        raise ValueError(f"not a memory size: {size!r}")
    n, unit, b = m.groups()
    if b and not unit:
        return int(n) / (1 << 20)
    return int(n) * 1024.0 ** "kmgt".index(unit or "m") / 1024


def g1_region_mib(heap_mib: float) -> int:
    """The region size G1 picks for a heap on its own (JDK 17): heap / 2048
    rounded UP to a power of two, between 1 and 32 MB."""
    region = 1
    while region < min(heap_mib / 2048, 32):
        region *= 2
    return region


def heap_defaults(master: str, conf: dict[str, str]) -> dict[str, str]:
    """Static JVM and Spark defaults that follow from the heaps a session
    with ``conf`` launches (``spark.driver.memory``, and
    ``spark.executor.memory`` when ``master`` is not local):

    - ``-XX:G1HeapRegionSize=4m`` in ``spark.driver.defaultJavaOptions``
      where G1 itself would pick smaller driver regions (heaps up to
      4 GB). The humongous threshold, half a region, becomes 2 MB, so
      Spark's 1 MiB task-result, collect and parquet-writer buffers are
      ordinary young allocations. Never below G1's own choice.
    - ``spark.buffer.pageSize=1m`` where 8192 pages of 1 MiB still cover
      the largest execution pool one task may claim, on the driver and,
      off a local master, on the executors too: heaps up to ~13.6 GB at
      the default memory fraction. A 1 MiB page is under half the driver's
      region at every heap; Spark's own default (execution pool / cores /
      16, 1 to 64 MiB) makes every sorter and hash-map page humongous.
      The trade: one task addresses at most 8 GiB of pages.

    Bigger heaps keep the JVM's and Spark's ergonomics. ``conf`` is the
    session's conf with the caller's ``extra_conf`` applied; `get_session`
    lets an ``extra_conf`` value for either key win over these, and the
    derived JVM option replaces a ``spark-defaults.conf`` value of
    ``spark.driver.defaultJavaOptions``."""
    local = master == "local" or master.startswith("local[")
    driver = _mib(conf.get("spark.driver.memory", "1g"))
    heaps = [driver] if local else [driver, _mib(conf.get("spark.executor.memory", "1g"))]
    fraction = float(conf.get("spark.memory.fraction", "0.6"))
    out = {}
    if g1_region_mib(driver) < REGION_MIB:
        out["spark.driver.defaultJavaOptions"] = f"-XX:G1HeapRegionSize={REGION_MIB}m"
    if all(_TASK_PAGES * PAGE_MIB >= (h - _RESERVED_MIB) * fraction for h in heaps):
        out["spark.buffer.pageSize"] = f"{PAGE_MIB}m"
    return out


def get_session(
    app_name: str = "data_ingestion_auto_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Scale notes: every setting here is declarative and survives a move from
    ``local[32]`` to a 1000-executor cluster — nothing pins data to the
    driver. ``spark.sql.shuffle.partitions`` is only the pre-AQE upper
    bound; AQE coalesces to the real parallelism at runtime.

    Heap notes: ``spark.broadcast.blockSize`` is 256k, not Spark's 4m, and
    `heap_defaults` adds 4 MB G1 regions and 1 MiB Tungsten pages on the
    heaps where they fit; SCALE.md "Driver and executor heaps" has the
    rules and their measurements. A caller's ``extra_conf`` overrides any
    of them. The static ones (driver memory, JVM options, page size) act
    only when this call launches the JVM: ``getOrCreate()`` on a running
    SparkContext keeps the values it started with.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Stragglers: re-launch slow tasks (this host shows intermittent
        # multi-second thread stalls; on a real cluster this guards against
        # slow nodes).
        .config("spark.speculation", "true")
        .config("spark.speculation.interval", "1s")
        .config("spark.speculation.multiplier", "2")
        .config("spark.speculation.quantile", "0.5")
        .config("spark.ui.enabled", "false")
        # Gate-time memory budget (VERDICT r10 item #1): the driver's
        # correctness gate runs this JVM NEXT TO a DuckDB oracle process
        # on the same host; r10 recorded 3 oracle-side OOMs (DuckDB
        # failed to allocate 2 KiB on a trivial projection) because a
        # 16g JVM heap plus page cache starved it. 12g is ample for the
        # sf0.1 bench surface (measured: no spills at 12g) and leaves
        # the oracle ~4g of headroom on a 16-core/32g gate host. Raise
        # via SPARK_GRAFT_DRIVER_MEM for bigger local experiments.
        .config("spark.driver.memory", driver_memory)
        # Every broadcast (each stage's task binary, each parquet scan's
        # Hadoop conf, broadcast-join relations) is cut by
        # TorrentBroadcast.blockifyObject, which first allocates a
        # blockSize heap buffer (default 4m). G1 calls any array of half
        # a region or more humongous and gives it whole fresh regions: a
        # 4 MB chunk plus its header is humongous at every region size
        # up to 8 MB, so on every heap up to 16 GB. 256k stays below the
        # threshold at every region size (the smallest is 1 MB, threshold
        # 512 KB); measured on the analytics benchmark, 664 MB of
        # humongous chunks go and peak RSS falls by ~200 MB. The
        # trade: a 100 MB broadcast becomes 400 pieces instead of 25, more
        # BlockManager entries and, on a cluster, more fetches; in local
        # mode nothing is fetched.
        .config("spark.broadcast.blockSize", "256k")
    )
    extra_conf = extra_conf or {}
    derived = heap_defaults(master, {"spark.driver.memory": driver_memory, **extra_conf})
    for k, v in {**derived, **extra_conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Re-apply runtime SQL confs in case getOrCreate() reused a session.
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        # events.parquet stores TIMESTAMP(NANOS); Spark's reader has no
        # nanos timestamp type — read as long, normalized in sources.tables.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }.items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")
    return spark

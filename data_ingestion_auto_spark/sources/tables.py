"""Fixture-table readers.

The engine's storage model is partitioned parquet (schema-on-read, columnar,
predicate pushdown + column pruning for free). At 100 TB these reads become
multi-file partitioned scans; nothing here assumes single files — the paths
are just what the test harness provides.

Reference parity: the reference opens NetCDF/GeoTIFF into arrays
(reference ingest/ecmwf_opendata/__init__.py:296, SURVEY S6); here a scan is
``spark.read.parquet`` and Catalyst prunes columns/partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any scale factor: their
# cardinality is fixed (or near-fixed) by the schema, not the data volume.
BROADCAST_TABLES = {"region", "nation"}


def ensure_session_confs(spark: SparkSession) -> None:
    """Session bootstrap for externally-created sessions.

    The driver hands queries a vanilla session (not our ``get_session``),
    but every timezone-sensitive expression must see UTC or the DuckDB hash
    comparison shifts on a non-UTC JVM default, and the nanos-timestamp
    events parquet needs ``nanosAsLong`` to scan at all. Idempotence is
    checked against the LIVE conf values, not a tracked id() set: a
    stopped-and-collected session's id can be reused by a new session,
    which would silently skip the bootstrap and shift timestamps (round-3
    advice). Two conf reads per table load are trivially cheap next to a
    parquet scan.
    """
    try:
        # No fallback args: Spark VALIDATES fallback values (an empty-string
        # timezone throws INVALID_CONF_VALUE), and both keys have JVM
        # defaults so a plain get always returns something.
        if (
            spark.conf.get("spark.sql.session.timeZone") == "UTC"
            and spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        ):
            return
    except Exception:  # noqa: BLE001 — unreadable conf => just (re)set
        pass
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def spread(df: DataFrame) -> DataFrame:
    """Spread a SCAN-STARVED input across the cluster before heavy
    map-side compute (optimization r13; guide §2.5 "input skew: one huge
    unsplittable file … otherwise repartition immediately after the
    read"). Spark fuses per-row work (md5, shingle explodes, array
    lambdas) into the scan stage, so its parallelism is the SCAN's: the
    local fixtures are single-row-group parquet files, which no conf can
    split — every text query was running its whole tokenize/hash phase
    as ONE task on a 32-core host (measured: winnowing_fingerprints
    2.9 s → 1.2 s from this alone).

    Scale-adaptive, not a local[32] tune: the estimated scan task count
    (Σ ceil(file_size / maxPartitionBytes)) is compared against the
    session's default parallelism, and the repartition only fires when
    the scan genuinely cannot feed the cluster — at real scale inputs
    arrive as many files/row groups and this is a no-op. Unknown
    schemes/sizes (object stores) are treated as "parallel enough".
    Round-robin repartition is retry-deterministic (Spark sorts before
    round-robin partitioning, SPARK-23207), and every consumer is
    input-order-insensitive by construction (each oracled query already
    hash-matches DuckDB, which aggregates in a different order)."""
    import math

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if par <= 1:
        return df
    try:
        raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
        max_split = int(raw.lower().rstrip("b")) or 1
    except ValueError:
        max_split = 128 * 1024 * 1024
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — no scan relation (e.g. local rows)
        return df
    est_tasks = 0
    for f in files:
        if not f.startswith("file:"):
            return df  # remote store: size unknown, assume splittable
        try:
            est_tasks += max(
                1, math.ceil(os.path.getsize(f[len("file:") :]) / max_split)
            )
        except OSError:
            return df
        if est_tasks >= par:
            return df
    if est_tasks >= par or not files:
        return df
    return df.repartition(par)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is parquet TIMESTAMP(NANOS): read as nanos-since-epoch long
    # (spark.sql.legacy.parquet.nanosAsLong), FLOOR-divided here to
    # microseconds — matching DuckDB's TIMESTAMP_NS→TIMESTAMP cast — as a
    # naive (ntz) timestamp. Spark's `div` truncates toward zero, which
    # differs from floor for PRE-EPOCH nanos with a sub-µs remainder
    # (review r11, verified: -1500 ns is -2 µs in DuckDB but -1 µs under
    # `div`), so negative remainders get the explicit -1 correction.
    # Integer arithmetic throughout: double division would lose precision
    # past 2^53 ns (~104 days from epoch).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr(
                "CAST(timestamp_micros(ts div 1000 - IF(ts % 1000 < 0, 1, 0)) "
                "AS TIMESTAMP_NTZ)"
            ),
        )
    return df

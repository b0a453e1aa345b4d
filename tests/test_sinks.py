"""Sink semantics: idempotent partition overwrite (K2/W9) and retention
(K8/K9)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_ingestion_auto_spark.sinks import overwrite_partitions, retention_delete, write_partitioned


def _batch(spark, day: str, values):
    return spark.createDataFrame(
        [(day, i, float(v)) for i, v in enumerate(values)], "day string, id int, value double"
    )


def test_overwrite_partitions_idempotent(spark, tmp_path):
    """Running the same batch twice yields the same table — the reference's
    delete-then-insert upsert (raster_vector.py:146-164) as dynamic
    partition overwrite."""
    out = str(tmp_path / "t")
    overwrite_partitions(_batch(spark, "2024-01-01", [1, 2, 3]), out, ["day"])
    overwrite_partitions(_batch(spark, "2024-01-01", [1, 2, 3]), out, ["day"])
    df = spark.read.parquet(out)
    assert df.count() == 3


def test_overwrite_only_touched_partitions(spark, tmp_path):
    """A new batch for day 2 must not disturb day 1 (dynamic, not static,
    overwrite)."""
    out = str(tmp_path / "t")
    overwrite_partitions(_batch(spark, "2024-01-01", [1, 2, 3]), out, ["day"])
    overwrite_partitions(_batch(spark, "2024-01-02", [9]), out, ["day"])
    df = spark.read.parquet(out)
    assert df.filter(F.col("day") == "2024-01-01").count() == 3
    assert df.filter(F.col("day") == "2024-01-02").count() == 1
    # re-publish day 2 with different content → replaced, not appended
    overwrite_partitions(_batch(spark, "2024-01-02", [7, 8]), out, ["day"])
    assert spark.read.parquet(out).filter(F.col("day") == "2024-01-02").count() == 2



def test_overwrite_partitions_on_static_session_leaves_conf(spark, tmp_path):
    """On a session whose conf says STATIC overwrite (Spark's default,
    e.g. a caller's vanilla session), day 2 still leaves day 1 in place,
    and the caller's conf is not rewritten."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "t")
        overwrite_partitions(_batch(spark, "2024-01-01", [1, 2, 3]), out, ["day"])
        overwrite_partitions(_batch(spark, "2024-01-02", [9]), out, ["day"])
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prior)
    df = spark.read.parquet(out)
    assert df.filter(F.col("day") == "2024-01-01").count() == 3
    assert df.filter(F.col("day") == "2024-01-02").count() == 1

def test_retention_hive_escaped_timestamps(spark, tmp_path):
    """Colons in partition values are Hive-escaped (`%3A`) on disk; the
    watermark compare must use the decoded value — raw `%3A` sorts below
    `:` and a partition would compare older than itself."""
    out = str(tmp_path / "t")
    for ts in ["2024-01-01T00:00:00", "2024-01-02T00:00:00"]:
        write_partitioned(_batch(spark, ts, [1]), out, ["day"])
    deleted = retention_delete(out, "day", "2024-01-02T00:00:00")
    assert deleted == ["2024-01-01T00:00:00"]
    assert spark.read.parquet(out).count() == 1


def test_retention_deletes_strictly_older(spark, tmp_path):
    """K8: partitions strictly below the watermark go; the watermark
    partition itself stays (reference utils.py:139-162 `< latest`)."""
    out = str(tmp_path / "t")
    for day in ["2024-01-01", "2024-01-02", "2024-01-03"]:
        write_partitioned(_batch(spark, day, [1]), out, ["day"])
    deleted = retention_delete(out, "day", "2024-01-02")
    assert deleted == ["2024-01-01"]
    # partition values are type-inferred back as DATE — compare as strings
    remaining = {str(d.day) for d in spark.read.parquet(out).select("day").distinct().collect()}
    assert remaining == {"2024-01-02", "2024-01-03"}
    assert not os.path.exists(os.path.join(out, "day=2024-01-01"))

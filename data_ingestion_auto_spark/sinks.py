"""Sinks: partitioned parquet writes, idempotent partition overwrite,
retention (SURVEY §2.2 K1/K2/K8/K9).

The reference writes one COG per (variable, level, timestamp) with the
timestamp embedded in the filename (ecmwf_opendata/__init__.py:306-314) and
upserts vector rows per date via delete-then-insert
(raster_vector.py:146-164). Spark-first restatement:

- the timestamp-in-filename IS the partition column → `partitionBy(...)`
- delete-then-insert upsert → dynamic partition overwrite (only the
  partitions present in the batch are replaced; other partitions untouched)
- retention → partition-directory delete below the watermark

At 100 TB: partition columns are (namespace, date-ish); writers never
repartition to 1 — output parallelism follows the upstream plan, and
dynamic overwrite keeps re-publication idempotent per partition (W9).
"""

from __future__ import annotations

import os
import re
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """K1: append a batch into a partitioned parquet table."""
    df.write.mode("append").partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """K2/W9: idempotent per-partition overwrite (delete-then-insert of
    exactly the partitions present in `df`). Dynamic partition overwrite
    is a per-write option, so the caller's session conf is left as it
    was."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


_PART_RE = re.compile(r"^(?P<col>[^=]+)=(?P<val>.*)$")


def retention_delete(path: str, partition_col: str, watermark: str) -> list[str]:
    """K8/K9: drop partitions strictly older than the watermark.

    Walks first-level partition dirs `col=value`, lexicographic compare on
    the DECODED value — correct for ISO dates/zero-padded values (the same
    contract as the reference's filename-timestamp regex delete,
    utils.py:139-162). Hive-escapes special chars in dir names (`:` →
    `%3A`), so values must be unquoted before comparing: the raw `%3A`
    sorts below `:` and would make a partition compare older than itself.
    Returns deleted partition values.
    """
    deleted: list[str] = []
    if not os.path.isdir(path):
        return deleted
    for entry in sorted(os.listdir(path)):
        m = _PART_RE.match(entry)
        if not m or m.group("col") != partition_col:
            continue
        val = unquote(m.group("val"))
        if val < watermark:
            shutil.rmtree(os.path.join(path, entry))
            deleted.append(val)
    return deleted

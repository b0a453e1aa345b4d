"""Focused tests for round-13 optimization internals: the integer-lane
Hamming twin and the presentation-sort helpers (order equivalence).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_hamming_spark_matches_portable_sql(spark):
    """_hamming_spark (two conv() lanes + bit_count(xor)) must equal the
    portable 64-term substr sum on random and adversarial bit strings —
    including the high-bit-set lane (conv of '1...' parses above 2^31,
    the signedness trap the lane split exists to avoid)."""
    from data_ingestion_auto_spark.plans.dedup import _hamming_spark, _hamming_sql

    rng = random.Random(13)
    rows = []
    for _ in range(50):
        a = "".join(rng.choice("01") for _ in range(64))
        b = "".join(rng.choice("01") for _ in range(64))
        rows.append((a, b))
    rows += [
        ("0" * 64, "0" * 64),
        ("1" * 64, "1" * 64),
        ("1" * 64, "0" * 64),
        ("1" + "0" * 63, "0" * 63 + "1"),
    ]
    df = spark.createDataFrame(rows, "sig_a string, sig_b string")
    got = df.select(
        F.expr(_hamming_spark("sig_a", "sig_b")).alias("fast"),
        F.expr(_hamming_sql("sig_a", "sig_b")).alias("portable"),
    ).collect()
    for r in got:
        assert r["fast"] == r["portable"]


def test_sort_small_and_sort_cut_preserve_global_order(spark):
    """Both presentation-sort helpers must return exactly orderBy's row
    sequence (collect order included — a single sorted partition, or a
    parallel range sort over the checkpointed frame)."""
    from data_ingestion_auto_spark.plans.helpers import sort_cut, sort_small

    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 101).alias("k"), F.col("id").alias("v")
    ).repartition(7)
    want = [tuple(r) for r in df.orderBy("k", "v").collect()]
    assert [tuple(r) for r in sort_small(df, "k", "v").collect()] == want
    assert [tuple(r) for r in sort_cut(df, "k", "v").collect()] == want
    assert sort_small(df, "k", "v").rdd.getNumPartitions() == 1

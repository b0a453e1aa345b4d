"""Scalar function library: pentad calendar (all 6 branches of the
reference's dateutils.py:22-39), unit-convert dispatch incl. unknown-op
error, clamp properties (SURVEY §5 items 3-4)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_ingestion_auto_spark.functions import (
    UnknownDataConvertOperation,
    clamp,
    convert_data,
    pentad_of_day,
)


@pytest.fixture(scope="module")
def day_pentads(spark):
    df = spark.createDataFrame([(d,) for d in range(1, 32)], "day int")
    rows = df.select("day", pentad_of_day(F.col("day")).alias("p")).collect()
    return {r.day: r.p for r in rows}


def test_pentad_all_six_branches(day_pentads):
    assert day_pentads[1] == 1 and day_pentads[5] == 1
    assert day_pentads[6] == 2 and day_pentads[10] == 2
    assert day_pentads[11] == 3 and day_pentads[15] == 3
    assert day_pentads[16] == 4 and day_pentads[20] == 4
    assert day_pentads[21] == 5 and day_pentads[25] == 5
    # 6th pentad absorbs month ends: 26..31 (dateutils.py:37-39)
    for d in range(26, 32):
        assert day_pentads[d] == 6


def test_pentad_total_ordering(day_pentads):
    """Property: pentad is monotone non-decreasing in day-of-month."""
    for d in range(1, 31):
        assert day_pentads[d] <= day_pentads[d + 1]


def test_convert_data_ops(spark):
    df = spark.createDataFrame([(300.0,)], "v double")
    out = df.select(
        convert_data(F.col("v"), 273.15, "subtract").alias("sub"),
        convert_data(F.col("v"), 1000.0, "multiply").alias("mul"),
        convert_data(F.col("v"), 100.0, "divide").alias("div"),
        convert_data(F.col("v"), 0.5, "add").alias("add"),
    ).collect()[0]
    assert out.sub == pytest.approx(26.85)
    assert out.mul == 300000.0
    assert out.div == 3.0
    assert out.add == 300.5


def test_convert_data_unknown_op_raises():
    """Strict-op check at compile time (reference raises mid-pipeline at
    utils.py:175; we fail before any executor work)."""
    with pytest.raises(UnknownDataConvertOperation):
        convert_data(F.lit(1.0), 2.0, "modulo")


@settings(max_examples=20, deadline=None)
@given(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
def test_clamp_property(spark, v):
    """Property: clamp output always within [lo, hi]; identity inside."""
    out = spark.createDataFrame([(v,)], "v double").select(
        clamp(F.col("v"), -180.0, 180.0).alias("c")
    ).collect()[0].c
    assert -180.0 <= out <= 180.0
    if -180.0 <= v <= 180.0:
        assert out == v


def test_hmac_sha256_matches_stdlib_and_rfc4231(spark):
    """F10 (reference ingest/__init__.py:98-101): the codegen ipad/opad
    construction equals Python's hmac for ASCII keys, >64-byte keys
    (pre-hashed), empty payloads, and unicode payloads."""
    import hmac as pyhmac
    import hashlib

    from pyspark.sql import functions as F

    from data_ingestion_auto_spark.functions import hmac_sha256

    cases = [
        ("shared-secret", '{"namespace":"ecmwf_forecast","key":1}'),
        ("Jefe", "what do ya want for nothing?"),  # RFC 4231 test case 2
        ("k" * 131, "Test Using Larger Than Block-Size Key"),  # >64B key
        ("key", ""),
        ("key", "unicode payload: naïve café ☔"),
    ]
    df = spark.createDataFrame([(i, m) for i, (_, m) in enumerate(cases)], "i long, msg string")
    for i, (key, msg) in enumerate(cases):
        got = (
            df.filter(F.col("i") == i)
            .select(hmac_sha256(key, F.col("msg")).alias("sig"))
            .collect()[0]["sig"]
        )
        expect = pyhmac.new(key.encode(), msg.encode(), hashlib.sha256).hexdigest()
        assert got == expect, (key, msg)


_MD5_INPUTS = ["spark-graft", "", "naïve ☃ 日本語", None]


@pytest.mark.parametrize("start, ndigits", [(1, 1), (2, 1), (1, 3), (1, 5), (1, 8), (9, 8)])
def test_md5_hex_int_pair_matches_python(spark, start, ndigits):
    """The Spark decode (`md5_hex_int`, one conv) and the oracle decode
    (`md5_hex_int_sql`, a nibble sum run in DuckDB) both equal Python's
    int() of the same md5 hex digits; NULL in gives NULL out. The house
    25 % split follows the first digit in both engines."""
    import hashlib

    import duckdb

    from data_ingestion_auto_spark.functions.scalars import (
        md5_hex_int,
        md5_hex_int_sql,
        md5_quarter,
    )

    def want(s):
        if s is None:
            return None, None
        hx = hashlib.md5(s.encode()).hexdigest()
        return int(hx[start - 1 : start - 1 + ndigits], 16), int(hx[0], 16) < 4

    expect = {s: want(s) for s in _MD5_INPUTS}
    got_spark = {
        r.s: (r.h, r.q)
        for r in spark.createDataFrame([(s,) for s in _MD5_INPUTS], "s string")
        .select(
            "s",
            F.expr(md5_hex_int("s", ndigits, start)).alias("h"),
            F.expr(md5_quarter("s")).alias("q"),
        )
        .collect()
    }
    values = ", ".join("(NULL)" if s is None else "('" + s + "')" for s in _MD5_INPUTS)
    got_duck = dict(
        (s, (h, q))
        for s, h, q in duckdb.sql(
            f"SELECT s, {md5_hex_int_sql('s', ndigits, start)},"
            f" {md5_quarter('s', oracle=True)} FROM (VALUES {values}) t(s)"
        ).fetchall()
    )
    assert got_spark == expect
    assert got_duck == expect


@pytest.mark.parametrize("start, ndigits", [(1, 16), (1, 0), (25, 9), (32, 2), (0, 4)])
def test_md5_hex_int_rejects_inexact_ranges(start, ndigits):
    """More than 15 digits overflow a BIGINT; digits past the 32-digit
    md5 string read as empty substrings (constant bits). Both spellings
    refuse to generate either."""
    from data_ingestion_auto_spark.functions.scalars import md5_hex_int, md5_hex_int_sql

    for decode in (md5_hex_int, md5_hex_int_sql):
        with pytest.raises(ValueError):
            decode("s", ndigits, start)

"""Scalar function library — config-compiled Column expressions.

Replicates the reference's scalar semantics (SURVEY §2.8) as pure
`pyspark.sql.functions` compositions: everything stays JVM-side inside
whole-stage codegen; no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class UnknownDataConvertOperation(Exception):
    """Strict-op check, replicating reference ingest/errors.py +
    utils.py:175 (unknown convert op raises)."""


_OPS = {
    "multiply": lambda c, k: c * F.lit(k),
    "divide": lambda c, k: c / F.lit(k),
    "subtract": lambda c, k: c - F.lit(k),
    "add": lambda c, k: c + F.lit(k),
}


def convert_data(col: Column, constant: float, operation: str) -> Column:
    """F1: elementwise {*,/,-,+} with a constant, compiled from config.

    Reference: ``convert_data`` at ingest/utils.py:165-175 (dispatch) with
    configs like K→°C subtract 273.15 (ecmwf_opendata/__init__.py:19-23),
    m→mm ×1000, Pa→hPa ÷100. Unknown op raises at compile time — stricter
    than the reference, which raises mid-pipeline.
    """
    if operation not in _OPS:
        raise UnknownDataConvertOperation(operation)
    return _OPS[operation](col, constant)


def wind_speed(u: Column, v: Column) -> Column:
    """F2: sqrt(u² + v²) — reference ecmwf_opendata/__init__.py:495-497."""
    return F.sqrt(u * u + v * v)


def hmac_sha256(key: str | bytes, payload: Column) -> Column:
    """F10: true HMAC-SHA256 over a string payload column — the reference
    signs webhook POST bodies with ``hmac.new(secret, body, sha256)``
    (reference ingest/__init__.py:98-101).

    RFC 2104 ipad/opad construction as pure built-ins: the key is padded
    (or pre-hashed when >64 bytes) driver-side into two literal 64-byte
    XOR'd blocks, and the two SHA-256 passes run JVM-side on binary concat
    — whole-stage codegen, no UDF, constant per-row cost at any scale.
    Returns the lowercase hex digest (matching ``hexdigest()``).

    Oracle note: not DuckDB-checkable — its ``sha256`` only accepts
    VARCHAR and the inner digest is raw bytes; correctness is pinned by
    the RFC 4231 / stdlib-hmac vectors in tests/test_functions.py.
    """
    import hashlib

    kb = key.encode() if isinstance(key, str) else bytes(key)
    if len(kb) > 64:  # RFC 2104: long keys are hashed first
        kb = hashlib.sha256(kb).digest()
    kb = kb.ljust(64, b"\x00")
    ipad = bytes(b ^ 0x36 for b in kb).hex()
    opad = bytes(b ^ 0x5C for b in kb).hex()
    inner_hex = F.sha2(F.concat(F.unhex(F.lit(ipad)), payload.cast("binary")), 256)
    return F.lower(F.sha2(F.concat(F.unhex(F.lit(opad)), F.unhex(inner_hex)), 256))


def clamp(col: Column, lo: float, hi: float) -> Column:
    """F8: coordinate clamp — reference raster_vector.py:15-23 clamps
    lon to [−180,180], lat to [−90,90]. NaN PROPAGATES (review r11):
    Spark's greatest/least order NaN above every double, so the bare
    composition would map a NaN coordinate to exactly ``hi`` — turning a
    broken upstream value into a plausible point on the boundary. The
    reference's numpy-style clamp keeps NaN NaN (routed to nodata
    downstream), so we guard explicitly."""
    clamped = F.greatest(F.least(col, F.lit(hi)), F.lit(lo))
    return F.when(F.isnan(col), col).otherwise(clamped)


def pentad_of_day(day: Column) -> Column:
    """F5/W6: pentad number 1-6 within a month. NOT uniform 5-day windows —
    the 6th pentad absorbs month ends (reference dateutils.py:18-41), so a
    `window('5 days')` would be wrong (SURVEY §7.4).
    """
    return (
        F.when(day <= 5, 1)
        .when(day <= 10, 2)
        .when(day <= 15, 3)
        .when(day <= 20, 4)
        .when(day <= 25, 5)
        .otherwise(6)
    )


def pentad_start_day(pentad: Column) -> Column:
    """First day-of-month of a pentad (1,6,11,16,21,26) — the successor
    logic of dateutils.py:22-39 expressed as arithmetic."""
    return (pentad - 1) * 5 + 1


def next_month_start(ts: Column) -> Column:
    """F5: +1 month with year rollover (dateutils.py:5-15), snapped to the
    first of the month."""
    return F.add_months(F.date_trunc("month", ts), 1)


# F9: sinusoidal projection math (reference modis/pymodis.py:14-40).
_EARTH_R = 6371007.181
_TILE_SIZE = 1111950.519667  # 10° of longitude at the equator, metres
_X_MIN = -20015109.354
_Y_MAX = 10007554.677


def sinusoidal_xy(lon: Column, lat: Column) -> tuple[Column, Column]:
    """lon/lat (degrees) → sinusoidal metres: x = R·rad(lon)·cos(rad(lat)),
    y = R·rad(lat)."""
    x = F.lit(_EARTH_R) * F.radians(lon) * F.cos(F.radians(lat))
    y = F.lit(_EARTH_R) * F.radians(lat)
    return x, y


def tile_id(lon: Column, lat: Column) -> Column:
    """MODIS-style 10°-tile id 'hHHvVV' via floor division of sinusoidal
    coordinates (pymodis.py:29-40)."""
    x, y = sinusoidal_xy(lon, lat)
    h = F.floor((x - F.lit(_X_MIN)) / F.lit(_TILE_SIZE)).cast("int")
    v = F.floor((F.lit(_Y_MAX) - y) / F.lit(_TILE_SIZE)).cast("int")
    return F.format_string("h%02dv%02d", h, v)


def order_struct(order, payload=()) -> Column:
    """The one best-row-per-key ordering: ``struct(o1 IS NULL, o1,
    o2 IS NULL, o2, …, payload…)``. Comparing these structs orders rows
    by the ``order`` columns ascending with NULLs LAST in every column
    (the flag ranks a NULL after any value; a bare struct compare would
    put it first), then by payload. The caller makes ``order`` a total
    order — its last column breaks ties — so the payload rides along and
    never decides. Descending columns are passed negated. Items are
    column names or aliased Columns; the alias names the field."""
    fields = []
    for i, c in enumerate(order):
        col = F.col(c) if isinstance(c, str) else c
        fields += [col.isNull().alias(f"_null{i}"), c]
    return F.struct(*fields, *payload)


def top1(df: DataFrame, keys, order, payload=(), aggs=()) -> DataFrame:
    """First row per ``keys`` under ``order`` (see `order_struct`): one
    ``groupBy(keys).agg(min(order_struct))`` — partial-aggregable, so
    each task ships one candidate per key instead of shuffling every
    row into a window. Returns the keys, then the order and payload
    columns of the winning row, then any extra ``aggs`` computed in the
    same groupBy."""
    best = df.groupBy(*keys).agg(
        F.min(order_struct(order, payload)).alias("_top1"), *aggs
    )
    flags = [f"_null{i}" for i in range(len(order))]
    return best.select(*keys, "_top1.*", *best.columns[len(keys) + 1 :]).drop(*flags)


# md5 as the engine's deterministic "random" source: arrival delays,
# batch splits, folds, sketch and feature hashes are all some md5 hex
# digits of a row key read as an integer. The two helpers below are the
# only place that decode is spelled: `md5_hex_int` for Spark plans,
# `md5_hex_int_sql` for the DuckDB oracles. Both return SQL text; the
# caller casts a non-string key (``CAST(k AS STRING)`` parses in both
# engines).


def _md5_digits(ndigits: int, start: int) -> None:
    """Reject a digit range that cannot be decoded exactly: more than 15
    hex digits overflow a BIGINT, and a range past the 32-digit md5 hex
    string reads empty substrings — constant bits that look like hash
    output."""
    if not 1 <= ndigits <= 15:
        raise ValueError(f"ndigits={ndigits}: a BIGINT holds 1..15 hex digits")
    if start < 1 or start + ndigits - 1 > 32:
        raise ValueError(
            f"md5 hex digits {start}..{start + ndigits - 1} lie outside 1..32"
        )


def digits_int(text: str, start: int, ndigits: int, base: int = 16) -> str:
    """Spark SQL text: characters ``start .. start + ndigits - 1``
    (1-based) of the string ``text``, read as a base-``base`` number,
    as a BIGINT — one ``conv`` parse."""
    return f"CAST(conv(substr({text}, {start}, {ndigits}), {base}, 10) AS BIGINT)"


def md5_hex_int(expr: str, ndigits: int = 8, start: int = 1) -> str:
    """Spark SQL text: hex digits ``start .. start + ndigits - 1`` of
    ``md5(expr)``, most significant first, as a BIGINT (NULL for a NULL
    ``expr``). One ``conv`` parse: the per-nibble form recomputes md5
    once per digit wherever Spark evaluates it interpreted, as inside
    higher-order-function lambdas (no codegen, no common-subexpression
    elimination), and its expression tree is ``ndigits`` times larger."""
    _md5_digits(ndigits, start)
    return digits_int(f"md5({expr})", start, ndigits)


def md5_hex_int_sql(expr: str, ndigits: int = 8, start: int = 1) -> str:
    """Portable SQL text with the value of `md5_hex_int`, for the DuckDB
    oracles: DuckDB has no ``conv``, so each digit is its position in
    '0123456789abcdef' less one, times its power of 16. Valid in Spark
    SQL too; Spark plans use `md5_hex_int`."""
    _md5_digits(ndigits, start)
    terms = (
        f"CAST(instr('0123456789abcdef', substr(md5({expr}), {start + i}, 1)) - 1"
        f" AS BIGINT) * {16 ** (ndigits - 1 - i)}"
        for i in range(ndigits)
    )
    return "(" + " + ".join(terms) + ")"


def md5_quarter(expr: str, oracle: bool = False) -> str:
    """The house ~25 % split as SQL text: TRUE when the first md5 hex
    digit of ``expr`` is 0-3. It marks the new batch of the
    incremental-ingest replays and the stratified sample; a fixed
    function of the row key, so the same rows in either engine and any
    partitioning. ``oracle`` picks the `md5_hex_int_sql` spelling."""
    decode = md5_hex_int_sql if oracle else md5_hex_int
    return f"({decode(expr, 1)} < 4)"

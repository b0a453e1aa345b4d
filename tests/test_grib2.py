"""sources/grib2.py — the pure-python GRIB2 codec (round-13, verdict
#5). Golden bytes are hand-assembled from the published WMO FM-92
section layouts so the encoder is pinned to the SPEC, not to itself;
round-trips cover the packing edge cases (non-byte-aligned bit widths,
sign-and-magnitude scale factors, constant fields at nbits=0,
multi-message files); decoding goes through the shared grid decoder
(sources/gribsim.py), whose framing loop routes each ``GRIB`` message
here, so the default subprocess decoder reads GRIB2 too."""

from __future__ import annotations

import math
import struct

import pytest

from data_ingestion_auto_spark.sources.grib2 import (
    encode_message,
    _pack_bits,
    _rs16,
    _s16,
    _unpack_bits,
)
from data_ingestion_auto_spark.sources.gribsim import decode_file


def test_golden_message_bytes_match_spec_layout():
    """A 2x2 integer field, E=D=0, nbits=8 — every octet checked against
    the FM-92 section layouts."""
    msg = encode_message(
        "t", 2, 2, [10.0, 12.0, 11.0, 13.0], lat0=1.0, lon0=0.0, nbits=8
    )
    # --- section 0: GRIB, reserved, discipline 0, edition 2, total len
    assert msg[0:4] == b"GRIB"
    assert msg[4:6] == b"\x00\x00"
    assert msg[6] == 0  # discipline: meteorological
    assert msg[7] == 2  # edition
    (total,) = struct.unpack(">Q", msg[8:16])
    assert total == len(msg)
    # --- section 1: 21 octets, number 1
    assert struct.unpack(">IB", msg[16:21]) == (21, 1)
    # reference time 2024-01-01 00:00:00 at octets 13-19 of section 1
    assert struct.unpack(">HBBBBB", msg[28:35]) == (2024, 1, 1, 0, 0, 0)
    # --- section 3: 72 octets, number 3, template 3.0
    s3 = 16 + 21
    assert struct.unpack(">IB", msg[s3 : s3 + 5]) == (72, 3)
    assert struct.unpack(">I", msg[s3 + 6 : s3 + 10]) == (4,)  # data points
    assert struct.unpack(">H", msg[s3 + 12 : s3 + 14]) == (0,)  # template 3.0
    t = msg[s3 + 14 :]
    assert struct.unpack(">II", t[16:24]) == (2, 2)  # Ni, Nj
    assert struct.unpack(">I", t[32:36]) == (1_000_000,)  # la1 = 1.0 deg
    assert t[40] == 0x30  # resolution flags
    # la2 = la1 - dlat*(Nj-1) = 0.0
    assert struct.unpack(">I", t[41:45]) == (0,)
    assert struct.unpack(">II", t[49:57]) == (1_000_000, 1_000_000)  # Di, Dj
    assert t[57] == 0  # scanning mode: +i, -j, row-major
    # --- section 4: 34 octets, template 4.0, param (cat 0, num 0) = t
    s4 = s3 + 72
    assert struct.unpack(">IBHH", msg[s4 : s4 + 9]) == (34, 4, 0, 0)
    assert msg[s4 + 9] == 0 and msg[s4 + 10] == 0
    # --- section 5: 21 octets, simple packing, R=10.0f, E=0, D=0, 8 bits
    s5 = s4 + 34
    assert struct.unpack(">IBIH", msg[s5 : s5 + 11]) == (21, 5, 4, 0)
    assert struct.unpack(">f", msg[s5 + 11 : s5 + 15]) == (10.0,)
    assert msg[s5 + 15 : s5 + 19] == b"\x00\x00\x00\x00"  # E=0, D=0
    assert msg[s5 + 19] == 8
    # --- section 6: no bitmap
    s6 = s5 + 21
    assert struct.unpack(">IBB", msg[s6 : s6 + 6]) == (6, 6, 255)
    # --- section 7: X = value - R = [0, 2, 1, 3] as single octets
    s7 = s6 + 6
    assert struct.unpack(">IB", msg[s7 : s7 + 5]) == (9, 7)
    assert msg[s7 + 5 : s7 + 9] == bytes([0, 2, 1, 3])
    # --- section 8
    assert msg[-4:] == b"7777"

    rows = list(decode_file(msg))
    assert rows == [
        ("t", 0, 0, 10.0),
        ("t", 0, 1, 12.0),
        ("t", 1, 0, 11.0),
        ("t", 1, 1, 13.0),
    ]


def test_sign_magnitude_not_twos_complement():
    """GRIB2 signed fields are sign-AND-magnitude: -3 is 0x8003, not
    0xFFFD."""
    assert _s16(-3) == b"\x80\x03"
    assert _s16(3) == b"\x00\x03"
    assert _rs16(b"\x80\x03") == -3
    assert _rs16(b"\xff\xfd") == -(0x7FFD)  # NOT -3


def test_bit_packing_non_byte_aligned():
    xs = [0, 1, 2047, 1024, 7, 513]
    packed = _pack_bits(xs, 11)
    assert len(packed) == math.ceil(6 * 11 / 8)
    assert _unpack_bits(packed, 11, 6) == xs


def test_roundtrip_exact_integer_fields():
    """E=D=0 integer fields round-trip bit-exactly — the property the
    oracle-hashed decode query relies on."""
    vals = [float(v) for v in [5, 250, 19, 0, 77, 4095]]
    msg = encode_message("u", 2, 3, vals, nbits=12)
    got = [v for *_key, v in decode_file(msg)]
    assert got == vals


def test_roundtrip_scaled_within_quantization():
    """E=-4, D=2: reconstruction error bounded by the packing step
    2^E/10^D."""
    vals = [21.37, 19.993, 20.0001, 25.5, 18.75, 22.125]
    msg = encode_message(
        "t", 3, 2, vals, nbits=20, binary_scale=-4, decimal_scale=2
    )
    got = [v for *_k, v in decode_file(msg)]
    step = (2 ** -4) / (10 ** 2)
    for g, v in zip(got, vals):
        assert abs(g - v) <= step


def test_constant_field_zero_bits():
    """nbits=0: all X are implicitly 0 and section 7 carries no data —
    the spec's constant-field shape."""
    msg = encode_message("pres", 2, 2, [1013.0] * 4, nbits=0)
    assert [v for *_k, v in decode_file(msg)] == [1013.0] * 4


def test_multi_message_file_and_systematic_names():
    m1 = encode_message("t", 1, 2, [1.0, 2.0], nbits=8)
    m2 = encode_message("d2.c0.p7", 1, 2, [5.0, 6.0], nbits=8)
    rows = list(decode_file(m1 + m2))
    assert [r[0] for r in rows] == ["t", "t", "d2.c0.p7", "d2.c0.p7"]
    assert [r[3] for r in rows] == [1.0, 2.0, 5.0, 6.0]


def test_unsupported_corners_rejected():
    msg = bytearray(encode_message("t", 1, 2, [1.0, 2.0], nbits=8))
    with pytest.raises(ValueError, match="edition"):
        bad = bytearray(msg)
        bad[7] = 1
        list(decode_file(bytes(bad)))
    with pytest.raises(ValueError, match="7777"):
        list(decode_file(bytes(msg[:-4] + b"xxxx")))
    with pytest.raises(ValueError, match="not in the parameter table"):
        encode_message("mystery", 1, 1, [0.0])


def test_subprocess_argv_seam_decodes_real_grib2(spark, tmp_path):
    """The out-of-process decoder on the real public format: a GRIB2
    file (written by this encoder) routed through
    decode_grid_files_subprocess with its DEFAULT argv — the ``GRIB``
    magic picks the GRIB2 parser in the child too — yields the same
    grid-model rows as the in-process decoder, bit-exactly."""
    from data_ingestion_auto_spark.sources.gribsim import (
        decode_grid_files_subprocess,
    )

    vals = [float(v) for v in range(12)]
    msg = encode_message("v", 3, 4, vals, nbits=10)
    p = tmp_path / "f.grib2"
    p.write_bytes(msg)

    binary_df = spark.read.format("binaryFile").load(str(p))
    got = sorted(
        (r.variable, r.y, r.x, r.value)
        for r in decode_grid_files_subprocess(binary_df).collect()
    )
    expect = sorted(decode_file(msg))
    assert got == expect

    # corrupt file → the subprocess exits nonzero → the TASK fails
    # (check=True, the reference's cdo contract)
    p2 = tmp_path / "bad.grib2"
    p2.write_bytes(msg[:40])
    with pytest.raises(Exception):
        decode_grid_files_subprocess(
            spark.read.format("binaryFile").load(str(p2))
        ).collect()


def test_bitmap_roundtrip_missing_values():
    """Section-6 bitmap (indicator 0): None/NaN inputs mark missing grid
    points; section 7 packs only present points and the decoder restores
    None at the masked positions."""
    vals = [10.0, None, 12.0, float("nan"), 14.0, 15.0]
    msg = encode_message("t", 2, 3, vals, nbits=8)
    got = [v for *_k, v in decode_file(msg)]
    assert got == [10.0, None, 12.0, None, 14.0, 15.0]
    # golden check of the section layout shifts: section 5 counts only
    # the 4 present points; section 6 is indicator 0 + one bitmap octet
    s5 = 16 + 21 + 72 + 34
    assert struct.unpack(">IBIH", msg[s5 : s5 + 11]) == (21, 5, 4, 0)
    s6 = s5 + 21
    assert struct.unpack(">IBB", msg[s6 : s6 + 6]) == (7, 6, 0)
    # bits 101011, MSB-first, zero-padded → 0b10101100 = 0xAC
    assert msg[s6 + 6] == 0xAC
    # section 7 carries 4 octets: X = v - R for the present points
    s7 = s6 + 7
    assert struct.unpack(">IB", msg[s7 : s7 + 5]) == (9, 7)
    assert msg[s7 + 5 : s7 + 9] == bytes([0, 2, 4, 5])


def test_bitmap_all_missing_and_none_missing():
    msg = encode_message("t", 1, 3, [None, None, None], nbits=8)
    assert [v for *_k, v in decode_file(msg)] == [None, None, None]
    # no missing values → no bitmap section payload (indicator 255)
    msg2 = encode_message("t", 1, 3, [1.0, 2.0, 3.0], nbits=8)
    s6 = 16 + 21 + 72 + 34 + 21
    assert struct.unpack(">IBB", msg2[s6 : s6 + 6]) == (6, 6, 255)


def test_bitmap_corrupt_population_rejected():
    msg = bytearray(encode_message("t", 2, 3, [1.0, None, 3.0, 4.0, None, 6.0], nbits=8))
    s6 = 16 + 21 + 72 + 34 + 21
    msg[s6 + 6] = 0xFC  # claim 6 present bits vs 4 packed values
    with pytest.raises(ValueError, match="population"):
        list(decode_file(bytes(msg)))


def test_subprocess_seam_transports_missing_as_nan(spark, tmp_path):
    """Bitmap-missing points travel the default decoder's CSV pipe as
    'nan' (the pipe is a pure float channel); the engine's NaN→NULL fold
    restores NULL downstream."""
    from pyspark.sql import functions as F

    from data_ingestion_auto_spark.sources.gribsim import (
        decode_grid_files_subprocess,
    )

    msg = encode_message("t", 1, 4, [1.0, None, 3.0, None], nbits=8)
    p = tmp_path / "m.grib2"
    p.write_bytes(msg)
    got = (
        decode_grid_files_subprocess(spark.read.format("binaryFile").load(str(p)))
        .withColumn("value", F.when(~F.isnan("value"), F.col("value")))
        .orderBy("x")
        .collect()
    )
    assert [r.value for r in got] == [1.0, None, 3.0, None]


def test_encode_grid_files_roundtrip_distributed(spark, tmp_path):
    """The K-side write loop: long grid rows (with NULL holes) →
    executor-side per-variable GRIB2 messages → atomic file landing →
    binaryFile scan → decode == input. Every hop is the engine's own
    operator, no driver-side encode."""
    from data_ingestion_auto_spark.sources.grib2 import (
        encode_grid_files,
        write_grib2_dir,
    )

    rows = []
    for v, ny, nx in (("t", 3, 4), ("u", 2, 5)):
        for y in range(ny):
            for x in range(nx):
                val = None if (y + x) % 4 == 0 else float(10 + 3 * y + x)
                rows.append((v, y, x, val))
    src = spark.createDataFrame(rows, "variable string, y long, x long, value double")

    encoded = encode_grid_files(src)
    meta = {r.variable: (r.ny, r.nx, r.n_missing) for r in encoded.collect()}
    assert meta["t"][:2] == (3, 4) and meta["u"][:2] == (2, 5)
    assert meta["t"][2] == sum(1 for v, y, x, val in rows if v == "t" and val is None)

    out = str(tmp_path / "landed")
    landed = write_grib2_dir(encode_grid_files(src), out).collect()
    assert sorted(r.variable for r in landed) == ["t", "u"]
    for r in landed:
        assert r.n_bytes > 0 and r.path.endswith(f"{r.variable}.grib2")

    back = []
    for r in spark.read.format("binaryFile").load(out).collect():
        back.extend(decode_file(bytes(r.content)))
    got = sorted((v, y, x, val) for v, y, x, val in back)
    assert got == sorted(rows)


def test_encode_grid_files_incomplete_grid_fails(spark):
    from data_ingestion_auto_spark.sources.grib2 import encode_grid_files

    src = spark.createDataFrame(
        [("t", 0, 0, 1.0), ("t", 1, 1, 2.0)], "variable string, y long, x long, value double"
    )
    with pytest.raises(Exception, match="rows for a"):
        encode_grid_files(src).collect()

"""SGB1 synthetic GRIB-shaped codec (sources/gribsim.py): round-trip
bit-exactness (incl. NaN payloads), multi-message framing, and loud
failure on every integrity violation — the decode-boundary contract the
oracled `binary_grid_decode_roundtrip` query rides on."""

from __future__ import annotations

import math
import os
import struct
import subprocess
import sys

import pytest

from data_ingestion_auto_spark.sources import gribsim as G


def _vals():
    return [0.0, -0.0, 1.5, math.pi, float("nan"), 1e-308, -3.25e17, 42.0]


def test_roundtrip_bit_exact_including_nan():
    buf = G.encode_message("t2m", 2, 4, _vals())
    rows = list(G.decode_file(buf))
    assert [(r[0], r[1], r[2]) for r in rows] == [
        ("t2m", y, x) for y in range(2) for x in range(4)
    ]
    got = [r[3] for r in rows]
    want = _vals()
    assert all(
        struct.pack(">d", a) == struct.pack(">d", b) for a, b in zip(got, want)
    )  # bit-compare: NaN and -0.0 must survive exactly


def test_multi_message_file():
    buf = G.encode_message("a", 1, 2, [1.0, 2.0]) + G.encode_message(
        "b", 2, 1, [3.0, 4.0]
    )
    rows = list(G.decode_file(buf))
    assert rows == [
        ("a", 0, 0, 1.0),
        ("a", 0, 1, 2.0),
        ("b", 0, 0, 3.0),
        ("b", 1, 0, 4.0),
    ]


@pytest.mark.parametrize(
    "mutate,err",
    [
        (lambda b: b"XXXX" + b[4:], "bad magic"),
        (lambda b: b[:-12], "truncated data"),  # cut into the data section
        (
            lambda b: b[:-8] + struct.pack(">I", 0) + b[-4:],
            "CRC mismatch",
        ),
        (lambda b: b[:-4] + b"9999", "missing end marker"),
        (lambda b: b"", "empty"),
    ],
)
def test_integrity_violations_raise(mutate, err):
    buf = G.encode_message("v", 2, 2, [1.0, 2.0, 3.0, 4.0])
    with pytest.raises(ValueError, match=err):
        list(G.decode_file(mutate(buf)))


def test_wrong_value_count_rejected_at_encode():
    with pytest.raises(ValueError, match="expected 4 values"):
        G.encode_message("v", 2, 2, [1.0])


def test_subprocess_decoder_imports_neither_pandas_nor_pyspark():
    """The child decoder is spawned once per file, so its import must
    stay on struct/zlib and the GRIB2 parser: pandas and pyspark cost
    most of a second before a byte is read."""
    package_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(G.__file__))))
    code = (
        "import sys\n"
        "from data_ingestion_auto_spark.sources.gribsim import _subprocess_decode_main\n"
        "print(sorted(m for m in ('pandas', 'pyspark') if m in sys.modules))\n"
    )
    env = dict(os.environ, PYTHONPATH=package_root)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, check=True, text=True, env=env
    ).stdout
    assert out.strip() == "[]"


def test_subprocess_decode_equals_in_process(spark, tmp_path):
    """U1 subprocess shape (reference ingest/__init__.py:74-91): piping
    the bytes through an external decoder process yields row-for-row the
    in-process decode (values bit-exact via IEEE-hex transport), and a
    corrupt file fails the task through check=True."""
    vals = [1.5, math.pi, float("nan"), -0.0]
    (tmp_path / "s.sgb").write_bytes(G.encode_message("v", 2, 2, vals))
    bins = spark.read.format("binaryFile").option("pathGlobFilter", "*.sgb").load(
        str(tmp_path)
    )
    key = lambda df: [
        # NaN crosses the Arrow boundary as NULL in BOTH decoders — the
        # engine-wide NaN→NULL fold (P5); bit-compare the rest
        (r.variable, r.y, r.x, None if r.value is None else struct.pack(">d", r.value))
        for r in df.orderBy("variable", "y", "x").collect()
    ]
    got = key(G.decode_grid_files_subprocess(bins))
    assert got == key(G.decode_grid_files(bins))
    assert got[2][3] is None and got[3][3] == struct.pack(">d", -0.0)
    (tmp_path / "bad.sgb").write_bytes(b"XXXX-corrupt")
    bins2 = spark.read.format("binaryFile").option("pathGlobFilter", "*.sgb").load(
        str(tmp_path)
    )
    with pytest.raises(Exception, match="CalledProcessError|non-zero"):
        G.decode_grid_files_subprocess(bins2).collect()


def test_executor_side_decode_from_binary_file_scan(spark, tmp_path):
    """binaryFile scan → mapInPandas decode: per-file rows, typed schema,
    and a corrupt file fails the JOB (no silent truncation)."""
    (tmp_path / "g0.sgb").write_bytes(
        G.encode_message("a", 2, 2, [1.0, 2.0, 3.0, 4.0])
    )
    (tmp_path / "g1.sgb").write_bytes(G.encode_message("b", 1, 2, [5.0, 6.0]))
    bins = spark.read.format("binaryFile").option("pathGlobFilter", "*.sgb").load(
        str(tmp_path)
    )
    out = G.decode_grid_files(bins).orderBy("variable", "y", "x").collect()
    assert [(r.variable, r.y, r.x, r.value) for r in out] == [
        ("a", 0, 0, 1.0),
        ("a", 0, 1, 2.0),
        ("a", 1, 0, 3.0),
        ("a", 1, 1, 4.0),
        ("b", 0, 0, 5.0),
        ("b", 0, 1, 6.0),
    ]
    (tmp_path / "g2.sgb").write_bytes(b"garbage-not-sgb1")
    bins2 = spark.read.format("binaryFile").option("pathGlobFilter", "*.sgb").load(
        str(tmp_path)
    )
    with pytest.raises(Exception, match="bad magic"):
        G.decode_grid_files(bins2).collect()


@pytest.mark.parametrize(
    "decode",
    [G.decode_grid_files, G.decode_grid_files_subprocess],
    ids=["in_process", "subprocess"],
)
def test_one_scan_decodes_sgb1_and_grib2(spark, tmp_path, decode):
    """Each message's magic picks its parser: one binaryFile scan over an
    SGB1 file, a GRIB2 file with a bitmap hole and a file holding one
    GRIB2 then one SGB1 message returns every cell with its file, and the
    hole as NULL — through either decoder."""
    import os

    from data_ingestion_auto_spark.sources import grib2

    (tmp_path / "s.bin").write_bytes(G.encode_message("a", 1, 2, [1.5, -2.25]))
    (tmp_path / "g.bin").write_bytes(
        grib2.encode_message("t", 1, 3, [4.0, None, 6.0], nbits=8)
    )
    (tmp_path / "m.bin").write_bytes(
        grib2.encode_message("u", 1, 2, [7.0, 9.0], nbits=8)
        + G.encode_message("b", 2, 1, [math.pi, 0.5])
    )
    bins = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(
        str(tmp_path)
    )
    got = sorted(
        (os.path.basename(r.path), r.variable, r.y, r.x, r.value)
        for r in decode(bins).collect()
    )
    assert got == [
        ("g.bin", "t", 0, 0, 4.0),
        ("g.bin", "t", 0, 1, None),
        ("g.bin", "t", 0, 2, 6.0),
        ("m.bin", "b", 0, 0, math.pi),
        ("m.bin", "b", 1, 0, 0.5),
        ("m.bin", "u", 0, 0, 7.0),
        ("m.bin", "u", 0, 1, 9.0),
        ("s.bin", "a", 0, 0, 1.5),
        ("s.bin", "a", 0, 1, -2.25),
    ]

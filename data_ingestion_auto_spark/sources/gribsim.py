"""S5/U1 decode boundary, made real on a synthetic wire format.

The reference decodes GRIB2 via a cdo subprocess (ingest/__init__.py:74-91)
and HDF4 subdatasets via GDAL (modis/convertmodis.py:273-303); neither
codec exists in this container, so operators/multimodal.py stubs the
image seam. This module closes the DECODE PLUMBING the same way
`byte_range_message_fetch` closed S3: a deterministic GRIB-shaped binary
format ("SGB1") is encoded driver-side into fixture files and decoded
EXECUTOR-SIDE from a ``binaryFile`` scan through mapInPandas — real
bytes, real Arrow batches, real integrity checks. The same boundary
decodes real GRIB2 (sources/grib2.py): each message's 4-byte magic picks
its parser, so a new format is one parser plus one magic; every
Spark-side piece (schema, batching, multi-message framing, error
surface) is shared, exercised and oracled.

Wire format (big-endian, GRIB-flavoured):

    message := b"SGB1"                      magic (GRIB's "GRIB" section 0)
               u16   len(variable)          indicator section
               bytes variable (utf-8)
               u32   ny, u32 nx             grid description section
               f64 × ny*nx                  data section, row-major
               u32   crc32(data section)    integrity
               b"7777"                      end marker (GRIB section 8)

A file holds one or more concatenated messages, exactly like multi-
message GRIB files. float64 values round-trip bit-exactly by
construction, which is what lets a SQL oracle hash-verify the whole
encode → binaryFile → decode path.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from .grib2 import _GRIB, _parse_message as _parse_grib2

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame

_MAGIC = b"SGB1"
_END = b"7777"


def encode_message(variable: str, ny: int, nx: int, values: list[float]) -> bytes:
    """Encode one message; ``values`` is row-major ny*nx doubles."""
    if len(values) != ny * nx:
        raise ValueError(f"expected {ny * nx} values, got {len(values)}")
    name = variable.encode("utf-8")
    data = struct.pack(f">{ny * nx}d", *values)
    return (
        _MAGIC
        + struct.pack(">H", len(name))
        + name
        + struct.pack(">II", ny, nx)
        + data
        + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
        + _END
    )


def _decode_message(buf: bytes, off: int) -> tuple[str, int, int, tuple, int]:
    """Decode one message starting at ``off``; returns (variable, ny, nx,
    values, next_offset). Raises ValueError on any framing/integrity
    violation — a corrupt GRIB file must fail loudly, not truncate."""
    if buf[off : off + 4] != _MAGIC:
        raise ValueError(f"bad magic at offset {off}")
    off += 4
    (nlen,) = struct.unpack_from(">H", buf, off)
    off += 2
    variable = buf[off : off + nlen].decode("utf-8")
    off += nlen
    ny, nx = struct.unpack_from(">II", buf, off)
    off += 8
    nbytes = ny * nx * 8
    data = buf[off : off + nbytes]
    if len(data) != nbytes:
        raise ValueError(f"truncated data section in message '{variable}'")
    values = struct.unpack(f">{ny * nx}d", data)
    off += nbytes
    (crc,) = struct.unpack_from(">I", buf, off)
    off += 4
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        raise ValueError(f"CRC mismatch in message '{variable}'")
    if buf[off : off + 4] != _END:
        raise ValueError(f"missing end marker in message '{variable}'")
    return variable, ny, nx, values, off + 4


def decode_file(buf: bytes) -> Iterator[tuple[str, int, int, float | None]]:
    """Yield (variable, y, x, value) rows from every message in a file.
    Each message's 4-byte magic picks its parser: ``GRIB`` goes to the
    GRIB2 codec (sources/grib2.py), anything else to `_decode_message`,
    which rejects a foreign magic as ``bad magic``. Bitmap-missing GRIB2
    cells yield None."""
    off = 0
    if len(buf) == 0:
        raise ValueError("empty grid file")
    while off < len(buf):
        parse = _parse_grib2 if buf[off : off + 4] == _GRIB else _decode_message
        variable, ny, nx, values, off = parse(buf, off)
        for y in range(ny):
            base = y * nx
            for x in range(nx):
                yield variable, y, x, values[base + x]


def _subprocess_decode_main() -> None:
    """Entry point for the OUT-OF-PROCESS decoder: read one grid file
    from stdin, write CSV rows (variable,y,x,value-hex) to stdout.
    Values travel as IEEE-754 hex (float.hex) so the pipe is bit-exact —
    a decimal print would round; missing cells travel as 'nan'. Exit
    code != 0 on any integrity error, which `decode_grid_files_subprocess`
    converts into a task failure
    (subprocess.run(check=True), the reference's contract)."""
    import sys

    buf = sys.stdin.buffer.read()
    out = sys.stdout
    for variable, y, x, v in decode_file(buf):
        out.write(f"{variable},{y},{x},{'nan' if v is None else float(v).hex()}\n")


def _decode(binary_df: DataFrame, rows: Callable[[bytes], Iterator[tuple]]) -> DataFrame:
    """The one ``binaryFile`` content → long grid rows boundary:
    ``rows(content)`` yields one file's (variable, y, x, value) cells.
    mapInPandas keeps the opaque payload inside the Arrow batch and
    emits only typed rows, so the binary column dies at the decode
    boundary — nothing downstream shuffles bytes. A missing cell (None
    or NaN) reaches Spark as NULL."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            out = {"path": [], "variable": [], "y": [], "x": [], "value": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                for variable, y, x, v in rows(bytes(content)):
                    out["path"].append(path)
                    out["variable"].append(variable)
                    out["y"].append(y)
                    out["x"].append(x)
                    out["value"].append(v)
            yield pd.DataFrame(out)

    return binary_df.select("path", "content").mapInPandas(
        decode, "path string, variable string, y long, x long, value double"
    )


def decode_grid_files_subprocess(binary_df: DataFrame, argv: list[str] | None = None) -> DataFrame:
    """U1: the SUBPROCESS decode shape (reference ingest/__init__.py:74-91
    shells out to ``cdo -f nc copy in out`` with subprocess.run(...,
    check=True)) — each executor task pipes the raw message bytes
    through an external decoder process and parses its CSV output.
    Functionally identical to `decode_grid_files` (pytest pins equality
    row-for-row); operationally it exercises what a real cdo/GDAL
    integration needs: per-task process spawn, stdin/stdout streaming
    (no temp-file churn), check=True error propagation, and bit-exact
    value transport (IEEE hex, not decimal).

    ``argv`` is the decoder-process contract seam: any program that
    reads raw message bytes on stdin and emits
    ``variable,y,x,float.hex(value)`` CSV lines on stdout plugs in —
    the default is the in-package decoder, which reads SGB1 and GRIB2
    alike; a real-codec wrapper around ``cdo -f nc copy`` is the
    documented one-argument swap (exercised by tests/test_real_codec.py
    whenever cdo IS installed, skipped otherwise). Everything Spark-side
    stays put."""
    import os
    import subprocess
    import sys

    if argv is None:
        argv = [sys.executable, "-c", (
            "from data_ingestion_auto_spark.sources.gribsim import "
            "_subprocess_decode_main; _subprocess_decode_main()"
        )]

    def rows(content: bytes) -> Iterator[tuple[str, int, int, float]]:
        # the child process must be able to import this package; the
        # executor resolves its OWN package root (on a cluster that's wherever
        # --py-files unpacked it there) and ships it via PYTHONPATH
        import data_ingestion_auto_spark as _pkg

        local_root = os.path.dirname(os.path.dirname(os.path.abspath(_pkg.__file__)))
        env = dict(os.environ)
        env["PYTHONPATH"] = local_root + os.pathsep + env.get("PYTHONPATH", "")
        proc = subprocess.run(argv, input=content, capture_output=True, check=True, env=env)
        for line in proc.stdout.decode().splitlines():
            variable, y, x, vhex = line.split(",")
            yield variable, int(y), int(x), float.fromhex(vhex)

    return _decode(binary_df, rows)


def decode_grid_files(binary_df: DataFrame) -> DataFrame:
    """The executor-side decode: a ``binaryFile``-sourced DataFrame
    (columns path, content, ...) → long grid rows, SGB1 and GRIB2
    messages alike. One file decodes on one executor; a 1000-file GRIB
    drop decodes 1000-wide with zero driver involvement."""
    return _decode(binary_df, decode_file)

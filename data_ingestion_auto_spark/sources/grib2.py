"""Minimal pure-python GRIB2 (WMO FM-92 edition 2) codec — the real
public format behind the S5/U1 decode seam (round-13, verdict #5).

The reference shells out to cdo to convert GRIB2 (ingest/__init__.py:
74-91); this container has no codec binaries, so rounds 9-12 proved the
decode PLUMBING on the synthetic SGB1 format and left the real format
as a documented boundary. This module narrows that boundary from
"format unavailable" to "library-grade corners unavailable": it
implements, from the published WMO FM-92 GRIB2 specification only, the
subset a regular-lat-lon ingest actually touches —

  section 0  indicator            ("GRIB", discipline, edition 2, length)
  section 1  identification       (centre, reference time)
  section 3  grid definition      template 3.0  regular lat/lon
  section 4  product definition   template 4.0  analysis/forecast
  section 5  data representation  template 5.0  simple packing
  section 6  bitmap               indicator 255 (none) or 0 (bitmap
                                  present: 1 bit per grid point, 1 =
                                  data at that point — the spec's
                                  missing-value mechanism; missing
                                  cells decode to None, the engine's
                                  P4 nodata → NULL semantics)
  section 7  data                 MSB-first bit-packed integers
  section 8  end                  ("7777")

with the spec's encoding quirks honoured: multi-byte integers are
big-endian; SIGNED quantities (binary/decimal scale factors,
latitudes/longitudes in microdegrees) use sign-AND-magnitude, not two's
complement; the reference value R is IEEE-754 single precision; packed
value semantics are Y = (R + X·2^E) / 10^D. Multi-message files are
concatenated messages, exactly like the SGB1 framing.

What this is NOT: a general GRIB reader. Other grid templates (gaussian,
lambert), other packing (JPEG2000, complex/spatial differencing),
predefined bitmaps (indicator 1-254), and the full parameter tables are
out of scope and REJECTED with explicit errors — swapping in eccodes/cdo via the
`decode_grid_files_subprocess` argv seam remains the documented
one-argument change for those (tests/test_real_codec.py); its default
decoder already reads this subset, because the one framing loop
(sources/gribsim.py::decode_file) hands every ``GRIB`` message to
`_parse_message` here. Files this encoder writes are honest GRIB2: any
standard tool can read them, and the decoder here reads the same subset
written by standard tools.

Lossiness note: simple packing quantizes. With D=0, E=0 and
integer-valued fields the round-trip is BIT-EXACT (X recovers the value
directly), which is what lets a SQL oracle hash-verify the
encode → binaryFile → decode path end-to-end; arbitrary floats
round-trip to within 2^E/10^D, pinned by tolerance tests.
"""

from __future__ import annotations

import struct

_GRIB = b"GRIB"
_END = b"7777"

# tiny slice of the public parameter tables (discipline, category, number)
# — enough to name the variables the grid model uses; everything else
# gets a systematic "d{D}.c{C}.p{N}" name, round-trippable either way
_PARAMS = {
    (0, 0, 0): "t",
    (0, 1, 1): "rh",
    (0, 2, 2): "u",
    (0, 2, 3): "v",
    (0, 3, 0): "pres",
    (0, 3, 5): "gh",
    (0, 1, 8): "apcp",
}
_PARAMS_INV = {v: k for k, v in _PARAMS.items()}


def _s16(v: int) -> bytes:
    """Signed 16-bit, GRIB2 sign-and-magnitude (high bit = sign)."""
    m = abs(int(v))
    if m > 0x7FFF:
        raise ValueError(f"magnitude {m} exceeds 15 bits")
    return struct.pack(">H", m | (0x8000 if v < 0 else 0))


def _s32(v: int) -> bytes:
    m = abs(int(v))
    if m > 0x7FFFFFFF:
        raise ValueError(f"magnitude {m} exceeds 31 bits")
    return struct.pack(">I", m | (0x80000000 if v < 0 else 0))


def _rs16(b: bytes) -> int:
    (u,) = struct.unpack(">H", b)
    return -(u & 0x7FFF) if u & 0x8000 else u


def _pack_bits(xs: list[int], nbits: int) -> bytes:
    """MSB-first bit packing, zero-padded to a byte boundary (spec
    section 7 simple packing)."""
    out = bytearray()
    acc = 0
    na = 0
    for x in xs:
        if x < 0 or x >> nbits:
            raise ValueError(f"value {x} does not fit in {nbits} bits")
        acc = (acc << nbits) | x
        na += nbits
        while na >= 8:
            na -= 8
            out.append((acc >> na) & 0xFF)
    if na:
        out.append((acc << (8 - na)) & 0xFF)
    return bytes(out)


def _unpack_bits(buf: bytes, nbits: int, count: int) -> list[int]:
    xs = []
    acc = 0
    na = 0
    it = iter(buf)
    for _ in range(count):
        while na < nbits:
            acc = (acc << 8) | next(it)
            na += 8
        na -= nbits
        xs.append((acc >> na) & ((1 << nbits) - 1))
        acc &= (1 << na) - 1
    return xs


def encode_message(
    variable: str,
    nj: int,
    ni: int,
    values: list[float],
    *,
    lat0: float = 90.0,
    lon0: float = 0.0,
    dlat: float = 1.0,
    dlon: float = 1.0,
    nbits: int = 16,
    binary_scale: int = 0,
    decimal_scale: int = 0,
    ref_time: tuple = (2024, 1, 1, 0, 0, 0),
) -> bytes:
    """One GRIB2 message: a nj×ni regular lat/lon grid scanned row-major
    from (lat0, lon0) stepping -dlat south / +dlon east (scanning mode
    0). Values quantize per simple packing with the given scales; see
    module docstring for the exactness contract.

    A value of None (or NaN) marks a MISSING grid point: the message
    then carries a section-6 bitmap (indicator 0) and section 7 packs
    only the present points — the spec's missing-value mechanism, and
    the wire form of the engine's nodata → NULL normalization (P4)."""
    import math

    if len(values) != nj * ni:
        raise ValueError(f"expected {nj * ni} values, got {len(values)}")
    present = [
        v is not None and not (isinstance(v, float) and math.isnan(v))
        for v in values
    ]
    values = [v for v, p in zip(values, present) if p]
    has_bitmap = len(values) != nj * ni
    if variable in _PARAMS_INV:
        disc, cat, num = _PARAMS_INV[variable]
    else:
        import re

        m = re.fullmatch(r"d(\d+)\.c(\d+)\.p(\d+)", variable)
        if not m:
            raise ValueError(
                f"variable {variable!r} not in the parameter table; "
                "use the systematic d<D>.c<C>.p<N> form"
            )
        disc, cat, num = map(int, m.groups())
    e, d = binary_scale, decimal_scale
    scaled = [v * (10 ** d) for v in values]
    ref = min(scaled) if scaled else 0.0
    # R must survive its IEEE single-precision field unchanged
    ref = struct.unpack(">f", struct.pack(">f", ref))[0]
    xs = [int(round((s - ref) / (2 ** e))) for s in scaled]
    if max(xs, default=0) >> nbits:
        raise ValueError(
            f"field range needs more than {nbits} bits at E={e}, D={d}"
        )

    sec1 = (
        struct.pack(">IB", 21, 1)
        + struct.pack(">HHBBB", 255, 255, 2, 1, 1)  # centre, subcentre, tables, local, sig
        + struct.pack(">HBBBBB", *ref_time)
        + struct.pack(">BB", 0, 1)  # production status, type of data
    )
    micro = 1_000_000
    la1 = int(round(lat0 * micro))
    lo1 = int(round(lon0 * micro))
    la2 = int(round((lat0 - dlat * (nj - 1)) * micro))
    lo2 = int(round((lon0 + dlon * (ni - 1)) * micro))
    tmpl30 = (
        struct.pack(">B", 6)  # shape of earth: spherical r=6371229 m
        + b"\xff" + b"\xff\xff\xff\xff"  # radius scale factor + value: missing
        + b"\xff" + b"\xff\xff\xff\xff"  # major axis
        + b"\xff" + b"\xff\xff\xff\xff"  # minor axis
        + struct.pack(">II", ni, nj)
        + struct.pack(">II", 0, 0)  # basic angle, subdivisions
        + _s32(la1)
        + _s32(lo1 % (360 * micro))
        + struct.pack(">B", 0x30)  # resolution/component flags: Di, Dj given
        + _s32(la2)
        + _s32(lo2 % (360 * micro))
        + struct.pack(">II", int(round(dlon * micro)), int(round(dlat * micro)))
        + struct.pack(">B", 0)  # scanning mode: +i, -j, row-major
    )
    sec3 = struct.pack(">IBBIBBH", 72, 3, 0, ni * nj, 0, 0, 0) + tmpl30
    tmpl40 = (
        struct.pack(">BB", cat, num)
        + struct.pack(">BBBHBBI", 0, 0, 0, 0, 0, 1, 0)  # analysis at ref time
        + struct.pack(">BBI", 1, 0, 0)  # first surface: ground, scale 0, value 0
        + struct.pack(">BBI", 255, 255, 0xFFFFFFFF)  # second surface: none
    )
    sec4 = struct.pack(">IBHH", 34, 4, 0, 0) + tmpl40
    sec5 = (
        struct.pack(">IBIH", 21, 5, len(values), 0)
        + struct.pack(">f", ref)
        + _s16(e)
        + _s16(d)
        + struct.pack(">BB", nbits, 0)  # bits per value, field type: float
    )
    if has_bitmap:
        bits = _pack_bits([1 if p else 0 for p in present], 1)
        sec6 = struct.pack(">IBB", 6 + len(bits), 6, 0) + bits
    else:
        sec6 = struct.pack(">IBB", 6, 6, 255)  # no bitmap
    packed = _pack_bits(xs, nbits) if nbits else b""
    sec7 = struct.pack(">IB", 5 + len(packed), 7) + packed

    body = sec1 + sec3 + sec4 + sec5 + sec6 + sec7
    total = 16 + len(body) + 4
    sec0 = _GRIB + struct.pack(">HBB", 0, disc, 2) + struct.pack(">Q", total)
    return sec0 + body + _END


def _parse_message(buf: bytes, off: int):
    """Parse one message starting at ``off``; returns (variable, nj, ni,
    values, next_off). Raises ValueError on anything outside the
    supported subset — the same fail-the-task contract as SGB1."""
    if buf[off : off + 4] != _GRIB:
        raise ValueError(f"bad GRIB magic at offset {off}")
    disc = buf[off + 6]
    if buf[off + 7] != 2:
        raise ValueError(f"unsupported GRIB edition {buf[off + 7]}")
    (total,) = struct.unpack(">Q", buf[off + 8 : off + 16])
    end = off + total
    if buf[end - 4 : end] != _END:
        raise ValueError("message does not end in 7777")
    p = off + 16
    ni = nj = None
    cat = num = 255
    ref = 0.0
    e = d = 0
    nbits = 0
    npoints = 0
    ndata = 0
    packed = b""
    bitmap = None
    while p < end - 4:
        (slen,) = struct.unpack(">I", buf[p : p + 4])
        snum = buf[p + 4]
        body = buf[p + 5 : p + slen]
        if snum == 3:
            src, ndata, _, _, tmpl = struct.unpack(">BIBBH", body[:9])
            if tmpl != 0:
                raise ValueError(f"unsupported grid template 3.{tmpl}")
            t = body[9:]
            ni, nj = struct.unpack(">II", t[16:24])
            if ni * nj != ndata:
                raise ValueError("grid size does not match data point count")
        elif snum == 4:
            tmpl = struct.unpack(">H", body[2:4])[0]
            if tmpl != 0:
                raise ValueError(f"unsupported product template 4.{tmpl}")
            cat, num = body[4], body[5]
        elif snum == 5:
            npoints, tmpl = struct.unpack(">IH", body[:6])
            if tmpl != 0:
                raise ValueError(f"unsupported packing template 5.{tmpl}")
            (ref,) = struct.unpack(">f", body[6:10])
            e = _rs16(body[10:12])
            d = _rs16(body[12:14])
            nbits = body[14]
        elif snum == 6:
            if body[0] == 0:
                # bitmap applies: 1 bit per GRID point, 1 = value present
                bitmap = _unpack_bits(body[1:], 1, ndata)
            elif body[0] != 255:
                raise ValueError(
                    f"bitmap indicator {body[0]} not supported (only 0/255)"
                )
        elif snum == 7:
            packed = body
        p += slen
    if ni is None:
        raise ValueError("no grid definition section")
    xs = _unpack_bits(packed, nbits, npoints) if nbits else [0] * npoints
    scale = 10.0 ** d
    if e == 0 and d == 0:
        # the bit-exact path: Y = R + X with both integral
        present = [ref + x for x in xs]
    else:
        present = [(ref + x * (2.0 ** e)) / scale for x in xs]
    if bitmap is not None:
        if sum(bitmap) != npoints:
            raise ValueError("bitmap population does not match packed count")
        it = iter(present)
        values = [next(it) if b else None for b in bitmap]
    else:
        values = present
    variable = _PARAMS.get((disc, cat, num), f"d{disc}.c{cat}.p{num}")
    return variable, nj, ni, values, end


def encode_grid_files(grid_rows, nbits: int | None = None):
    """K-side twin of the decode path: long grid-model rows (variable,
    y, x, value) → one GRIB2 message PER VARIABLE, encoded
    EXECUTOR-SIDE via applyInPandas (one group = one surface = one
    message, the grouping the contour UDTF established). NULL/NaN cells
    become section-6 bitmap holes — the write loop of the
    nodata → NULL ↔ bitmap correspondence.

    ``nbits=None`` sizes the packing from each variable's integer value
    range (exact for the E=D=0 integral contract); pass an explicit
    width plus scale handling upstream for float fields. Returns
    (variable, ny, nx, n_missing, content binary) — a sink row per
    message; pair with `write_grib2_dir` to land files.

    Reference analogue: the grid writers in raster_vector.py /
    convertmodis.py land one file per variable/product; the Spark shape
    is a groupBy-encode with the bytes as a binary column, so the same
    frame can feed a parquet landing table, a foreachBatch uploader, or
    a direct file write."""
    import pandas as pd

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["y", "x"])
        variable = str(pdf["variable"].iloc[0])
        ny = int(pdf["y"].max()) + 1
        nx = int(pdf["x"].max()) + 1
        if len(pdf) != ny * nx:
            raise ValueError(
                f"variable {variable!r}: {len(pdf)} rows for a {ny}x{nx} grid"
            )
        vals = [None if pd.isna(v) else float(v) for v in pdf["value"]]
        present = [v for v in vals if v is not None]
        width = nbits
        if width is None:
            span = int(max(present) - min(present)) if present else 0
            width = max(1, span.bit_length())
        msg = encode_message(variable, ny, nx, vals, nbits=width)
        return pd.DataFrame(
            {
                "variable": [variable],
                "ny": [ny],
                "nx": [nx],
                "n_missing": [len(vals) - len(present)],
                "content": [msg],
            }
        )

    return grid_rows.groupBy("variable").applyInPandas(
        enc, "variable string, ny long, nx long, n_missing long, content binary"
    )


def write_grib2_dir(encoded, out_dir: str):
    """Land (variable, content) rows as ``<variable>.grib2`` files —
    executor-side, write-then-rename per file (the atomic-publish rule
    every sink in this engine follows, sinks.py). ``out_dir`` must be a
    shared filesystem on a real cluster. Returns (variable, path,
    n_bytes) rows; the action is the caller's collect/count."""
    import pandas as pd

    def write(batches):
        import os
        import uuid

        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            out = {"variable": [], "path": [], "n_bytes": []}
            for variable, content in zip(pdf["variable"], pdf["content"]):
                final = os.path.join(out_dir, f"{variable}.grib2")
                tmp = f"{final}.writing-{uuid.uuid4().hex}"
                with open(tmp, "wb") as f:
                    f.write(bytes(content))
                os.replace(tmp, final)
                out["variable"].append(variable)
                out["path"].append(final)
                out["n_bytes"].append(len(content))
            yield pd.DataFrame(out)

    return encoded.select("variable", "content").mapInPandas(
        write, "variable string, path string, n_bytes long"
    )

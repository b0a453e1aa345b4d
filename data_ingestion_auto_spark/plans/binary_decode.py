"""S5/U1 at the query surface: the binary decode boundary, oracled.

A GRIB-shaped SGB1 fixture (sources/gribsim.py — magic/header/f64-payload/
CRC/end-marker messages) and real GRIB2 fixtures (sources/grib2.py) are
encoded once per sf from the SAME dense raster the warp queries use,
then decoded in-engine from a ``binaryFile`` scan by the one decoder,
`decode_grid_files`, whose framing loop lets each message's magic pick
its parser. The oracle recomputes the raster straight from the events
table, so the hash match proves encode → binaryFile → Arrow → decode is
bit-lossless — closing the stubbed S5/U1 seam (reference cdo decode
ingest/__init__.py:74-91, HDF4 subdatasets modis/convertmodis.py:273-303)
the way `byte_range_message_fetch` closed S3.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..memo import publish_once
from ..sources.gribsim import decode_grid_files, encode_message
from .helpers import sort_small
from .registry import query
from .warp import DENSE_CTES, _dense_grid


def _dense_arrays(spark, sf_dir: str) -> dict:
    """The dense raster per variable as ``{variable: (ny, nx, values)}``,
    values row-major. The toPandas is bounded fixture scaffolding (240
    rows), same class as the HTTP origin-server build in sources_ops.py."""
    pdf = _dense_grid(spark, sf_dir).orderBy("variable", "y", "x").toPandas()
    grids = {}
    for v, part in pdf.groupby("variable"):
        grids[v] = (int(part.y.max()) + 1, int(part.x.max()) + 1, part.value.to_numpy())
    return grids


def _ensure_sgb_fixture(spark, sf_dir: str) -> str:
    """Encode the dense raster into two SGB1 files — file 0 holds
    messages 'a' and 'b' (multi-message framing exercised), file 1 holds
    'c' = negated 'a' (exact double negation, so the oracle can replay
    it). Published once per events-table version through
    `publish_once` (the raster derives from events)."""

    def write(tmp: str) -> None:
        grids = _dense_arrays(spark, sf_dir)
        with open(os.path.join(tmp, "grid-0.sgb"), "wb") as f:
            for v in ("a", "b"):
                ny, nx, vals = grids[v]
                f.write(encode_message(v, ny, nx, [float(x) for x in vals]))
        with open(os.path.join(tmp, "grid-1.sgb"), "wb") as f:
            ny, nx, vals = grids["a"]
            f.write(encode_message("c", ny, nx, [-float(x) for x in vals]))

    return publish_once(sf_dir, "sgb", write, "events.parquet")


@query(
    "binary_grid_decode_roundtrip",
    oracle=f"""
WITH {DENSE_CTES}
SELECT variable, y, x, value FROM dense
UNION ALL
SELECT 'c' AS variable, y, x, -value AS value FROM dense WHERE variable = 'a'
ORDER BY variable, y, x
""",
    tags=("S5", "U1", "binaryFile", "mapInPandas"),
)
def binary_grid_decode_roundtrip(spark, sf_dir):
    """S5/U1: three GRIB-shaped messages across two binary files are
    scanned with ``binaryFile`` and decoded executor-side (CRC + end
    marker verified per message) into the long grid model; the oracle
    recomputes the same raster from events. Hash match = the decode
    plumbing is bit-lossless; a new format is one parser plus one magic
    in sources/gribsim.py::decode_file."""
    base = _ensure_sgb_fixture(spark, sf_dir)
    bins = spark.read.format("binaryFile").option("pathGlobFilter", "*.sgb").load(base)
    # sort_small: orderBy's range sampler would decode every message
    # twice through the mapInPandas boundary (plans/helpers.py, r13)
    return sort_small(
        decode_grid_files(bins).select("variable", "y", "x", F.col("value")),
        "variable", "y", "x",
    )


def _ensure_grib2_fixture(spark, sf_dir: str) -> str:
    """Encode the dense raster's floor-integer twin into two REAL GRIB2
    files (sources/grib2.py — WMO FM-92 edition 2, grid template 3.0,
    simple packing): file 0 holds 't' (= floor of grid 'a') and 'u'
    (= floor of 'b') as a multi-message file, file 1 holds 'v' =
    negated 't'. Integer fields at E=D=0 round-trip bit-exactly
    (tests/test_grib2.py), which is what makes the oracle hash
    meaningful. Keyed on the events table, like the SGB1 fixture."""
    import math

    from ..sources.grib2 import encode_message as encode_grib2

    def write(tmp: str) -> None:
        grids = _dense_arrays(spark, sf_dir)
        msgs = {}
        for src_v, out_v, sign in (("a", "t", 1), ("b", "u", 1), ("a", "v", -1)):
            ny, nx, vals = grids[src_v]
            vals = [sign * float(math.floor(x)) for x in vals]
            span = int(max(vals) - min(vals))
            msgs[out_v] = encode_grib2(out_v, ny, nx, vals, nbits=max(1, span.bit_length()))
        with open(os.path.join(tmp, "grid-0.grib2"), "wb") as f:
            f.write(msgs["t"] + msgs["u"])
        with open(os.path.join(tmp, "grid-1.grib2"), "wb") as f:
            f.write(msgs["v"])

    return publish_once(sf_dir, "grib2", write, "events.parquet")


@query(
    "grib2_decode_roundtrip",
    oracle=f"""
WITH {DENSE_CTES},
ints AS (SELECT variable, y, x, CAST(floor(value) AS DOUBLE) AS value FROM dense)
SELECT CASE variable WHEN 'a' THEN 't' ELSE 'u' END AS variable, y, x, value FROM ints
UNION ALL
SELECT 'v' AS variable, y, x, -value AS value FROM ints WHERE variable = 'a'
ORDER BY variable, y, x
""",
    tags=("S5", "U1", "binaryFile", "mapInPandas", "grib2"),
)
def grib2_decode_roundtrip(spark, sf_dir):
    """S5 on the REAL public wire format (round-13): three GRIB2
    messages — WMO FM-92 edition 2, regular lat/lon template 3.0,
    simple packing, written by sources/grib2.py — scanned with
    ``binaryFile`` and decoded executor-side by `decode_grid_files`, the
    same decoder the SGB1 query uses (the ``GRIB`` magic routes each
    message to the GRIB2 section parser), into the long grid model. The
    oracle recomputes the floor-integer raster from events, so the hash
    match proves the GRIB2 encode → binaryFile → Arrow → parse path is
    bit-lossless for integer fields (the E=D=0 exactness contract). Files any standard
    GRIB tool can read; the cdo/eccodes swap stays the argv seam
    (reference cdo decode ingest/__init__.py:74-91)."""
    base = _ensure_grib2_fixture(spark, sf_dir)
    bins = spark.read.format("binaryFile").option("pathGlobFilter", "*.grib2").load(base)
    return sort_small(
        decode_grid_files(bins).select("variable", "y", "x", "value"),
        "variable", "y", "x",
    )


def _ensure_grib2_bitmap_fixture(spark, sf_dir: str) -> str:
    """One GRIB2 message with a section-6 BITMAP: grid 'a' floor-ints
    with every cell whose value is divisible by 5 masked out (a
    deterministic predicate both engines replay). Keyed on the events
    table, like the no-bitmap fixture."""
    import math

    from ..sources.grib2 import encode_message as encode_grib2

    def write(tmp: str) -> None:
        ny, nx, vals = _dense_arrays(spark, sf_dir)["a"]
        vals = [None if math.floor(x) % 5 == 0 else float(math.floor(x)) for x in vals]
        present = [v for v in vals if v is not None]
        span = int(max(present) - min(present))
        with open(os.path.join(tmp, "masked.grib2"), "wb") as f:
            f.write(encode_grib2("t", ny, nx, vals, nbits=max(1, span.bit_length())))

    return publish_once(sf_dir, "grib2bm", write, "events.parquet")


@query(
    "grib2_bitmap_mask_stats",
    oracle=f"""
WITH {DENSE_CTES},
masked AS (
  SELECT y, x,
         CASE WHEN CAST(floor(value) AS BIGINT) % 5 = 0 THEN NULL
              ELSE CAST(floor(value) AS DOUBLE) END AS value
  FROM dense WHERE variable = 'a'
)
SELECT 't' AS variable,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(count(value) AS BIGINT) AS n_present,
       CAST(count(*) - count(value) AS BIGINT) AS n_missing,
       CAST(sum(value) AS BIGINT) AS sum_present,
       CAST(min(value) AS BIGINT) AS min_present,
       CAST(max(value) AS BIGINT) AS max_present
FROM masked
GROUP BY 1
ORDER BY variable
""",
    tags=("S5", "P4", "bitmap", "grib2", "binaryFile"),
)
def grib2_bitmap_mask_stats(spark, sf_dir):
    """S5 × P4 on the real wire format: a GRIB2 message whose section-6
    BITMAP masks every divisible-by-5 cell is decoded executor-side;
    missing points surface as NULL (the nodata → NULL normalization the
    reference applies at decode, chirps_rainfall/__init__.py nodata
    handling), and the per-variable accounting — total cells, present,
    missing, exact integer sum/min/max of the present values — hashes
    against a DuckDB replay of the same mask. Proves the bitmap path
    end-to-end: population check, NULL restoration, and that masked
    cells never leak into aggregates."""
    base = _ensure_grib2_bitmap_fixture(spark, sf_dir)
    bins = spark.read.format("binaryFile").option("pathGlobFilter", "*.grib2").load(base)
    return (
        decode_grid_files(bins).groupBy("variable")
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.count("value").cast("bigint").alias("n_present"),
            (F.count("*") - F.count("value")).cast("bigint").alias("n_missing"),
            F.sum("value").cast("bigint").alias("sum_present"),
            F.min("value").cast("bigint").alias("min_present"),
            F.max("value").cast("bigint").alias("max_present"),
        )
        .orderBy("variable")
    )


@query(
    "cds_retrieval_roundtrip",
    oracle=f"""
WITH {DENSE_CTES},
landed AS (
  SELECT variable, value FROM dense
  UNION ALL
  SELECT 'c' AS variable, -value AS value FROM dense WHERE variable = 'a'
)
SELECT variable,
       CAST(count(*) AS BIGINT) AS n_cells,
       min(value) AS min_value,
       max(value) AS max_value
FROM landed
GROUP BY variable
ORDER BY variable
""",
    tags=("S14", "connector", "binaryFile"),
)
def cds_retrieval_roundtrip(spark, sf_dir):
    """S14 end-to-end (reference cams_forecast/__init__.py:32,:39-123):
    three scheduled `pipelines.run_cds_forecast_batch` steps against a
    queued CDS stand-in — day 1 lands messages a+b, day 2 lands c, day
    3 is unavailable (task fails at completion; the step returns
    'skipped' and COMMITS NOTHING, the reference's try/except-skip).
    Each ingested day is decoded executor-side and published per
    (date, variable); the published table is aggregated per variable
    and the oracle recomputes the same stats from events. Hash match =
    submit → poll → land → decode → publish is lossless, and the skip
    left no partial rows behind."""
    import os
    import shutil
    import tempfile

    from ..pipelines import run_cds_forecast_batch
    from ..sources.cds_connector import CdsClient, LocalCdsQueue
    from ..state import StateStore

    sgb = _ensure_sgb_fixture(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="spark_graft_cds_")
    try:
        # stage the CDS backend: one dataset, results keyed by date
        ds_dir = os.path.join(work, "origin", "sgb-grid")
        os.makedirs(ds_dir)
        shutil.copy(os.path.join(sgb, "grid-0.sgb"), os.path.join(ds_dir, "2026-01-01.bin"))
        shutil.copy(os.path.join(sgb, "grid-1.sgb"), os.path.join(ds_dir, "2026-01-02.bin"))
        # 2026-01-03 deliberately absent → failed task → skipped, no commit

        client = CdsClient(LocalCdsQueue(os.path.join(work, "origin")))
        state = StateStore(os.path.join(work, "state.json"))
        published = os.path.join(work, "published")
        outcomes = [
            run_cds_forecast_batch(
                spark, client, "sgb-grid", {"date": "2026-01-01"}, state, "cds_demo",
                os.path.join(work, "landing"), published,
            )
            for _ in range(3)
        ]
        # explicit raises (not asserts — the contract must hold under
        # python -O too): two ingests, one skip, skip committed nothing
        got = [o["status"] for o in outcomes]
        if got != ["ingested", "ingested", "skipped"]:
            raise RuntimeError(f"cds gate outcomes wrong: {got}")
        if state.get("cds_demo") != "2026-01-02":
            raise RuntimeError(
                f"skip committed state: {state.get('cds_demo')!r}"
            )

        return (
            spark.read.parquet(published)
            .groupBy("variable")
            .agg(
                F.count("*").cast("bigint").alias("n_cells"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .orderBy("variable")
            .localCheckpoint()  # materialize before the workdir is removed
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

"""Grid-domain operators: the reference's raster semantics on the long
grid table (SURVEY §2.3-2.5: P4/P5 nodata, J1 anomaly, J2 derived vars,
J4 mosaic-coalesce, A1 climatology).

Scale notes: the grid table partitions by (namespace, time) on disk; every
operator here keys its shuffle on the cell (y, x) or on time — the two
natural co-location axes. The climatological normal per calendar-month is
bounded by (12 × cells), so the anomaly join always broadcasts the normals
side: the J1 join never shuffles the big current-period side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import top1
from ..model import NODATA_SENTINEL


def normalize_nodata(df: DataFrame, sentinel: float = NODATA_SENTINEL) -> DataFrame:
    """P4/P5: one rule — sentinel→NULL at scan, NULL-propagating arithmetic
    everywhere, sentinel re-materialized only at sink (SURVEY §7.4).
    Also folds NaN into NULL (the reference's isnan guard,
    dustforecast/__init__.py:130-138)."""
    v = F.col("value")
    clean = F.when(v.isNull() | F.isnan(v) | (v == sentinel), F.lit(None).cast("double")).otherwise(v)
    return df.withColumn("value", clean)


def materialize_nodata(df: DataFrame, sentinel: float = NODATA_SENTINEL) -> DataFrame:
    """Sink-side inverse of normalize_nodata (reference writes −9999,
    chirps `:114,266,321,357`)."""
    return df.withColumn("value", F.coalesce(F.col("value"), F.lit(sentinel)))


def climatology_normal(grid: DataFrame, variable: str) -> DataFrame:
    """A1: per-(cell, month-of-year) mean over all years — the reference's
    31-file `mean(dim='band')` (chirps_rainfall/__init__.py:239-275).

    NULL cells don't contribute (avg ignores NULLs = the reference's mask
    semantics). Output is small (12 × cells) → broadcastable; persist it as
    the materialized normals table (W7) rather than recomputing per batch.

    Grid-identity columns beyond the cell (review r11): when the frame
    carries ``level`` / ``namespace`` (GRID_SCHEMA declares both), they
    join the grouping keys — otherwise a multi-level grid's normals
    silently average level-500 with level-850 and every level's anomaly
    is computed against a cross-level-contaminated mean. Frames without
    those columns (single-surface pipelines) group exactly as before.
    """
    extra = [c for c in ("namespace", "level") if c in grid.columns]
    return (
        grid.filter(F.col("variable") == variable)
        .groupBy(F.month("time").alias("moy"), "y", "x", *extra)
        .agg(F.avg("value").alias("normal"))
    )


def anomaly_join(current: DataFrame, normal: DataFrame) -> DataFrame:
    """J1: current ⋈ normal on (cell, month-of-year); anomaly NULL if
    either side is nodata (chirps `:94-104` mask semantics — NULL
    propagation gives this for free).

    The normals side broadcasts (bounded cardinality) — no shuffle of the
    current side beyond its scan. Grid-identity columns shared by both
    sides (``namespace``, ``level``) join the key set — NULL-SAFELY for
    level, whose GRID_SCHEMA convention uses NULL for surface fields (a
    plain equi-join would silently drop every surface row)."""
    cur = current.withColumn("moy", F.month("time"))
    keys = ["moy", "y", "x"] + [
        c for c in ("namespace", "level") if c in cur.columns and c in normal.columns
    ]
    cond = None
    for k in keys:
        c = cur[k].eqNullSafe(normal[k]) if k == "level" else cur[k] == normal[k]
        cond = c if cond is None else cond & c
    joined = cur.join(F.broadcast(normal), cond, "left")
    return joined.select(
        cur["namespace"],
        cur["variable"],
        cur["time"],
        cur["y"],
        cur["x"],
        cur["value"].alias("current"),
        normal["normal"],
        (cur["value"] - normal["normal"]).alias("anomaly"),
    )


def derived_wide(grid: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """J2: pivot (u, v) to wide columns, derive wind speed as a projection
    — no self-join (SURVEY J2's preferred mapping). The pivot is one
    shuffle on (time, cell); the derivation is codegen.
    """
    from ..functions import wind_speed

    wide = (
        grid.filter(F.col("variable").isin(u, v))
        .groupBy("namespace", "time", "level", "y", "x")
        .pivot("variable", [u, v])
        .agg(F.first("value"))
    )
    # ONE wind-speed definition (functions.scalars.wind_speed, F2) — an
    # inline re-derivation here could silently diverge from it
    return wide.withColumn("wind_speed", wind_speed(F.col(u), F.col(v)))


def mosaic_coalesce(tiles: DataFrame) -> DataFrame:
    """J4: overlay tiles onto one canvas; first NON-NULL value in
    file_order wins (reference `Numeric.choose(nodata_test, (src, dst))`,
    convertmodis.py:102-103 — later tiles fill only nodata cells).

    Implemented as `top1` over non-null candidates per cell, ordered by
    (file_order, tile_id) — an explicit deterministic tiebreaker, NOT
    groupBy().first() (partition-order nondeterminism, SURVEY §7.4) —
    so value and source_tile always come from the same tile. One
    shuffle on the cell key.
    """
    nn = tiles.filter(F.col("value").isNotNull())
    return top1(
        nn,
        ["y", "x"],
        ["file_order", F.col("tile_id").alias("source_tile")],
        ["value"],
        aggs=[F.count("*").alias("n_candidates")],
    ).select("y", "x", "value", "source_tile", "n_candidates")


def extent_union(tiles: DataFrame) -> DataFrame:
    """A2: mosaic canvas extent = min/max over tile corners
    (convertmodis.py:319-341)."""
    return tiles.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )


def latest_available(catalog: DataFrame) -> DataFrame:
    """S4/A5: latest fully-available date — max(date) over available
    entries (the walk-back HEAD probe, client.py:25-57, as a catalog agg)."""
    return catalog.filter(F.col("available")).agg(F.max("date").alias("latest"))


def time_partition_paths(grid: DataFrame, namespace_col: str = "namespace") -> DataFrame:
    """K1 naming convention: {namespace}/{namespace}_{ISO}.000Z.tif
    (ecmwf_opendata/__init__.py:306-314) — the timestamp-in-filename IS the
    partition key (SURVEY §1.1)."""
    iso = F.date_format("time", "yyyy-MM-dd'T'HH:mm:ss'.000Z'")
    return grid.withColumn(
        "path",
        F.format_string("%s/%s_%s.tif", F.col(namespace_col), F.col(namespace_col), iso),
    )

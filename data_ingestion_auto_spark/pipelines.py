"""The reference's five dataset pipelines recomposed Spark-first
(SURVEY §3, §7.2 step 6): declarative param configs compile to Column
chains; state gates batches; sinks are idempotent partition overwrites.

The `DataIngest` class hierarchy becomes a `PipelineSpec` dataclass — each
reference job is an instance, not a subclass (config over inheritance:
the reference's param dicts at ecmwf_opendata/__init__.py:13-161,
dustforecast/__init__.py:31-48, cams_forecast/__init__.py:12-22 already
were declarative; here the whole pipeline is).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import convert_data
from .operators.grid import (
    anomaly_join,
    climatology_normal,
    derived_wide,
    latest_available,
    normalize_nodata,
    time_partition_paths,
)
from .sinks import overwrite_partitions, retention_delete
from .state import StateStore


@dataclass(frozen=True)
class ParamSpec:
    """One variable's processing spec — the reference's param dict
    (e.g. {variable, convert:{operation, constant}, derived} at
    ecmwf_opendata/__init__.py:13-75)."""

    variable: str
    convert_operation: str | None = None
    convert_constant: float | None = None
    units: str | None = None
    derived_from: tuple[str, str] | None = None  # e.g. ("u", "v") → wind speed


@dataclass(frozen=True)
class PipelineSpec:
    dataset_id: str
    namespace: str
    params: tuple[ParamSpec, ...] = field(default_factory=tuple)
    cleanup_old_data: bool = False  # forecast datasets purge; history keeps


# The five reference jobs (ingest/jobs.py:28-74), as specs.
ECMWF_FORECAST = PipelineSpec(
    dataset_id="ecmwf_forecast",
    namespace="ecmwf_forecast",
    params=(
        ParamSpec("2t", "subtract", 273.15, units="degC"),  # K→°C (ecmwf :19-23)
        ParamSpec("tp", "multiply", 1000.0, units="mm"),  # m→mm (ecmwf :30-34)
        ParamSpec("msl", "divide", 100.0, units="hPa"),  # Pa→hPa (ecmwf :40-44)
        ParamSpec("wind", derived_from=("u", "v")),  # sqrt(u²+v²) (ecmwf :495-497)
    ),
    cleanup_old_data=True,
)
DUST_FORECAST = PipelineSpec(
    "dust_forecast", "dust_forecast", (ParamSpec("dust", "multiply", 1e9),), cleanup_old_data=True
)
CAMS_PM25 = PipelineSpec(
    "cams_forecast", "cams_pm25", (ParamSpec("pm2p5", "multiply", 1e9),), cleanup_old_data=True
)
TAMSAT_RAINFALL = PipelineSpec("tamsat_rainfall", "tamsat_rainfall", (ParamSpec("rfe"),))
CHIRPS_RAINFALL = PipelineSpec("chirps_rainfall", "chirps_rainfall", (ParamSpec("rfe"),))


def apply_params(grid: DataFrame, spec: PipelineSpec) -> DataFrame:
    """Compile the spec into a unioned long frame: converted scalars plus
    derived variables (F1/F2/J2). Conversions are NULL-propagating (nodata
    stays NULL through arithmetic, SURVEY §7.4)."""
    outs = []
    for p in spec.params:
        if p.derived_from:
            outs.append(
                derived_wide(grid, *p.derived_from).select(
                    "namespace",
                    F.lit(p.variable).alias("variable"),
                    "time",
                    "level",
                    "y",
                    "x",
                    F.col("wind_speed").alias("value"),
                    F.lit(p.units).alias("units"),
                )
            )
        else:
            sel = grid.filter(F.col("variable") == p.variable)
            value = F.col("value")
            if p.convert_operation:
                value = convert_data(value, p.convert_constant, p.convert_operation)
            outs.append(
                sel.select(
                    "namespace",
                    "variable",
                    "time",
                    "level",
                    "y",
                    "x",
                    value.alias("value"),
                    F.coalesce(F.lit(p.units), F.col("units")).alias("units"),
                )
            )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def run_download_batch(
    spark,
    store,
    urls: list[str],
    landing_dir: str,
    schema: str,
) -> DataFrame:
    """The ingest front door (S1/S4/S8): probe each URL for availability
    (the reference's walk-back HEAD, client.py:25-57), stream-download the
    available ones into the landing dir with gunzip-on-land
    (utils.py:121-136, chirps :332-340), and open the landed files as a
    DataFrame. Catalogs are small → probed driver-side like the reference
    scheduler; payload bytes never transit the driver (the scan reads the
    landed files executor-side).
    """
    from .sources.http_connector import land_files

    available = [u for u in urls if store.head(u) is not None]
    if not available:
        return spark.createDataFrame([], schema)
    paths = land_files(store, available, landing_dir)
    return spark.read.schema(schema).csv(paths, header=True)


def run_forecast_batch(
    grid: DataFrame,
    catalog: DataFrame,
    spec: PipelineSpec,
    state: StateStore,
    out_path: str,
) -> dict:
    """One scheduler tick of a forecast pipeline (SURVEY §3.1 restated):

    catalog → latest available (S4) → skip-when-equal (W3) → normalize
    nodata (P4/P5) → param compilation (F1/F2/J2) → idempotent partitioned
    write (K1/K2/W9) → retention (K8, forecasts only) → single atomic state
    commit (W3 — never inside a param loop; fixes ecmwf :188-191).
    """
    row = latest_available(catalog).collect()[0]
    latest = row["latest"]
    if latest is None:
        return {"status": "no_data"}
    latest_iso = latest.strftime("%Y-%m-%dT%H:%M:%S")
    if state.should_skip(spec.dataset_id, latest_iso):
        return {"status": "skipped", "latest": latest_iso}

    batch = grid.filter(F.col("time") == F.lit(latest))
    processed = apply_params(normalize_nodata(batch), spec)
    out = time_partition_paths(processed).withColumn(
        "time_key", F.date_format("time", "yyyy-MM-dd'T'HH:mm:ss")
    )
    overwrite_partitions(out, out_path, ["namespace", "time_key"])
    deleted = (
        retention_delete(f"{out_path}/namespace={spec.namespace}", "time_key", latest_iso)
        if spec.cleanup_old_data
        else []
    )
    state.commit(spec.dataset_id, {"last_update": latest_iso})
    return {"status": "ingested", "latest": latest_iso, "deleted_partitions": deleted}


def run_anomaly_batch(
    grid: DataFrame,
    spec: PipelineSpec,
    state: StateStore,
    normals_path: str,
    month: str,  # "YYYY-MM"
) -> DataFrame:
    """One CHIRPS-style anomaly batch (SURVEY §3.2): memoized climatology
    (W7: normals parquet written once, path committed under
    `monthly_normals.<MM>`), then broadcast anomaly join (J1).

    The normal is built from HISTORY ONLY — periods strictly before the
    scored month (the reference computes normals from past years'
    rasters, chirps :239-275); including the scored month would bias the
    anomaly toward zero. The memoized parquet carries a history-watermark
    (max historical time at build); when new history arrives the watermark
    moves and the normal is rebuilt instead of staying frozen forever.
    """
    spark = grid.sparkSession
    variable = spec.params[0].variable
    moy = int(month.split("-")[1])
    normals_key = f"monthly_normals.{moy:02d}"
    watermark_key = f"{normals_key}.history_watermark"

    history = grid.filter(
        (F.col("variable") == variable) & (F.date_format("time", "yyyy-MM") < month)
    )
    # 1-row watermark read (driver-side by design, like the state gate)
    hist_max = history.agg(F.max("time").alias("m")).collect()[0]["m"]
    hist_wm = hist_max.strftime("%Y-%m-%dT%H:%M:%S") if hist_max else ""

    memoized = state.get(spec.dataset_id, normals_key)
    if memoized and state.get(spec.dataset_id, watermark_key) == hist_wm:
        normal = spark.read.parquet(memoized)
    else:
        normal = climatology_normal(normalize_nodata(history), variable).filter(
            F.col("moy") == moy
        )
        path = f"{normals_path}/moy={moy:02d}"
        normal.write.mode("overwrite").parquet(path)
        normal = spark.read.parquet(path)
        state.commit(spec.dataset_id, {normals_key: path, watermark_key: hist_wm})

    current = normalize_nodata(
        grid.filter((F.col("variable") == variable) & (F.date_format("time", "yyyy-MM") == month))
    )
    return anomaly_join(current, normal)


def run_cds_forecast_batch(
    spark,
    client,
    dataset: str,
    options: dict,
    state: StateStore,
    dataset_id: str,
    landing_dir: str,
    out_path: str,
    keep_days: int = 2,
) -> dict:
    """The reference's FULL CamsForecast.run() recomposed Spark-first
    (reference ingest/cams_forecast/__init__.py:39-123): one scheduled
    step = queued CDS retrieve for the watermark's next date → decode
    the landed binary into the long grid model → idempotent per-(date,
    variable) publication → retention of old forecasts → state commit
    LAST (:122-123 — the reference too updates state only after decode,
    save, cleanup, and ingest all succeeded; our K6/W9 ordering rule).

    Mapping, leg by leg:
    - retrieve: `CdsClient.retrieve` (submit/poll/land; cdsapi :72),
      date = last_update + 24h (first run: ``options["date"]``), landed
      as ``{dataset}_{date}.bin`` (the partition key in the filename,
      K1); unavailable → {'status': 'skipped'}, NOTHING committed, the
      next run retries the same date (:71-75)
    - decode: the reference shells out to cdo + slices per (variable,
      time) (:77-105); here the landed file is scanned with binaryFile
      and gribsim-decoded executor-side — the driver never parses bytes
    - publish: the reference writes one COG per variable-time and
      re-ingests (:96-105, filename = partition key); here
      `overwrite_partitions` on (date, variable) — delete-then-insert of
      exactly the republished partitions, so a replayed batch is
      idempotent
    - retention: `cleanup_old_data` before ingestion (:108) →
      `retention_delete` below the keep-window watermark; the landed
      ``{dataset}_{date}.bin`` payloads below it are removed too
    - state: committed last; a crash ANYWHERE earlier leaves last_update
      untouched and the replayed step re-lands, re-publishes (idempotent
      overwrite), re-retains, then commits.
    """
    import datetime as dt

    from .sources.cds_connector import CdsRetrievalError
    from .sources.gribsim import decode_grid_files

    last = state.get(dataset_id, "last_update")
    next_date = (
        (dt.date.fromisoformat(last) + dt.timedelta(days=1)).isoformat()
        if last
        else options["date"]
    )

    def landed(day: str) -> str:
        return f"{dataset}_{day}.bin"

    target = os.path.join(landing_dir, landed(next_date))
    try:
        client.retrieve(dataset, {**options, "date": next_date}, target)
    except CdsRetrievalError:
        return {"status": "skipped", "date": next_date}

    bins = (
        spark.read.format("binaryFile")
        .load(target)
    )
    grid = decode_grid_files(bins).select(
        F.lit(next_date).alias("date"), "variable", "y", "x", "value"
    )
    overwrite_partitions(grid, out_path, ["date", "variable"])

    watermark = (
        dt.date.fromisoformat(next_date) - dt.timedelta(days=keep_days)
    ).isoformat()
    deleted = retention_delete(out_path, "date", watermark)
    # The landed payloads share the watermark, so the landing dir holds at
    # most keep_days + 1 files instead of one per period forever; ISO
    # dates order the same inside the name as alone.
    for name in os.listdir(landing_dir):
        if (
            name.startswith(f"{dataset}_")
            and name.endswith(".bin")
            and name < landed(watermark)
        ):
            os.remove(os.path.join(landing_dir, name))

    state.commit(dataset_id, {"last_update": next_date})
    return {
        "status": "ingested",
        "date": next_date,
        "deleted_partitions": deleted,
    }

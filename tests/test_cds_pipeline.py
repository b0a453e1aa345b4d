"""End-to-end CAMS-shaped pipeline (pipelines.run_cds_forecast_batch):
queued CDS retrieve → executor-side binary decode → idempotent
per-(date, variable) publication → retention → state commit LAST —
the reference CamsForecast.run() flow (cams_forecast/__init__.py:39-123)
recomposed on this engine's connectors and sinks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_auto_spark.pipelines import run_cds_forecast_batch
from data_ingestion_auto_spark.sources.cds_connector import CdsClient, LocalCdsQueue
from data_ingestion_auto_spark.sources.gribsim import encode_message
from data_ingestion_auto_spark.state import StateStore


def _mk_origin(tmp_path, dates):
    d = tmp_path / "origin" / "cams"
    d.mkdir(parents=True)
    for i, date in enumerate(dates):
        # two variables per file (multi-message), values derived from the
        # date index so each day's raster is distinct and checkable
        buf = encode_message("pm2p5", 2, 3, [float(10 * i + k) for k in range(6)])
        buf += encode_message("pm10", 2, 3, [float(100 * i + k) for k in range(6)])
        (d / f"{date}.bin").write_bytes(buf)
    return str(tmp_path / "origin")


@pytest.fixture
def env(spark, tmp_path):
    origin = _mk_origin(tmp_path, ["2026-04-01", "2026-04-02", "2026-04-03"])
    client = CdsClient(LocalCdsQueue(origin))
    state = StateStore(str(tmp_path / "state.json"))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    out = str(tmp_path / "published")
    return client, state, landing, out


def _run(spark, env, **kw):
    client, state, landing, out = env
    return run_cds_forecast_batch(
        spark, client, "cams", {"date": "2026-04-01"}, state, "cams_fc", landing, out, **kw
    )


def test_three_days_then_skip_with_retention(spark, env):
    client, state, landing, out = env
    r1 = _run(spark, env, keep_days=1)
    r2 = _run(spark, env, keep_days=1)
    r3 = _run(spark, env, keep_days=1)
    assert [r["status"] for r in (r1, r2, r3)] == ["ingested"] * 3
    # day 3's watermark is day 2; retention is STRICTLY-older → day 1 drops
    assert r3["deleted_partitions"] == ["2026-04-01"]
    pub = spark.read.parquet(out)
    # partition discovery types `date` as DATE — compare as ISO strings
    assert sorted(str(r.date) for r in pub.select("date").distinct().collect()) == [
        "2026-04-02",
        "2026-04-03",
    ]
    # decode fidelity: day-3 pm10 raster is 200..205
    vals = sorted(
        r.value
        for r in pub.filter(
            (F.col("date") == "2026-04-03") & (F.col("variable") == "pm10")
        ).collect()
    )
    assert vals == [200.0, 201.0, 202.0, 203.0, 204.0, 205.0]
    # day 4 unavailable: skipped, state untouched, next run retries
    r4 = _run(spark, env)
    assert r4 == {"status": "skipped", "date": "2026-04-04"}
    assert state.get("cams_fc") == "2026-04-03"
    assert _run(spark, env)["status"] == "skipped"
    # landed filenames embed the date (K1 partition-in-filename), and the
    # payloads follow the published keep window: day 1 is gone with its
    # partitions, so the dir holds keep_days + 1 files
    assert sorted(os.listdir(landing)) == [
        "cams_2026-04-02.bin",
        "cams_2026-04-03.bin",
    ]


def test_crash_before_commit_replays_idempotently(spark, env):
    """Publish succeeded but state commit didn't (crash window): the
    replay re-retrieves the SAME date, re-publishes via dynamic
    partition overwrite, and converges — no duplicate rows, state
    advances exactly once."""
    client, state, landing, out = env
    _run(spark, env)
    # simulate the crash: roll the committed watermark back
    state.delete("cams_fc", "last_update")
    r = _run(spark, env)  # replay of day 1
    assert r["status"] == "ingested" and r["date"] == "2026-04-01"
    pub = spark.read.parquet(out).filter(F.col("date") == "2026-04-01")
    assert pub.count() == 12  # 2 variables × 6 cells, once
    assert state.get("cams_fc") == "2026-04-01"

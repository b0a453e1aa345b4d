"""S14 CDS-style queued retrieval (sources/cds_connector.py): the
submit/poll/open state machine, the one-call retrieve surface, and
run_cds_forecast_batch's commit-only-on-success state gate (reference
cams_forecast/__init__.py:54-75)."""

from __future__ import annotations

import os

import pytest

from data_ingestion_auto_spark.pipelines import run_cds_forecast_batch
from data_ingestion_auto_spark.sources.cds_connector import (
    CdsClient,
    CdsRetrievalError,
    LocalCdsQueue,
)
from data_ingestion_auto_spark.sources.gribsim import encode_message
from data_ingestion_auto_spark.state import StateStore


@pytest.fixture
def origin(tmp_path):
    d = tmp_path / "origin" / "cams"
    d.mkdir(parents=True)
    (d / "2026-03-01.bin").write_bytes(b"day-one-payload")
    (d / "2026-03-02.bin").write_bytes(b"day-two-payload")
    return str(tmp_path / "origin")


def test_task_state_machine_advances_per_poll(origin):
    q = LocalCdsQueue(origin)
    t = q.submit("cams", {"date": "2026-03-01"})
    assert [q.poll(t), q.poll(t), q.poll(t)] == ["queued", "running", "completed"]
    assert q.poll(t) == "completed"  # terminal states are sticky


def test_unavailable_date_fails_at_completion_not_submit(origin):
    """CDS reports data unavailability when the task completes, not at
    submit — the connector mirrors that."""
    q = LocalCdsQueue(origin)
    t = q.submit("cams", {"date": "2099-01-01"})
    assert q.poll(t) == "queued"
    assert q.poll(t) == "running"
    assert q.poll(t) == "failed"


def test_retrieve_polls_to_completion_and_downloads(origin, tmp_path):
    client = CdsClient(LocalCdsQueue(origin))
    out = str(tmp_path / "land" / "x.bin")
    assert client.retrieve("cams", {"date": "2026-03-01"}, out) == out
    assert open(out, "rb").read() == b"day-one-payload"
    assert os.listdir(tmp_path / "land") == ["x.bin"]  # exactly the landed file


def test_retrieve_raises_on_failed_and_budget(origin, tmp_path):
    client = CdsClient(LocalCdsQueue(origin))
    with pytest.raises(CdsRetrievalError, match="retrieval failed"):
        client.retrieve("cams", {"date": "2099-01-01"}, str(tmp_path / "y.bin"))
    slow = CdsClient(LocalCdsQueue(origin), max_polls=2)  # < states needed
    with pytest.raises(CdsRetrievalError, match="poll budget"):
        slow.retrieve("cams", {"date": "2026-03-01"}, str(tmp_path / "z.bin"))


def test_unknown_task_poll_raises(origin):
    with pytest.raises(KeyError):
        LocalCdsQueue(origin).poll("task-nope-2026-01-01")


def test_run_cds_batch_state_gate(spark, tmp_path):
    """Success commits last_update and the next run advances +24h; an
    unavailable day returns 'skipped' WITHOUT committing, so the run
    after that retries the same date (the reference's try/except-skip)."""
    d = tmp_path / "origin" / "cams"
    d.mkdir(parents=True)
    for date in ("2026-03-01", "2026-03-02"):
        (d / f"{date}.bin").write_bytes(encode_message("pm10", 1, 2, [1.0, 2.0]))
    client = CdsClient(LocalCdsQueue(str(tmp_path / "origin")))
    state = StateStore(str(tmp_path / "state.json"))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    out = str(tmp_path / "published")

    def run():
        return run_cds_forecast_batch(
            spark, client, "cams", {"date": "2026-03-01"}, state, "d1", landing, out
        )

    r1 = run()
    assert r1["status"] == "ingested" and state.get("d1") == "2026-03-01"
    r2 = run()
    assert r2["status"] == "ingested" and r2["date"] == "2026-03-02"
    r3 = run()
    assert r3 == {"status": "skipped", "date": "2026-03-03"}
    assert state.get("d1") == "2026-03-02"  # skip committed nothing
    r4 = run()
    assert r4["status"] == "skipped" and r4["date"] == "2026-03-03"  # retried

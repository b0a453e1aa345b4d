"""S1/S4/S8: local-file HTTP connector — ranged reads, streamed landing,
gunzip-on-land, availability probe, failed and concurrent landings, and
the full download→decode→ingest pipeline composition (VERDICT.md
round-1 item #3)."""

from __future__ import annotations

import gzip
import io
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from data_ingestion_auto_spark.pipelines import (
    ECMWF_FORECAST,
    run_download_batch,
    run_forecast_batch,
)
from data_ingestion_auto_spark.sources.cds_connector import CdsClient, LocalCdsQueue
from data_ingestion_auto_spark.sources.http_connector import (
    LocalHttpStore,
    fetch_bytes,
    land,
    land_files,
)
from data_ingestion_auto_spark.state import StateStore

BODY = b"0123456789abcdef" * 100


@pytest.fixture()
def store(tmp_path):
    root = tmp_path / "origin"
    p = root / "data.example.com" / "files"
    p.mkdir(parents=True)
    (p / "plain.bin").write_bytes(BODY)
    with gzip.open(p / "doc.csv.gz", "wb") as f:
        f.write(b"a,b\n1,2\n3,4\n")
    return LocalHttpStore(str(root))


def test_head_probe_and_404(store):
    assert store.head("http://data.example.com/files/plain.bin") == len(BODY)
    assert store.head("http://data.example.com/files/missing.bin") is None
    with pytest.raises(FileNotFoundError):
        store.get("http://data.example.com/files/missing.bin")


def test_ranged_get(store):
    url = "http://data.example.com/files/plain.bin"
    assert store.get(url) == BODY
    assert store.get(url, start=16, length=16) == BODY[16:32]
    assert store.get(url, start=len(BODY) - 4) == BODY[-4:]


def test_streamed_download_and_gunzip(store, tmp_path):
    url = "http://data.example.com/files/plain.bin"
    landing = tmp_path / "landing"
    out = land(store.open(url), str(landing / "landed.bin"))
    assert open(out, "rb").read() == BODY
    assert os.listdir(landing) == ["landed.bin"]  # exactly the landed file

    gz_landing = tmp_path / "gz_landing"
    [dec] = land_files(store, ["http://data.example.com/files/doc.csv.gz"], str(gz_landing))
    assert open(dec, "rb").read() == b"a,b\n1,2\n3,4\n"
    assert os.listdir(gz_landing) == ["doc.csv"]


class _DropsMidCopy(io.BytesIO):
    """A result stream whose connection drops after the first chunk."""

    def read(self, n=-1):
        if self.tell():
            raise ConnectionResetError("dropped mid-copy")
        return super().read(4)


class _DroppingQueue(LocalCdsQueue):
    def open(self, task_id):
        return _DropsMidCopy(b"partial-payload")


def _assert_scans_empty(spark, landing_dir) -> None:
    assert [f for f in os.listdir(landing_dir) if not f.startswith(".")] == []
    assert spark.read.text(str(landing_dir)).count() == 0


def test_failed_landing_leaves_no_visible_file(spark, store, tmp_path):
    """A landing that fails mid-copy — a corrupt .gz, or a CDS result
    stream that drops — leaves nothing a directory scan would read as
    data: no file under a visible name, zero rows from the landing dir."""
    # the CRC check fails at end of stream, after rows were already copied
    body = bytearray(gzip.compress(b"a,b\n" + b"1,2\n" * 100_000))
    body[-8] ^= 0xFF
    bad = os.path.join(store.base_dir, "data.example.com", "files", "doc.csv.gz")
    with open(bad, "wb") as f:
        f.write(body)
    landing = tmp_path / "landing"
    with pytest.raises(gzip.BadGzipFile):
        land_files(store, ["http://data.example.com/files/doc.csv.gz"], str(landing))
    _assert_scans_empty(spark, landing)

    origin = tmp_path / "cds_origin" / "cams"
    origin.mkdir(parents=True)
    (origin / "2026-03-01.bin").write_bytes(b"partial-payload")
    client = CdsClient(_DroppingQueue(str(tmp_path / "cds_origin")))
    with pytest.raises(ConnectionResetError):
        client.retrieve("cams", {"date": "2026-03-01"}, str(landing / "cams_2026-03-01.bin"))
    _assert_scans_empty(spark, landing)


def test_concurrent_land_files_both_complete(store, tmp_path):
    """Two workers land the same URL into one dir at the same time:
    each copies into its own temp file, so both return a complete file."""
    barrier = threading.Barrier(2)

    class _Racing(LocalHttpStore):
        def open(self, url):
            barrier.wait(timeout=30)  # both past the exists-check, then copy
            return super().open(url)

    racing = _Racing(store.base_dir)
    landing = str(tmp_path / "landing")
    url = "http://data.example.com/files/plain.bin"
    with ThreadPoolExecutor(2) as pool:
        results = list(pool.map(lambda _: land_files(racing, [url], landing), range(2)))
    dest = os.path.join(landing, "plain.bin")
    assert results == [[dest], [dest]]
    assert open(dest, "rb").read() == BODY
    assert os.listdir(landing) == ["plain.bin"]


def test_land_files_idempotent(store, tmp_path):
    urls = [
        "http://data.example.com/files/doc.csv.gz",
        "http://data.example.com/files/plain.bin",
    ]
    landing = str(tmp_path / "landing")
    first = land_files(store, urls, landing)
    assert [os.path.basename(p) for p in first] == ["doc.csv", "plain.bin"]
    mtimes = [os.path.getmtime(p) for p in first]
    assert land_files(store, urls, landing) == first  # re-land skips downloads
    assert [os.path.getmtime(p) for p in first] == mtimes


def test_fetch_bytes_distributed(spark, store):
    urls = spark.createDataFrame(
        [
            ("http://data.example.com/files/plain.bin",),
            ("http://data.example.com/files/missing.bin",),
        ],
        "url string",
    )
    rows = {r["url"]: r for r in fetch_bytes(urls, store.base_dir).collect()}
    ok = rows["http://data.example.com/files/plain.bin"]
    assert ok["status"] == 200 and bytes(ok["content"]) == BODY
    miss = rows["http://data.example.com/files/missing.bin"]
    assert miss["status"] == 404 and miss["content"] is None


GRID_SCHEMA = (
    "namespace string, variable string, time timestamp, level double, "
    "y int, x int, value double, units string"
)


def _write_remote_grid(root, date_iso: str, rows: str) -> None:
    p = os.path.join(root, "forecast.example.com", "grids")
    os.makedirs(p, exist_ok=True)
    header = "namespace,variable,time,level,y,x,value,units\n"
    # Hadoop Path cannot scan filenames containing ":" - name remote files
    # by date only (the reference embeds colons in COG names; a landed-file
    # scan layer must strip them, so the connector test does).
    with gzip.open(os.path.join(p, f"grid_{date_iso[:10]}.csv.gz"), "wb") as f:
        f.write((header + rows).encode())


def test_download_decode_ingest_end_to_end(spark, tmp_path):
    """The reference pipeline's whole front half, locally: HEAD probe →
    streamed download → gunzip → scan → convert → partitioned publish →
    state commit → skip-on-rerun."""
    origin = str(tmp_path / "origin")
    # two published dates; the probe list also asks for an unpublished one
    _write_remote_grid(
        origin,
        "2024-01-01T00:00:00",
        "ecmwf_forecast,2t,2024-01-01T00:00:00,0,0,0,273.15,K\n"
        "ecmwf_forecast,2t,2024-01-01T00:00:00,0,0,1,283.15,K\n"
        "ecmwf_forecast,msl,2024-01-01T00:00:00,0,0,0,100000,Pa\n",
    )
    _write_remote_grid(
        origin,
        "2024-01-02T00:00:00",
        "ecmwf_forecast,2t,2024-01-02T00:00:00,0,0,0,293.15,K\n"
        "ecmwf_forecast,msl,2024-01-02T00:00:00,0,0,0,-9999,Pa\n",
    )
    store = LocalHttpStore(origin)
    dates = ["2024-01-01T00:00:00", "2024-01-02T00:00:00", "2024-01-03T00:00:00"]
    urls = [f"http://forecast.example.com/grids/grid_{d[:10]}.csv.gz" for d in dates]

    grid = run_download_batch(spark, store, urls, str(tmp_path / "landing"), GRID_SCHEMA)
    assert grid.count() == 5  # third URL 404s and is skipped by the probe

    catalog = spark.createDataFrame(
        [(d[:10], store.head(u) is not None) for d, u in zip(dates, urls)],
        "date string, available boolean",
    ).selectExpr("CAST(date AS timestamp) AS date", "available")
    spec = ECMWF_FORECAST
    state = StateStore(str(tmp_path / "state.json"))
    out_path = str(tmp_path / "published")

    res = run_forecast_batch(grid, catalog, spec, state, out_path)
    assert res["status"] == "ingested" and res["latest"].startswith("2024-01-02")

    published = spark.read.parquet(out_path)
    row = {
        (r["variable"], r["x"]): r["value"]
        for r in published.filter("time_key like '2024-01-02%'").collect()
    }
    assert row[("2t", 0)] == pytest.approx(20.0)  # K → °C
    assert row[("msl", 0)] is None  # −9999 sentinel → NULL through convert

    # idempotent tick: same latest ⇒ skipped, no new writes
    res2 = run_forecast_batch(grid, catalog, spec, state, out_path)
    assert res2["status"] == "skipped"

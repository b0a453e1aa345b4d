"""UrllibHttpStore against a LIVE localhost origin — real TCP sockets,
real HTTP (VERDICT r10 "What's missing" #4). A threaded stdlib server
with Range support plays origin; the store must show contract parity
with LocalHttpStore: HEAD probe (404 → None), GET (404 →
FileNotFoundError), ranged GET, streamed atomic landing through the SAME
`land`, gunzip-on-land through the SAME `land_files`, and the
distributed fetch_bytes mapInPandas fan-out with executor-side clients."""

from __future__ import annotations

import gzip
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from data_ingestion_auto_spark.sources.http_connector import (
    UrllibHttpStore,
    fetch_bytes,
    land,
    land_files,
)

_PAYLOAD = bytes(range(256)) * 8  # 2048 bytes, position-identifiable
_CSV = b"doc_id,n\n1,10\n2,20\n3,30\n"


class _Origin(BaseHTTPRequestHandler):
    """Minimal origin with HEAD + single-range GET (SimpleHTTPRequestHandler
    lacks Range, which the S3 byte-index path needs)."""

    FILES = {
        "/data/blob.bin": _PAYLOAD,
        "/data/table.csv.gz": gzip.compress(_CSV),
    }

    def _body(self):
        return self.FILES.get(self.path)

    def do_HEAD(self):
        body = self._body()
        if body is None:
            self.send_error(404)
            return
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()

    def do_GET(self):
        body = self._body()
        if body is None:
            self.send_error(404)
            return
        rng = self.headers.get("Range")
        status = 200
        if rng and rng.startswith("bytes="):
            lo, _, hi = rng[len("bytes=") :].partition("-")
            start = int(lo)
            end = int(hi) if hi else len(body) - 1
            body = body[start : end + 1]
            status = 206
        self.send_response(status)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # keep pytest output clean
        pass


@pytest.fixture(scope="module")
def origin_url():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Origin)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()


def test_head_probe_and_404(origin_url):
    store = UrllibHttpStore()
    assert store.head(f"{origin_url}/data/blob.bin") == len(_PAYLOAD)
    assert store.head(f"{origin_url}/data/nope.bin") is None  # walk-back skip


def test_get_full_ranged_and_404(origin_url):
    store = UrllibHttpStore()
    assert store.get(f"{origin_url}/data/blob.bin") == _PAYLOAD
    # S3 byte-range semantics identical to LocalHttpStore.get
    assert store.get(f"{origin_url}/data/blob.bin", start=10, length=5) == _PAYLOAD[10:15]
    assert store.get(f"{origin_url}/data/blob.bin", start=2000) == _PAYLOAD[2000:]
    with pytest.raises(FileNotFoundError):
        store.get(f"{origin_url}/data/nope.bin")


def test_streamed_download_is_atomic_and_exact(origin_url, tmp_path):
    store = UrllibHttpStore()
    out = str(tmp_path / "landed" / "blob.bin")
    got = land(store.open(f"{origin_url}/data/blob.bin"), out)
    assert got == out
    assert open(out, "rb").read() == _PAYLOAD
    assert os.listdir(tmp_path / "landed") == ["blob.bin"]  # exactly the landed file
    with pytest.raises(FileNotFoundError):
        store.open(f"{origin_url}/data/nope.bin")


def test_land_files_gunzip_and_idempotence(origin_url, tmp_path):
    """The SAME land_files used with LocalHttpStore works over real
    sockets: .gz decompressed on land, re-land skips (P11 file gate)."""
    landing = str(tmp_path / "landing")
    urls = [f"{origin_url}/data/table.csv.gz"]
    paths = land_files(UrllibHttpStore(), urls, landing)
    assert paths == [os.path.join(landing, "table.csv")]
    assert open(paths[0], "rb").read() == _CSV
    m0 = os.path.getmtime(paths[0])
    assert land_files(UrllibHttpStore(), urls, landing) == paths
    assert os.path.getmtime(paths[0]) == m0  # untouched on re-land


def test_distributed_fetch_bytes_over_real_sockets(spark, origin_url):
    """fetch_bytes with store_factory=UrllibHttpStore: every executor
    worker opens its own client and pulls over TCP; 404 rows surface as
    status 404, not task failures."""
    urls = spark.createDataFrame(
        [
            (f"{origin_url}/data/blob.bin",),
            (f"{origin_url}/data/table.csv.gz",),
            (f"{origin_url}/data/missing.bin",),
        ],
        "url string",
    ).repartition(3)
    rows = {r.url: r for r in fetch_bytes(urls, "", store_factory=UrllibHttpStore).collect()}
    blob = rows[f"{origin_url}/data/blob.bin"]
    assert blob.status == 200 and bytes(blob.content) == _PAYLOAD
    gzrow = rows[f"{origin_url}/data/table.csv.gz"]
    assert gzrow.status == 200 and gzip.decompress(bytes(gzrow.content)) == _CSV
    miss = rows[f"{origin_url}/data/missing.bin"]
    assert miss.status == 404 and miss.content is None

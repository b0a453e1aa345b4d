"""Local-filesystem simulation of the reference's HTTP ingest boundary
(SURVEY S1 streaming download, S4 availability probe, S8 gzip decompress,
S3 byte-range reads).

The reference's front door is `requests.get(stream=True)` chunk-copied to a
file (reference ingest/utils.py:121-136) with gzip decompression at the
landing step (reference ingest/chirps_rainfall/__init__.py:332-340) and a
walk-back HEAD probe for availability (reference
ingest/ecmwf_opendata/client.py:25-57). The sandbox has no network, so the
"origin server" here is a local directory tree keyed by URL host+path —
every connector semantic (status probe, ranged GET, streamed copy,
gunzip-on-land, idempotent re-download) is real; only the socket is
simulated. `UrllibHttpStore` below is the REAL-socket twin (stdlib
urllib, same interface) — tested against a live localhost origin — so
pointing the connector at a real URL is a constructor swap, and nothing
in the data plane moves. A store only opens streams (`open`); `land` is
the one copy from a stream to a published file, shared by both stores
and by the CDS connector (sources/cds_connector.py).

Scale note: catalogs (file listings) are small and probed driver-side,
exactly like the reference's scheduler. The *payload* fan-out is the
distributed path: `fetch_bytes` downloads N urls inside `mapInPandas`, so
1000 executors pull 1000 files concurrently and the bytes are born
partitioned — the driver never holds file contents. Scan-time gzip needs no
code at all: Spark's text/CSV/JSON readers decompress `.gz` natively (the
codec is inferred from the extension), so landed `.csv.gz` files are
directly queryable without an explicit decompress pass.
"""

from __future__ import annotations

import gzip
import os
import shutil
import uuid
from collections.abc import Iterable, Iterator
from typing import TYPE_CHECKING, BinaryIO
from urllib.parse import urlparse

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


class LocalHttpStore:
    """A URL-addressed byte store over a local directory tree.

    ``http://host/a/b.gz`` maps to ``{base_dir}/host/a/b.gz``. GET on a
    missing path raises ``FileNotFoundError`` — the moral equivalent of
    ``raise_for_status()`` on a 404 (reference ingest/utils.py:123-124).
    """

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def path_for(self, url: str) -> str:
        u = urlparse(url)
        return os.path.join(self.base_dir, u.netloc, u.path.lstrip("/"))

    def head(self, url: str) -> int | None:
        """Availability probe (S4): content length, or None for a 404."""
        p = self.path_for(url)
        return os.path.getsize(p) if os.path.isfile(p) else None

    def get(self, url: str, start: int | None = None, length: int | None = None) -> bytes:
        """GET, optionally ranged (S3: the reference reads GRIB message
        byte ranges out of .index files rather than whole files)."""
        with self.open(url) as f:
            if start:
                f.seek(start)
            return f.read(length) if length is not None else f.read()

    def open(self, url: str) -> BinaryIO:
        """Streamed GET (S1): the payload as a readable stream; `land`
        copies it to disk."""
        return open(self.path_for(url), "rb")


class UrllibHttpStore:
    """The REAL-network twin of `LocalHttpStore` — same three-method
    interface (head / get / open) over actual sockets via stdlib
    ``urllib`` (no third-party client), so every consumer in this module
    (`land_files`, `fetch_bytes`) accepts either store unchanged. It
    ships tested against a live localhost origin
    (tests/test_http_real_network.py: genuine TCP, HEAD probes, ranged
    GETs, streamed landings).

    Contract parity with LocalHttpStore: a 404 surfaces as
    ``FileNotFoundError`` (the connector's walk-back probe and
    fetch_bytes' status mapping rely on it); other HTTP errors
    propagate — a 500 is a failure, not an unavailability."""

    def __init__(self, timeout: float = 30.0):
        self.timeout = timeout

    def _urlopen(self, req):
        """Every request goes through here: the one 404 →
        ``FileNotFoundError`` mapping."""
        import urllib.error
        import urllib.request

        try:
            return urllib.request.urlopen(req, timeout=self.timeout)
        except urllib.error.HTTPError as e:
            if e.code == 404:
                raise FileNotFoundError(req.full_url) from e
            raise

    def head(self, url: str) -> int | None:
        """S4 availability probe: HEAD request; content length, or None
        for a 404 (reference ecmwf client walk-back, client.py:25-57)."""
        import urllib.request

        try:
            with self._urlopen(urllib.request.Request(url, method="HEAD")) as resp:
                n = resp.headers.get("Content-Length")
                return int(n) if n is not None else 0
        except FileNotFoundError:
            return None

    def get(self, url: str, start: int | None = None, length: int | None = None) -> bytes:
        """GET, optionally ranged via the Range header (S3: GRIB message
        byte ranges; the reference requests `bytes=start-end`)."""
        import urllib.request

        req = urllib.request.Request(url)
        if start or length is not None:
            s = start or 0
            end = "" if length is None else str(s + length - 1)
            req.add_header("Range", f"bytes={s}-{end}")
        with self._urlopen(req) as resp:
            return resp.read()

    def open(self, url: str) -> BinaryIO:
        """Streamed GET (reference ingest/utils.py:129 ``stream=True``):
        the open response; `land` copies it to disk."""
        import urllib.request

        return self._urlopen(urllib.request.Request(url))


def land(stream: BinaryIO, out_file: str) -> str:
    """The one landing copy (S1, reference ingest/utils.py:129-136):
    stream ``stream`` into a private hidden temp file beside
    ``out_file``, then publish it with ``os.replace``. Memory stays
    constant whatever the payload size; a failed copy removes its temp
    file, so the landing dir never holds a torn or partial file under a
    visible name (Spark's file scans skip ``.``-prefixed names), and
    concurrent landings of one name each publish a complete file.
    Closes ``stream``."""
    d, name = os.path.split(out_file)
    os.makedirs(d or ".", exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.part")
    try:
        with stream as src, open(tmp, "wb") as out:
            shutil.copyfileobj(src, out)
        os.replace(tmp, out_file)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return out_file


def land_files(
    store: LocalHttpStore,
    urls: Iterable[str],
    landing_dir: str,
) -> list[str]:
    """Idempotently land a small catalog of URLs (skip files already
    present — the reference's skip-when-downloaded state gate, P11, at the
    file granularity). A ``.gz`` URL is gunzipped as it lands (S8,
    reference ingest/chirps_rainfall/__init__.py:332-340) and published
    without the suffix: one write, no compressed intermediate. Returns
    landed paths in url order."""
    os.makedirs(landing_dir, exist_ok=True)
    out: list[str] = []
    for url in urls:
        name = os.path.basename(urlparse(url).path)
        gz = name.endswith(".gz")
        dest = os.path.join(landing_dir, name[: -len(".gz")] if gz else name)
        if not os.path.exists(dest):
            with store.open(url) as raw:
                land(gzip.GzipFile(fileobj=raw) if gz else raw, dest)
        out.append(dest)
    return out


def fetch_bytes(urls_df: DataFrame, base_dir: str, store_factory=None) -> DataFrame:
    """Distributed download (the 100 TB path): each partition of URLs is
    fetched by its own executor via Arrow-batched ``mapInPandas``; contents
    are born distributed as a binary column and the driver never sees
    payload bytes. Input: a DataFrame with a `url` string column.
    Output: (url, status, content_length, content binary).

    ``store_factory`` (a picklable zero-arg callable returning a store)
    swaps the byte source: default LocalHttpStore(base_dir); pass
    ``UrllibHttpStore`` for real-network fetches — each executor worker
    constructs its own client, so no connection object crosses the
    serialization boundary.
    """
    import pandas as pd

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        store = store_factory() if store_factory is not None else LocalHttpStore(base_dir)
        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                try:
                    body = store.get(url)
                    rows.append((url, 200, len(body), body))
                except FileNotFoundError:
                    rows.append((url, 404, 0, None))
            yield pd.DataFrame(rows, columns=["url", "status", "content_length", "content"])

    return urls_df.select("url").mapInPandas(
        fetch, "url string, status int, content_length bigint, content binary"
    )

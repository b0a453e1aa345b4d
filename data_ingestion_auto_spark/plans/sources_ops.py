"""Source-side operators as relational queries (SURVEY §2.1):
S2 URL generation (cartesian product of request dims → deduped URL set),
S3/J5 index-based byte-range matching (semi-join pushdown), P6/P7 listing
filters (date-dir regex, tile/product filename predicates).

The reference does all of this driver-side in Python loops
(ecmwf_opendata/client.py:59-160, modis/pymodis.py:43-102); at 100 TB the
request space and file listings are themselves tables, and these become
distributed plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..scratch import artifact_root
from .helpers import T
from .registry import query


@query(
    "ecmwf_url_generation",
    oracle="""
WITH streams AS (SELECT unnest(['oper', 'enfo']) AS stream),
     types AS (SELECT unnest(['fc']) AS type),
     steps AS (SELECT unnest(generate_series(0, 144, 24)) AS step),
     dates AS (SELECT DISTINCT strftime(o_orderdate, '%Y%m%d') AS date8
               FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01 00:00:00'),
     urls AS (
       SELECT DISTINCT
         printf('https://data.ecmwf.int/forecasts/%s/00z/%s/%s/h%03d.grib2',
                date8, stream, type, CAST(step AS INTEGER)) AS url
       FROM streams, types, steps, dates
     )
SELECT url FROM urls ORDER BY url
""",
    tags=("source", "S2", "O4"),
)
def ecmwf_url_generation(spark, sf_dir):
    """S2: the request-dict cartesian product (stream × type × step × date
    → URL) with dedup — the reference's itertools.product + seen-set
    (client.py:59-109) as a cross join + dropDuplicates. The dims are tiny
    literal tables; the date dim comes from data. Cross joins of broadcast
    literals are safe at any scale — the output is the work list itself.
    """
    od = T(spark, sf_dir, "orders")
    # VALUES literals, not local-list createDataFrame: the latter is
    # Python-RDD-backed and forks Python workers on first use (the
    # operators/ivf.py::cent_df lesson, optimization r13)
    streams = spark.sql("SELECT stream FROM (VALUES ('oper'), ('enfo')) AS t(stream)")
    types = spark.sql("SELECT type FROM (VALUES ('fc')) AS t(type)")
    steps = spark.range(0, 145, 24).select(F.col("id").cast("int").alias("step"))
    dates = (
        od.filter(F.col("o_orderdate") >= F.lit("1998-07-01").cast("timestamp"))
        .select(F.date_format("o_orderdate", "yyyyMMdd").alias("date8"))
        .distinct()
    )
    return (
        dates.crossJoin(F.broadcast(streams))
        .crossJoin(F.broadcast(types))
        .crossJoin(F.broadcast(steps))
        .select(
            F.format_string(
                "https://data.ecmwf.int/forecasts/%s/00z/%s/%s/h%03d.grib2",
                "date8",
                "stream",
                "type",
                "step",
            ).alias("url")
        )
        .distinct()
        .orderBy("url")
    )


@query(
    "byte_range_index_match",
    oracle="""
WITH index_lines AS (
  SELECT l_orderkey AS line_no,
         CASE CAST(l_partkey % 4 AS INTEGER) WHEN 0 THEN '2t' WHEN 1 THEN 'tp' WHEN 2 THEN 'u' ELSE 'v' END AS param,
         CAST(l_suppkey % 3 AS INTEGER) * 250 + 250 AS level,
         CAST(l_linenumber % 5 AS INTEGER) * 24 AS step,
         l_orderkey * 512 AS offset,
         CAST(l_quantity * 100 AS BIGINT) AS length
  FROM lineitem
),
requested AS (
  SELECT '2t' AS param, 500 AS level, 0 AS step UNION ALL
  SELECT 'u', 250, 24 UNION ALL
  SELECT 'v', 750, 48
)
SELECT i.param, i.level, i.step, i.offset, i.length
FROM index_lines i
WHERE EXISTS (SELECT 1 FROM requested r
              WHERE r.param = i.param AND r.level = i.level AND r.step = i.step)
ORDER BY i.offset
""",
    tags=("source", "S3", "J5", "semi"),
)
def byte_range_index_match(spark, sf_dir):
    """S3/J5: predicate pushdown to the source — match requested
    (param, level, step) tuples against the .index sidecar and keep only
    those byte ranges (client.py:111-160). A left-semi join against the
    broadcast request spec: the index scans once, only matching ranges
    survive, sorted by offset for coalesced range reads (O2).
    """
    li = T(spark, sf_dir, "lineitem")
    index_lines = li.select(
        F.col("l_orderkey").alias("line_no"),
        F.element_at(
            F.array(F.lit("2t"), F.lit("tp"), F.lit("u"), F.lit("v")),
            (F.col("l_partkey") % 4 + 1).cast("int"),
        ).alias("param"),
        ((F.col("l_suppkey") % 3).cast("int") * 250 + 250).alias("level"),
        ((F.col("l_linenumber") % 5).cast("int") * 24).alias("step"),
        (F.col("l_orderkey") * 512).alias("offset"),
        (F.col("l_quantity") * 100).cast("bigint").alias("length"),
    )
    requested = spark.sql(
        "SELECT param, CAST(level AS INT) AS level, CAST(step AS INT) AS step "
        "FROM (VALUES ('2t', 500, 0), ('u', 250, 24), ('v', 750, 48)) "
        "AS t(param, level, step)"
    )
    return (
        index_lines.join(F.broadcast(requested), ["param", "level", "step"], "left_semi")
        .select("param", "level", "step", "offset", "length")
        .orderBy("offset")
    )


@query(
    "tile_listing_filter",
    oracle="""
WITH listing AS (
  SELECT printf('MOD13Q1.A%04d%03d.h%02dv%02d.061.%s',
                CAST(year(o_orderdate) AS INTEGER),
                CAST(dayofyear(o_orderdate) AS INTEGER),
                CAST(o_orderkey % 6 AS INTEGER),
                CAST(o_custkey % 6 AS INTEGER),
                CASE CAST(o_orderkey % 4 AS INTEGER)
                  WHEN 0 THEN 'hdf' WHEN 1 THEN 'hdf.xml' WHEN 2 THEN 'jpg' ELSE 'hdf' END) AS fname
  FROM orders
)
SELECT DISTINCT fname FROM listing
WHERE len(string_split(fname, '.')) = 5
  AND string_split(fname, '.')[1] = 'MOD13Q1'
  AND string_split(fname, '.')[5] = 'hdf'
  AND string_split(fname, '.')[3] = 'h05v03'
ORDER BY fname
""",
    tags=("source", "P6", "P7", "filter"),
)
def tile_listing_filter(spark, sf_dir):
    """P7: MODIS tile-file filtering — split filename on '.', require the
    product code, the target tile id, and the data extension (excluding
    .xml/.jpg sidecars), dedup (pymodis.py:69-102). Listing synthesized
    deterministically from orders on both sides.
    """
    od = T(spark, sf_dir, "orders")
    # Optimization r13 (guide §2.3 — project/filter before the exchange):
    # the post-split predicates are pure functions of the key columns —
    # parts[3]='h05v03' <=> orderkey%6=5 AND custkey%6=3; parts[5]='hdf'
    # with size=5 <=> ext token index orderkey%4 IN (0,3) ('hdf.xml'
    # splits to 6 parts, 'jpg' fails the ext test); parts[1]='MOD13Q1'
    # always holds. Applying the implied key filter BEFORE format_string
    # means only the ~1/72 surviving rows pay the printf + split + the
    # original (kept, now-redundant) string filter and the distinct
    # shuffles ~2k rows instead of 150k. Result is identical: the
    # pre-filter is exactly the key image of the kept string predicate.
    od = od.filter(
        (F.col("o_orderkey") % 6 == 5)
        & (F.col("o_custkey") % 6 == 3)
        & ((F.col("o_orderkey") % 4).isin(0, 3))
    )
    listing = od.select(
        F.format_string(
            "MOD13Q1.A%04d%03d.h%02dv%02d.061.%s",
            F.year("o_orderdate"),
            F.dayofyear("o_orderdate"),
            (F.col("o_orderkey") % 6).cast("int"),
            (F.col("o_custkey") % 6).cast("int"),
            F.element_at(
                F.array(F.lit("hdf"), F.lit("hdf.xml"), F.lit("jpg"), F.lit("hdf")),
                (F.col("o_orderkey") % 4 + 1).cast("int"),
            ),
        ).alias("fname")
    )
    parts = F.split("fname", "\\.")
    return (
        listing.filter(
            (F.size(parts) == 5)
            & (F.element_at(parts, 1) == "MOD13Q1")
            & (F.element_at(parts, 5) == "hdf")
            & (F.element_at(parts, 3) == "h05v03")
        )
        .select("fname")
        .distinct()
        .orderBy("fname")
    )


# ---------------------------------------------------------------------------
# S1/S4/S8: the HTTP ingest front door, end-to-end at the query surface.


def _ensure_remote_corpus(spark, sf_dir: str) -> str:
    """Materialize a deterministic local "origin server" for the connector
    round-trip query: the documents table exported as 4 gzipped CSV shards
    under {base}/remote/data.example.com/corpus/. Built once per sf (atomic
    rename, _SUCCESS marker) so bench repeats don't re-export."""
    import gzip
    import os
    import shutil
    import tempfile

    base = os.path.join(
        artifact_root(),
        f"spark_graft_http_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    marker = os.path.join(base, "remote", "_SUCCESS")
    if not os.path.exists(marker):
        docs = (
            T(spark, sf_dir, "documents")
            .select("doc_id", F.length("text").alias("text_len"), F.md5("text").alias("digest"))
            .orderBy("doc_id")
            .toPandas()
        )
        tmp = base + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        corpus = os.path.join(tmp, "remote", "data.example.com", "corpus")
        os.makedirs(corpus)
        for shard in range(4):
            part = docs[docs.doc_id % 4 == shard]
            body = "doc_id,text_len,digest\n" + "".join(
                f"{r.doc_id},{r.text_len},{r.digest}\n" for r in part.itertuples()
            )
            with gzip.open(os.path.join(corpus, f"shard-{shard}.csv.gz"), "wb") as f:
                f.write(body.encode())
        open(os.path.join(tmp, "remote", "_SUCCESS"), "w").close()
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rename(tmp, base)
        except OSError:  # lost a concurrent-build race; the winner's copy is identical
            shutil.rmtree(tmp, ignore_errors=True)
    return base


@query(
    "http_landing_roundtrip",
    oracle="""
SELECT CAST(doc_id % 4 AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_digests,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
ORDER BY 1
""",
    tags=("S1", "S4", "S8", "connector"),
)
def http_landing_roundtrip(spark, sf_dir):
    """S1/S4/S8 end-to-end: a deterministic export of the documents table
    is served from a local origin as gzipped CSV shards
    (reference download path: ingest/utils.py:121-136 + gunzip
    chirps_rainfall/__init__.py:332-340). The connector HEAD-probes five
    candidate URLs (one 404s and is skipped — the walk-back probe,
    client.py:25-57), stream-downloads + gunzips the four real shards into
    the landing dir, scans them back, and re-aggregates. The oracle computes
    the same statistics straight from the source table, so the hash match
    proves download -> decompress -> scan is lossless."""
    import os

    from ..pipelines import run_download_batch
    from ..sources.http_connector import LocalHttpStore

    base = _ensure_remote_corpus(spark, sf_dir)
    store = LocalHttpStore(os.path.join(base, "remote"))
    urls = [f"http://data.example.com/corpus/shard-{i}.csv.gz" for i in range(5)]
    landed = run_download_batch(
        spark,
        store,
        urls,
        os.path.join(base, "landing"),
        "doc_id BIGINT, text_len BIGINT, digest STRING",
    )
    return (
        landed.groupBy((F.col("doc_id") % 4).cast("bigint").alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("text_len").cast("bigint").alias("total_chars"),
            F.countDistinct("digest").alias("n_distinct_digests"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


def _ensure_remote_messages(spark, sf_dir: str) -> str:
    """Materialize a message blob + byte-range index for the ranged-fetch
    query: the nation table serialized as variable-length messages in one
    binary file, with a CSV index of (key, offset, length) beside it —
    the ECMWF .index layout (reference ecmwf_opendata/client.py byte-range
    reads)."""
    import os
    import shutil
    import tempfile

    base = os.path.join(
        artifact_root(),
        f"spark_graft_msgs_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    marker = os.path.join(base, "remote", "_SUCCESS")
    if not os.path.exists(marker):
        rows = (
            T(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        tmp = base + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        d = os.path.join(tmp, "remote", "grib.example.com", "data")
        os.makedirs(d)
        blob = bytearray()
        index_lines = ["key,offset,length"]
        for r in rows:
            msg = f"MSG|{r['n_nationkey']}|{r['n_name']}|{r['n_regionkey']}\n".encode()
            index_lines.append(f"{r['n_nationkey']},{len(blob)},{len(msg)}")
            blob.extend(msg)
        with open(os.path.join(d, "messages.bin"), "wb") as f:
            f.write(bytes(blob))
        with open(os.path.join(d, "messages.index"), "w") as f:
            f.write("\n".join(index_lines) + "\n")
        open(os.path.join(tmp, "remote", "_SUCCESS"), "w").close()
        shutil.rmtree(base, ignore_errors=True)
        try:
            import os as _os

            _os.rename(tmp, base)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return base


@query(
    "byte_range_message_fetch",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey
FROM nation
WHERE n_nationkey % 2 = 0
ORDER BY n_nationkey
""",
    tags=("S3", "S1", "connector", "byte-range"),
)
def byte_range_message_fetch(spark, sf_dir):
    """S3 byte-range pushdown made physical at the connector: the nation
    table lives in a remote message blob with a .index sidecar (the
    reference reads GRIB messages by byte range out of ECMWF .index files
    instead of downloading whole files). The index is scanned as a table,
    the key predicate prunes it to half the messages, and ONLY the
    surviving (offset, length) ranges are fetched — executor-side ranged
    GETs in mapInPandas, never the whole blob — then decoded and matched
    against the origin table by the oracle (lossless ranged round-trip)."""
    import os

    import pandas as pd

    from ..sources.http_connector import LocalHttpStore

    base = _ensure_remote_messages(spark, sf_dir)
    remote_root = os.path.join(base, "remote")
    idx_path = os.path.join(remote_root, "grib.example.com", "data", "messages.index")
    index = spark.read.csv(idx_path, header=True, schema="key bigint, offset bigint, length bigint")
    wanted = index.filter(F.col("key") % 2 == 0)

    url = "http://grib.example.com/data/messages.bin"

    def fetch(batches):
        store = LocalHttpStore(remote_root)
        for pdf in batches:
            out = []
            for off, ln in zip(pdf["offset"], pdf["length"]):
                body = store.get(url, start=int(off), length=int(ln)).decode()
                _tag, key, name, region = body.rstrip("\n").split("|")
                out.append((int(key), name, int(region)))
            yield pd.DataFrame(out, columns=["n_nationkey", "n_name", "n_regionkey"])

    return wanted.mapInPandas(
        fetch, "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).orderBy("n_nationkey")

"""In-place index rewrite (operators/layout.py::rewrite_index), for each
of the four stored indexes (band, CDC chunk, IVF, postings + ``_docs``),
as plain compaction and as retention:

- the content is unchanged, or unchanged minus the retired rows;
- probe / search results equal those of a flat control copy holding
  exactly the surviving rows;
- after one base write and three appends, the rewrite lands one file
  per bucket, and the table still scans bucketed with no Exchange;
- the table's location, read as plain parquet, holds no retired id and
  no row the table does not — nothing stranded on disk.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_auto_spark.operators import cdc_index as C
from data_ingestion_auto_spark.operators import dedup as D
from data_ingestion_auto_spark.operators import ivf as V
from data_ingestion_auto_spark.operators import postings as P
from data_ingestion_auto_spark.operators.layout import rewrite_index
from data_ingestion_auto_spark.plans.retrieval import _BM25_TERMS


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _banded(df):
    return D.band_signature(D.minhash_signature(D.shingles(df))).localCheckpoint()


def _build_band(spark, parts, t, path):
    D.write_band_index(_banded(parts[0]), t, buckets=8, path=path)
    for b in parts[1:]:
        D.write_band_index(_banded(b), t, buckets=8, mode="append")
    probe_rows = _banded(parts[-1])
    return lambda idx: D.probe_band_index(spark, probe_rows, idx)


def _build_cdc(spark, parts, t, path):
    C.write_chunk_index(parts[0], t, buckets=4, path=path)
    for b in parts[1:]:
        C.write_chunk_index(b, t, buckets=4, mode="append")
    return lambda idx: C.probe_chunk_index(spark, parts[-1], idx)


def _build_ivf(spark, parts, t, path):
    V.write_ivf_index(parts[0], t, k=16, buckets=4, path=path)
    for b in parts[1:]:
        V.append_to_ivf_index(spark, b, t)
    return lambda idx: V.probe_ivf_index(spark, parts[-1], idx)


def _build_postings(spark, parts, t, path):
    P.write_postings_index(parts[0], t, buckets=4, path=path)
    for b in parts[1:]:
        P.append_to_postings_index(spark, b, t)
    return lambda idx: P.bm25_search(spark, _BM25_TERMS, idx, k=10)


# kind -> (build function, input, id key, bucket count, companion suffixes
# rewritten with the index, companion suffixes only copied, probe id col)
KINDS = {
    "band": (_build_band, "documents", "doc_id", 8, [], [], "dup_of"),
    "cdc": (_build_cdc, "documents", "doc_id", 4, [], [], "dup_of"),
    "ivf": (_build_ivf, "embeddings", "vec_id", 4, [], ["_centroids"], "cand_id"),
    "postings": (_build_postings, "documents", "doc_id", 4, ["_docs"], [], "doc_id"),
}


def _split(spark, sf_dir, source):
    cols = ("doc_id", "text") if source == "documents" else ("vec_id", "embedding")
    df = spark.read.parquet(f"{sf_dir}/{source}.parquet").select(*cols)
    ids = sorted(r[0] for r in df.select(cols[0]).collect())
    cuts = [0, 300, 360, 420, len(ids)] if source == "documents" else [
        0, len(ids) // 2, 5 * len(ids) // 8, 3 * len(ids) // 4, len(ids)
    ]
    return [
        df.filter(F.col(cols[0]).isin(ids[a:b])).localCheckpoint()
        for a, b in zip(cuts, cuts[1:])
    ]


def _content(spark, t):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in spark.table(t).collect()
    )


def _probe_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _hits(df, col):
    """Ids the probe reports as stored partners (band/CDC rows without
    ``is_dup`` point at the probing document itself)."""
    return {r[col] for r in df.collect() if r.asDict().get("is_dup", True)}


def _location(spark, t) -> str:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
    return next(r.data_type for r in rows if r.col_name == "Location")


@pytest.mark.parametrize("retire", ["none", "retired"])
@pytest.mark.parametrize("kind", list(KINDS))
def test_compaction_shrinks_files_preserves_probe(
    spark, sf_dir, tmp_path, kind, retire
):
    build, source, key, buckets, rewritten, copied, hit_col = KINDS[kind]
    t, ctl = f"t_rw_{kind}", f"t_rw_{kind}_ctl"
    tables = [t + s for s in ["", *rewritten]]
    for name in (t, ctl):
        for s in ["", *rewritten, *copied]:
            spark.sql(f"DROP TABLE IF EXISTS {name}{s}")
    path = str(tmp_path / "idx")
    probe = build(spark, _split(spark, sf_dir, source), t, path)

    before = _probe_rows(probe(t))
    retired_ids = []
    if retire == "retired":
        # the ids the probe surfaces (a ghost would show there first)
        # plus a slice of the base write
        hits = _hits(probe(t), hit_col)
        base = sorted(r[0] for r in spark.table(t).select(key).distinct().collect())
        retired_ids = sorted(hits | set(base[:20]))
    retired = spark.createDataFrame([(i,) for i in retired_ids], f"{key} long")
    contents = {x: _content(spark, x) for x in tables}

    # control: flat copies holding exactly the rows that must survive
    for s in ["", *rewritten, *copied]:
        df = spark.table(t + s)
        if key in df.columns:
            df = df.join(retired, [key], "left_anti")
        df.write.format("parquet").option("path", str(tmp_path / f"ctl{s}")).saveAsTable(
            ctl + s
        )
    want = _probe_rows(probe(ctl))

    # at scale the survivors span many partitions, each holding rows of
    # every bucket; on this fixture AQE would coalesce them into one and
    # hide a rewrite that does not regroup rows by bucket
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        stats = rewrite_index(spark, t, retired, key=key)
        for s in rewritten:
            rewrite_index(spark, t + s, retired, key=key)
    finally:
        spark.conf.set(coalesce, old)

    # one base write + three appends left more files than buckets; the
    # rewrite lands one file per bucket
    assert stats["files_before"] > buckets
    assert stats["files_after"] == buckets

    gone = set(retired_ids)
    for x in tables:
        k = spark.table(x).columns.index(key)
        assert _content(spark, x) == [r for r in contents[x] if r[k] not in gone]
        if gone:
            assert any(r[k] in gone for r in contents[x])
    got = _probe_rows(probe(t))
    assert got == want
    # retiring the probe's own partners must show in its answer
    assert (got == before) == (retire == "none")

    # the bucketed layout survives: an aggregate on the bucket key reads
    # the bucketed scan with no Exchange, and so does the probe (the
    # search materializes its scan, so it has no plan to inspect)
    bcol = {"band": ["band", "band_hash"], "cdc": ["chash"],
            "ivf": ["cluster_id"], "postings": ["term"]}[kind]
    p = _plan(spark.table(t).groupBy(*bcol).count())
    assert "Bucketed: true" in p
    assert "Exchange" not in p
    if kind != "postings":
        assert "Bucketed: true" in _plan(probe(t))

    # on-disk retention: each table is still at the path it was written
    # to, and that directory read as plain parquet holds exactly the
    # table's rows — no retired id, nothing stranded
    for s in ["", *rewritten]:
        assert _location(spark, t + s).rstrip("/").endswith(path + s)
        on_disk = spark.read.parquet(path + s)
        assert on_disk.count() == spark.table(t + s).count()
        assert on_disk.filter(F.col(key).isin(retired_ids or [-1])).count() == 0

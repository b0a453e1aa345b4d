"""The stored-band-index ingest path (operators/dedup.py::
write_band_index / probe_band_index) — VERDICT r6 "What's missing" #5.

`incremental_lsh_dedup_assign` (plans/incremental_dedup.py) is the
oracled query twin; it simulates the stored index with localCheckpoint
because the fixture ships no index table. These tests materialize the
REAL thing — a parquet table bucketed on (band, band_hash) — and
machine-check the two claims the docstrings make:

1. correctness: probing the stored index assigns every batch document
   the same canonical partner as an independent per-doc Python
   reference computed from the collected banded rows;
2. physics: the probe join reads the index side with ZERO Exchange —
   demonstrated self-calibratingly by planning the identical join
   against a NON-bucketed copy of the same table and asserting it needs
   exactly one more band-keyed Exchange.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from data_ingestion_auto_spark.operators import cdc_index as C
from data_ingestion_auto_spark.operators import dedup as D
from data_ingestion_auto_spark.operators.layout import rewrite_index


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def banded_split(spark, sf_dir):
    """(corpus_banded, batch_banded) using the same md5 first-nibble
    batch rule as the oracled query."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    banded = D.band_signature(D.minhash_signature(D.shingles(docs)))
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2", "3"
    )
    corpus = banded.filter(~is_new).localCheckpoint()
    batch = banded.filter(is_new).localCheckpoint()
    return corpus, batch


def test_probe_against_stored_index_matches_reference(
    spark, banded_split, tmp_path
):
    corpus, batch = banded_split
    spark.sql("DROP TABLE IF EXISTS t_band_idx")
    D.write_band_index(
        corpus, "t_band_idx", buckets=8, path=str(tmp_path / "idx")
    )
    got = {
        r.doc_id: (r.dup_of, r.is_dup)
        for r in D.probe_band_index(spark, batch, "t_band_idx").collect()
    }

    # independent per-doc reference from the collected banded rows
    corpus_rows = corpus.collect()
    batch_rows = batch.collect()
    bucket_to_old: dict[tuple, list[int]] = {}
    for r in corpus_rows:
        bucket_to_old.setdefault((r.band, r.band_hash), []).append(r.doc_id)
    bucket_to_new: dict[tuple, list[int]] = {}
    batch_ids = set()
    for r in batch_rows:
        bucket_to_new.setdefault((r.band, r.band_hash), []).append(r.doc_id)
        batch_ids.add(r.doc_id)
    want = {}
    by_doc: dict[int, set[tuple]] = {}
    for r in batch_rows:
        by_doc.setdefault(r.doc_id, set()).add((r.band, r.band_hash))
    for doc_id, bks in by_doc.items():
        partners = []
        for bk in bks:
            partners += bucket_to_old.get(bk, [])
            partners += [i for i in bucket_to_new.get(bk, []) if i < doc_id]
        want[doc_id] = (min(partners), True) if partners else (doc_id, False)

    assert got == want
    assert len(got) == len(batch_ids)
    # the fixture's engineered near-dups must make this non-trivial
    assert any(v[1] for v in got.values())


def test_probe_index_side_is_exchange_free(spark, banded_split, tmp_path):
    """Plan the SAME probe against (a) the bucketed index and (b) a
    non-bucketed copy of identical rows: (b) must carry exactly one more
    band-keyed Exchange — the one the bucketed layout eliminates on the
    index side. Also pin that (a) actually reads bucketed."""
    corpus, batch = banded_split
    spark.sql("DROP TABLE IF EXISTS t_band_idx_b")
    spark.sql("DROP TABLE IF EXISTS t_band_idx_flat")
    D.write_band_index(
        corpus, "t_band_idx_b", buckets=8, path=str(tmp_path / "idx_b")
    )
    # identical rows, no bucketing spec
    spark.table("t_band_idx_b").write.format("parquet").option(
        "path", str(tmp_path / "idx_flat")
    ).saveAsTable("t_band_idx_flat")

    def n_band_exchanges(table):
        p = _plan(D.probe_band_index(spark, batch, table))
        return sum(
            1 for line in p.splitlines() if "Exchange hashpartitioning(band" in line
        )

    # At sf0.001 every side fits the broadcast threshold and the planner
    # broadcasts everything (0 exchanges both ways — vacuous). Turn auto
    # broadcast off so the plan shows the SHUFFLE shape this layout is
    # about: at 100 TB neither the corpus index nor a real batch is
    # broadcastable.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_bucketed = _plan(D.probe_band_index(spark, batch, "t_band_idx_b"))
        assert "Bucketed: true" in p_bucketed
        n_b = n_band_exchanges("t_band_idx_b")
        n_flat = n_band_exchanges("t_band_idx_flat")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert n_flat == n_b + 1, (n_b, n_flat)


def test_append_mode_grows_index_and_keeps_bucketing(
    spark, banded_split, tmp_path
):
    """The daily-ingest call: append the accepted batch's banded rows.
    The table stays bucketed (next probe still exchange-free on the
    index side) and the appended rows are visible to the next probe."""
    corpus, batch = banded_split
    spark.sql("DROP TABLE IF EXISTS t_band_idx_a")
    D.write_band_index(
        corpus, "t_band_idx_a", buckets=8, path=str(tmp_path / "idx_a")
    )
    n0 = spark.table("t_band_idx_a").count()
    D.write_band_index(
        batch, "t_band_idx_a", buckets=8, mode="append", path=str(tmp_path / "idx_a")
    )
    assert spark.table("t_band_idx_a").count() > n0
    p = _plan(D.probe_band_index(spark, batch, "t_band_idx_a"))
    assert "Bucketed: true" in p
    # appended rows are visible: batch docs now find batch partners via
    # the index regardless of id order (self excluded — o_id != n_id),
    # so the dup count is >= the corpus-only probe's and nothing is its
    # own partner.
    spark.sql("DROP TABLE IF EXISTS t_band_idx_a0")
    D.write_band_index(
        corpus, "t_band_idx_a0", buckets=8, path=str(tmp_path / "idx_a0")
    )
    n_dup_corpus_only = (
        D.probe_band_index(spark, batch, "t_band_idx_a0")
        .filter(F.col("is_dup"))
        .count()
    )
    res = D.probe_band_index(spark, batch, "t_band_idx_a")
    assert res.filter(F.col("is_dup")).count() >= n_dup_corpus_only
    assert (
        res.filter((F.col("dup_of") == F.col("doc_id")) & F.col("is_dup")).count()
        == 0
    )


def test_append_mode_enforces_cap_against_stored_contents(spark, tmp_path):
    """ADVICE r8 #1 (medium): a hot (band, band_hash) bucket must stay
    <= max_bucket across daily appends, not just within one write.
    Build a synthetic hot bucket, write with max_bucket=5, append more
    rows into the same bucket twice — the stored bucket never exceeds
    the cap, and rows landing in un-full buckets are still admitted."""
    spark.sql("DROP TABLE IF EXISTS t_band_idx_cap")

    def banded(ids, band=0, band_hash="hot"):
        return spark.createDataFrame(
            [(i, band, band_hash) for i in ids],
            "doc_id long, band int, band_hash string",
        )

    # initial write: 8 rows into one bucket, cap 5 -> 5 stored
    D.write_band_index(
        banded(range(8)), "t_band_idx_cap", buckets=4, max_bucket=5,
        path=str(tmp_path / "idx_cap"),
    )
    assert spark.table("t_band_idx_cap").count() == 5

    # daily append #1: 6 more rows into the SAME bucket -> full, 0 admitted
    D.write_band_index(
        banded(range(100, 106)), "t_band_idx_cap", buckets=4, max_bucket=5,
        mode="append", path=str(tmp_path / "idx_cap"),
    )
    assert spark.table("t_band_idx_cap").count() == 5

    # daily append #2: a DIFFERENT bucket plus more hot rows — only the
    # fresh bucket admits (capped within the batch), hot stays at 5
    mixed = banded(range(200, 210)).unionByName(
        banded(range(300, 308), band=1, band_hash="cold")
    )
    D.write_band_index(
        mixed, "t_band_idx_cap", buckets=4, max_bucket=5,
        mode="append", path=str(tmp_path / "idx_cap"),
    )
    per_bucket = {
        (r.band, r.band_hash): r.n
        for r in spark.table("t_band_idx_cap")
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_bucket == {(0, "hot"): 5, (1, "cold"): 5}
    # earlier ingests win; within a batch smallest id wins
    hot_ids = sorted(
        r.doc_id
        for r in spark.table("t_band_idx_cap").filter("band_hash = 'hot'").collect()
    )
    assert hot_ids == [0, 1, 2, 3, 4]


def _written_plans(monkeypatch) -> list:
    """Record the physical plan of every frame handed to
    ``DataFrameWriter.saveAsTable`` — the plan the writer really runs,
    planned under the session conf at the moment of the write."""
    seen = []
    save = DataFrameWriter.saveAsTable

    def spy(self, *args, **kwargs):
        seen.append(self._df._jdf.queryExecution().executedPlan())
        return save(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", spy)
    return seen


def _path_to_scan(node, table: str) -> list[str] | None:
    """Node names from ``node`` down to the FileScan of ``table``."""
    if node.nodeName() == "AdaptiveSparkPlan":
        return _path_to_scan(node.executedPlan(), table)
    if node.nodeName().startswith("Scan parquet") and node.nodeName().endswith(
        f".{table}"
    ):
        return [node.nodeName()]
    children = node.children()
    for i in range(children.size()):
        below = _path_to_scan(children.apply(i), table)
        if below is not None:
            return [node.nodeName()] + below
    return None


def _write_band(spark, table, ids, mode, path):
    D.write_band_index(
        spark.createDataFrame(
            [(i, i % 3, f"h{i % 3}") for i in ids],
            "doc_id long, band int, band_hash string",
        ),
        table, buckets=4, max_bucket=5, mode=mode, path=path,
    )


def _write_chunks(spark, table, ids, mode, path):
    C.write_chunk_index(
        None, table, buckets=4, max_per_chunk=5, mode=mode, path=path,
        chunks=spark.createDataFrame(
            [(i, f"c{i % 3}", i % 3 + 1) for i in ids],
            "doc_id long, chash string, n_tokens long",
        ),
    )


@pytest.mark.parametrize("broadcast", ["broadcast_on", "broadcast_off"])
@pytest.mark.parametrize("write", [_write_band, _write_chunks], ids=["band", "cdc"])
def test_append_plan_is_exchange_free_on_index_side(
    spark, tmp_path, monkeypatch, write, broadcast
):
    """The append plan the capped writer hands to ``saveAsTable``:
    fixed-width work only (no object or sort-based aggregate, no
    ``collect_set``), and the batch is the only side that shuffles —
    one hash Exchange in both broadcast regimes (the aggregate-based
    append needed one for the band index and two for the chunk index).
    With broadcast off, the scale shape, the stored table is read as a
    bucketed scan with no Exchange between it and its join."""
    table = f"t_append_plan{write.__name__[6:]}_{broadcast}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = str(tmp_path / table)
    write(spark, table, range(30), "overwrite", loc)
    plans = _written_plans(monkeypatch)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if broadcast == "broadcast_off":
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write(spark, table, range(25, 40), "append", loc)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    (plan,) = plans
    text = plan.toString()
    for banned in ("ObjectHashAggregate", "SortAggregate", "collect_set"):
        assert banned not in text, text
    assert sum("Exchange hashpartitioning" in ln for ln in text.splitlines()) == 1, text
    if broadcast == "broadcast_off":
        scan = next(ln for ln in text.splitlines() if f".{table}[" in ln)
        assert "Bucketed: true" in scan, text
        path = _path_to_scan(plan, table)
        below_join = path[max(i for i, n in enumerate(path) if "Join" in n):]
        assert not any("Exchange" in n for n in below_join), path


def test_reingest_never_self_matches(spark, banded_split, tmp_path):
    """ADVICE r8 #3 (low): re-ingesting a batch that is already in the
    index must not mark a doc as a duplicate OF ITSELF — the probe
    excludes o_id == n_id, so dup_of == doc_id implies is_dup=false."""
    corpus, batch = banded_split
    spark.sql("DROP TABLE IF EXISTS t_band_idx_ri")
    D.write_band_index(
        corpus, "t_band_idx_ri", buckets=8, path=str(tmp_path / "idx_ri")
    )
    D.write_band_index(
        batch, "t_band_idx_ri", buckets=8, mode="append",
        path=str(tmp_path / "idx_ri"),
    )
    res = D.probe_band_index(spark, batch, "t_band_idx_ri")
    assert (
        res.filter((F.col("dup_of") == F.col("doc_id")) & F.col("is_dup")).count()
        == 0
    )
    # and a doc with a genuine earlier partner still reports it
    assert res.filter(F.col("is_dup")).count() > 0


def test_append_reingest_is_idempotent(spark, tmp_path):
    """Round-9 ADVICE: re-appending an already-indexed batch must store
    nothing and burn no capacity — fresh rows in the same append rank
    into the slots the duplicates would have consumed."""

    def banded(ids, band=0, band_hash="hot"):
        return spark.createDataFrame(
            [(i, band, band_hash) for i in ids],
            "doc_id long, band int, band_hash string",
        )

    spark.sql("DROP TABLE IF EXISTS t_band_idx_idem")
    D.write_band_index(
        banded(range(3)), "t_band_idx_idem", buckets=4, max_bucket=5,
        path=str(tmp_path / "idx_idem"),
    )
    # re-ingest the same batch PLUS two fresh ids: duplicates dropped,
    # fresh rows admitted into the capacity they'd otherwise have eaten
    D.write_band_index(
        banded([0, 1, 2, 10, 11]), "t_band_idx_idem", buckets=4, max_bucket=5,
        mode="append", path=str(tmp_path / "idx_idem"),
    )
    rows = sorted(
        (r.doc_id, r.band, r.band_hash)
        for r in spark.table("t_band_idx_idem").collect()
    )
    assert rows == [(i, 0, "hot") for i in [0, 1, 2, 10, 11]]
    # pure re-ingest: exact no-op
    D.write_band_index(
        banded([0, 1, 2, 10, 11]), "t_band_idx_idem", buckets=4, max_bucket=5,
        mode="append", path=str(tmp_path / "idx_idem"),
    )
    assert spark.table("t_band_idx_idem").count() == 5
    assert spark.table("t_band_idx_idem").distinct().count() == 5


def test_duplicate_input_rows_store_once_and_burn_no_capacity(spark, tmp_path):
    """A batch that carries one document twice (a re-delivered source
    file) stores its rows once: the repeat neither lands nor takes a
    slot, so the next append still finds the key's free capacity."""

    def banded(ids):
        return spark.createDataFrame(
            [(i, 0, "h") for i in ids], "doc_id long, band int, band_hash string"
        )

    spark.sql("DROP TABLE IF EXISTS t_band_idx_dup")
    loc = str(tmp_path / "idx_dup")
    D.write_band_index(banded([1, 1, 2]), "t_band_idx_dup", buckets=4, max_bucket=3, path=loc)
    assert sorted(r.doc_id for r in spark.table("t_band_idx_dup").collect()) == [1, 2]
    D.write_band_index(
        banded([6, 5, 5]), "t_band_idx_dup", buckets=4, max_bucket=3,
        mode="append", path=loc,
    )
    assert sorted(r.doc_id for r in spark.table("t_band_idx_dup").collect()) == [1, 2, 5]


def test_retire_forgets_probe_hits_and_restores_capacity(spark, tmp_path):
    """Round-9 verdict #6: retire-by-id compaction. A retired doc stops
    appearing as a probe partner, a subsequent append reuses the freed
    capacity, the cap invariant holds, and the layout stays bucketed."""

    def banded(ids, band=0, band_hash="hot"):
        return spark.createDataFrame(
            [(i, band, band_hash) for i in ids],
            "doc_id long, band int, band_hash string",
        )

    spark.sql("DROP TABLE IF EXISTS t_band_idx_ret")
    D.write_band_index(
        banded(range(5)), "t_band_idx_ret", buckets=4, max_bucket=5,
        path=str(tmp_path / "idx_ret"),
    )
    probe = banded([500])
    r0 = D.probe_band_index(spark, probe, "t_band_idx_ret").collect()[0]
    assert (r0.dup_of, r0.is_dup) == (0, True)

    retired = spark.createDataFrame([(0,), (1,)], "doc_id long")
    rewrite_index(spark, "t_band_idx_ret", retired)
    assert sorted(
        r.doc_id for r in spark.table("t_band_idx_ret").collect()
    ) == [2, 3, 4]
    r1 = D.probe_band_index(spark, probe, "t_band_idx_ret").collect()[0]
    assert (r1.dup_of, r1.is_dup) == (2, True)
    # probe layout survives the rewrite
    p = _plan(D.probe_band_index(spark, probe, "t_band_idx_ret"))
    assert "Bucketed: true" in p

    # freed capacity is reusable: exactly 2 of the 6 new rows admitted
    D.write_band_index(
        banded(range(100, 106)), "t_band_idx_ret", buckets=4, max_bucket=5,
        mode="append", path=str(tmp_path / "idx_ret"),
    )
    stored = sorted(r.doc_id for r in spark.table("t_band_idx_ret").collect())
    assert stored == [2, 3, 4, 100, 101]

    # retire everything in the bucket: the probe finds no partner at all
    rewrite_index(
        spark, "t_band_idx_ret",
        spark.createDataFrame([(i,) for i in stored], "doc_id long"),
    )
    r2 = D.probe_band_index(spark, probe, "t_band_idx_ret").collect()[0]
    assert (r2.dup_of, r2.is_dup) == (500, False)

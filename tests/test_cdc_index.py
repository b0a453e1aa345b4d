"""The stored CDC chunk-index lifecycle (operators/cdc_index.py):
write / probe / append / retire at sub-document granularity — the third
incremental-index tier beside the band index and the IVF index.
`incremental_cdc_assign` is the oracled replay twin; these tests
materialize the REAL bucketed table and pin its semantics and physics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_auto_spark.operators import cdc_index as C
from data_ingestion_auto_spark.operators.layout import rewrite_index


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_P = " ".join(f"p{i}" for i in range(60))  # the shared 60-token passage


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "intro words here " + _P),
            (3, "totally different content stream of tokens one two three"),
        ],
        "doc_id long, text string",
    )


def test_probe_append_retire_cycle(spark, corpus, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_cdc_idx")
    C.write_chunk_index(corpus, "t_cdc_idx", buckets=4, path=str(tmp_path / "ci"))

    _Q = " ".join(f"qx{i}" for i in range(40))  # 7 chunks, verified
    batch1 = spark.createDataFrame(
        [
            (100, "a very different and longer prefix before quoting " + _P),
            (101, _Q),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in C.probe_chunk_index(spark, batch1, "t_cdc_idx").collect()}
    # the quoting doc is caught at chunk granularity, owner = doc 2
    assert got[100].is_dup and got[100].dup_of == 2
    # CDC alignment-freeness: most of the 60-token passage is recovered
    # despite the different prefix (boundary chunks may differ)
    assert got[100].shared_tokens >= 30
    assert got[100].dup_ratio_ppm > 0
    # the fresh doc shares nothing and assigns to itself
    assert not got[101].is_dup and got[101].dup_of == 101

    # inline control: same probe computed against corpus chunks directly
    bchunks = C.cdc_chunk_rows(batch1).select("doc_id", "chash", "n_tokens").distinct()
    cchunks = (
        C.cdc_chunk_rows(corpus)
        .select(F.col("doc_id").alias("o_id"), "chash")
        .distinct()
    )
    want_shared = (
        bchunks.join(cchunks, "chash")
        .groupBy("doc_id")
        .agg(F.sum("n_tokens").alias("st"), F.min("o_id").alias("own"))
        .collect()
    )
    want = {r.doc_id: (r.st, r.own) for r in want_shared}
    assert want[100] == (got[100].shared_tokens, got[100].dup_of)
    assert 101 not in want

    # append batch1; a second batch quoting batch1's fresh doc now hits it
    C.write_chunk_index(batch1, "t_cdc_idx", buckets=4, mode="append")
    n1 = spark.table("t_cdc_idx").count()
    batch2 = spark.createDataFrame(
        [(200, "leading filler tokens " + _Q)], "doc_id long, text string"
    )
    got2 = {r.doc_id: r for r in C.probe_chunk_index(spark, batch2, "t_cdc_idx").collect()}
    assert got2[200].is_dup and got2[200].dup_of == 101

    # probing an appended batch is safe (self-excluded), owner unchanged
    re = {r.doc_id: r for r in C.probe_chunk_index(spark, batch1, "t_cdc_idx").collect()}
    assert re[100].is_dup and re[100].dup_of == 2

    # idempotent re-append: exact no-op
    C.write_chunk_index(batch1, "t_cdc_idx", buckets=4, mode="append")
    assert spark.table("t_cdc_idx").count() == n1

    # retire the passage's owner: doc 100's chunks re-assign to the next
    # owner — which is doc 100 itself once appended, so self-exclusion
    # leaves the passage unclaimed by anyone else
    retired = spark.createDataFrame([(2,)], "doc_id long")
    rewrite_index(spark, "t_cdc_idx", retired)
    assert spark.table("t_cdc_idx").filter("doc_id = 2").count() == 0
    after = {r.doc_id: r for r in C.probe_chunk_index(spark, batch1, "t_cdc_idx").collect()}
    assert after[100].dup_of != 2
    # layout survives the rewrite
    assert "Bucketed: true" in _plan(
        C.probe_chunk_index(spark, batch1, "t_cdc_idx")
    )


def test_probe_index_side_is_exchange_free(spark, corpus, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_cdc_idx_b")
    spark.sql("DROP TABLE IF EXISTS t_cdc_idx_flat")
    C.write_chunk_index(corpus, "t_cdc_idx_b", buckets=4, path=str(tmp_path / "cb"))
    spark.table("t_cdc_idx_b").write.format("parquet").option(
        "path", str(tmp_path / "cflat")
    ).saveAsTable("t_cdc_idx_flat")
    batch = spark.createDataFrame(
        [(100, "prefix before quoting " + _P)], "doc_id long, text string"
    )

    def n_chash_exchanges(table):
        p = _plan(C.probe_chunk_index(spark, batch, table))
        return sum(
            1
            for line in p.splitlines()
            if "Exchange hashpartitioning" in line and "chash" in line
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_b = _plan(C.probe_chunk_index(spark, batch, "t_cdc_idx_b"))
        assert "Bucketed: true" in p_b
        assert n_chash_exchanges("t_cdc_idx_flat") == n_chash_exchanges("t_cdc_idx_b") + 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_per_chunk_cap_holds_across_appends(spark, tmp_path):
    """Cap 3: five corpus docs sharing one passage store only 3 entries
    per shared chash; an append of two more carriers admits none for
    full chunks; after retiring one stored carrier, a fresh append can
    claim the freed slot."""
    shared = " ".join(f"z{i}" for i in range(40))  # 7 chunks, verified
    mk = lambda ids: spark.createDataFrame(
        [(i, f"prefix{i} " + shared) for i in ids], "doc_id long, text string"
    )
    spark.sql("DROP TABLE IF EXISTS t_cdc_cap")
    C.write_chunk_index(
        mk(range(1, 6)), "t_cdc_cap", buckets=2, max_per_chunk=3,
        path=str(tmp_path / "cap"),
    )
    per = (
        spark.table("t_cdc_cap").groupBy("chash").count().agg(F.max("count")).collect()
    )
    assert per[0][0] <= 3

    C.write_chunk_index(
        mk((10, 11)), "t_cdc_cap", buckets=2, max_per_chunk=3, mode="append"
    )
    per2 = (
        spark.table("t_cdc_cap").groupBy("chash").count().agg(F.max("count")).collect()
    )
    assert per2[0][0] <= 3

    # retire one stored carrier of the hot chunks; capacity is reusable
    hot = (
        spark.table("t_cdc_cap")
        .groupBy("chash")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
        .filter("n = 3")
        .collect()
    )
    assert hot
    rewrite_index(
        spark,
        "t_cdc_cap",
        spark.createDataFrame([(hot[0].keeper,)], "doc_id long"),
    )
    C.write_chunk_index(
        mk((20,)), "t_cdc_cap", buckets=2, max_per_chunk=3, mode="append"
    )
    stored = {
        r.doc_id
        for r in spark.table("t_cdc_cap")
        .filter(F.col("chash") == hot[0].chash)
        .collect()
    }
    assert 20 in stored
    assert len(stored) <= 3

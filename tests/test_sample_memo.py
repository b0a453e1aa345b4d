"""plans/sample_memo.py — the memoized lineitem sampling/planning tier
(round-13, verdict #2). The oracle parity run proves values at sf0.01;
these tests pin the builder contracts and the degenerate branches the
oracle fixtures never hit."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_auto_spark.plans.sample_memo import (
    _rank_quantiles,
    lineitem_exact_group_quantiles,
    lineitem_hash_sample,
    lineitem_plan_edges,
    lineitem_sample_ranked,
)

_LI_SCHEMA = (
    "l_orderkey long, l_linenumber int, l_returnflag string, l_extendedprice double"
)


def _mini_sf(spark, tmp_path, rows):
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, _LI_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(sf / "lineitem.parquet"))
    return str(sf)


def test_empty_lineitem_yields_empty_edges(spark, tmp_path, monkeypatch):
    """The `if not want` branch: an empty corpus publishes an EMPTY
    boundary memo (schema intact) and the downstream bucket rule
    degenerates to one bucket — no crash, no None edges."""
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo"))
    (tmp_path / "memo").mkdir()
    sf = _mini_sf(spark, tmp_path, [])
    edges = lineitem_plan_edges(spark, sf, 32)
    assert edges.columns == ["i", "edge"]
    assert edges.count() == 0
    # second read serves the published empty memo, same schema
    assert lineitem_plan_edges(spark, sf, 32).count() == 0


def test_memoized_frames_match_live_derivation(spark, tmp_path, monkeypatch):
    """Bit-identity: the memoized sample / rank / exact-quantile frames
    equal the inline derivation on the same rows (the property that
    keeps every consumer's oracle hash unchanged)."""
    monkeypatch.setenv("SPARK_GRAFT_CC_MEMO_DIR", str(tmp_path / "memo"))
    (tmp_path / "memo").mkdir()
    rows = [
        (k, ln, flag, float(p))
        for k, ln, flag, p in (
            (i, j, "AR"[(i + j) % 2], 100 + 7 * i + j)
            for i in range(1, 60)
            for j in range(1, 4)
        )
    ]
    sf = _mini_sf(spark, tmp_path, rows)

    from data_ingestion_auto_spark.functions.scalars import md5_hex_int_sql

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    hexpr = md5_hex_int_sql(
        "concat(CAST(l_orderkey AS STRING), '|', CAST(l_linenumber AS STRING))"
    )
    live_samp = sorted(
        (r.l_orderkey, r.l_linenumber, r.l_returnflag, r.l_extendedprice, r.h)
        for r in li.select("*", F.expr(hexpr).alias("h"))
        .filter(F.expr("h % 8 = 0"))
        .collect()
    )
    memo_samp = sorted(
        (r.l_orderkey, r.l_linenumber, r.l_returnflag, r.l_extendedprice, r.h)
        for r in lineitem_hash_sample(spark, sf).collect()
    )
    assert memo_samp == live_samp
    assert len(memo_samp) > 0  # the fixture actually exercises the sample

    # rank memo: dense 1..n over sorted distinct key tuples
    ranked = sorted(
        (r.l_orderkey, r.l_linenumber, r.rn)
        for r in lineitem_sample_ranked(spark, sf).collect()
    )
    expect_keys = sorted({(a, b) for a, b, *_ in live_samp})
    assert [(a, b) for a, b, _ in ranked] == expect_keys
    assert [rn for *_, rn in ranked] == list(range(1, len(expect_keys) + 1))

    # exact-quantile memo equals the inline rank rule over full lineitem
    live_q = sorted(
        tuple(r)
        for r in _rank_quantiles(
            li.select("l_returnflag", "l_extendedprice"), "exact_p50", "exact_p90", "exact_n"
        ).collect()
    )
    memo_q = sorted(
        tuple(r) for r in lineitem_exact_group_quantiles(spark, sf).collect()
    )
    assert memo_q == live_q

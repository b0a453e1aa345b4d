"""Focused pins for the round-14 optimization internals: each test pins
an equivalence claim an optimization relies on, on inputs small enough
to brute-force."""

from __future__ import annotations

import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# (rows as (k, a, b, tag, w), order as (column, direction), payload):
# top1 must pick the row_number() == 1 row of the same order, NULLs last
_TOP1_CASES = {
    "nulls_in_each_order_column": (
        [
            (1, None, 1, "x", 0.0), (1, 5, None, "y", 0.0), (1, 5, 2, "z", 0.0),
            (2, None, None, "n", 0.0), (2, None, 3, "m", 0.0),
            (3, None, None, "q", 0.0),
        ],
        [("a", "asc"), ("b", "asc")],
        ["tag"],
    ),
    "exact_ties_break_on_last_column": (
        [
            (1, 3, 9, "x", 0.0), (1, 3, 2, "y", 0.0), (1, 3, 5, "z", 0.0),
            (2, 0, 1, "u", 0.0), (2, 0, 0, "v", 0.0),
        ],
        [("a", "asc"), ("b", "asc")],
        ["tag"],
    ),
    "desc_via_negation": (
        [
            (1, 3, 2, "x", 0.0), (1, 3, 1, "y", 0.0), (1, 5, 9, "z", 0.0),
            (1, None, 0, "n", 0.0),
            (2, None, 4, "p", 0.0), (2, 1, 8, "q", 0.0),
            (3, 2, 7, "r", 0.0), (3, 2, 6, "s", 0.0),
        ],
        [("a", "desc"), ("b", "asc")],
        ["a", "tag"],
    ),
    "multi_column_payload": (
        [(1, 10, 3, "x", 0.5), (1, 20, 1, "y", 1.5), (2, 7, None, "w", 2.5)],
        [("b", "asc")],
        ["tag", "w", "a"],
    ),
}


@pytest.mark.parametrize("case", sorted(_TOP1_CASES))
def test_top1_matches_row_number(spark, case):
    """`top1` is the engine's one best-row-per-key form; it must pick
    the same row as row_number() over the same order with NULLs last in
    every column — the window form it replaced at every port site."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_ingestion_auto_spark.functions.scalars import top1

    rows, order, payload = _TOP1_CASES[case]
    df = spark.createDataFrame(rows, "k long, a long, b long, tag string, w double")
    by_top1 = [
        F.col(c) if d == "asc" else (-F.col(c)).alias(f"neg_{c}") for c, d in order
    ]
    by_window = [
        F.asc_nulls_last(c) if d == "asc" else F.desc_nulls_last(c) for c, d in order
    ]
    cols = ["k", *dict.fromkeys([c for c, d in order if d == "asc"] + payload)]
    got = sorted(tuple(r) for r in top1(df, ["k"], by_top1, payload).select(*cols).collect())
    w = Window.partitionBy("k").orderBy(*by_window)
    ref = sorted(
        tuple(r)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(*cols)
        .collect()
    )
    assert got == ref
    assert len(got) == len({r[0] for r in rows})


def test_update_wide_matches_explode(spark):
    """The wide per-dimension `_update` must match the posexplode form
    it replaced: a cluster mixing lengths, including a vector longer
    than the init rows, averages every position some member reaches;
    NULL elements are excluded from sum and count; a cluster of NULL
    vectors drops out."""
    from pyspark.sql import functions as F

    from data_ingestion_auto_spark.operators.ivf import _update, quantize

    rows = [
        (1, [1.0, 2.0]),
        (2, [3.0, 5.0]),
        (3, [1.0, 2.0, 7.0]),  # longer than the 2-dim init rows 1 and 2
        (4, [float("nan")] * 2),  # quantizes to [NULL, NULL]
        (5, None),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = quantize(emb)
    assigned = v.select(
        "vec_id",
        "qvec",
        F.expr("CAST(CASE WHEN vec_id <= 3 THEN 0 WHEN vec_id = 4 THEN 1 ELSE 2 END AS INT)")
        .alias("cluster_id"),
    )
    got = sorted(
        (r["cluster_id"], tuple(r["cvec"]))
        for r in _update(v, ["cluster_id"])(assigned).collect()
    )
    dims = assigned.select("cluster_id", F.posexplode("qvec").alias("pos", "v"))
    ref = sorted(
        (r["cluster_id"], tuple(r["cvec"]))
        for r in dims.groupBy("cluster_id", "pos")
        .agg(F.expr("sum(v) div count(v)").alias("cv"))
        .groupBy("cluster_id")
        .agg(F.expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").alias("cvec"))
        .collect()
    )
    assert got == ref
    # integer means: (1+3+1)e4 div 3, (2+5+2)e4 div 3, 7e4 div 1
    assert got == [(0, (16666, 30000, 70000)), (1, (None, None))]


def test_cc_frontier_shapes_identical(spark):
    """Frontier-filtered connected components must return the identical
    label table at every (hops, jumps) round shape — semi-naive
    evaluation of the monotone min recursion is exact, not a heuristic.
    The graph mixes a long chain (frontier shrinks to the advancing
    min), a triangle, and isolated pairs."""
    from data_ingestion_auto_spark.operators import dedup as D

    edges = (
        [(i, i + 1) for i in range(20, 40)]  # 20-link chain
        + [(1, 2), (2, 3), (1, 3)]  # triangle
        + [(50, 51), (60, 61)]  # islands
    )
    pairs = spark.createDataFrame(edges, "a long, b long")
    ref = None
    for h, j in ((5, 1), (3, 3), (1, 0), (4, 2)):
        out = sorted(
            (r["node"], r["component"])
            for r in D.connected_components(
                pairs, hops_per_round=h, jumps_per_round=j, max_iter=40
            ).collect()
        )
        if ref is None:
            ref = out
        assert out == ref
    # ground truth: chain -> 20, triangle -> 1, islands -> 50/60
    truth = {n: 20 for n in range(20, 41)}
    truth.update({1: 1, 2: 1, 3: 1, 50: 50, 51: 50, 60: 60, 61: 60})
    assert dict(ref) == truth


def test_sql_str_literal_roundtrips_both_parser_modes(spark):
    """The VALUES-literal escaping must survive BOTH parser modes
    (ADVICE r13): default mode backslash-escapes, legacy
    escapedStringLiterals takes backslashes raw."""
    from data_ingestion_auto_spark.plans.tokenizer import _sql_str_literal

    cases = ["plain", "it's", "back\\slash", "both\\'s", "\\\\double", "tick''s"]
    prior = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    try:
        for mode in ("false", "true"):
            spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
            legacy = mode == "true"
            for s in cases:
                got = spark.sql(
                    f"SELECT {_sql_str_literal(s, legacy)} AS v"
                ).collect()[0]["v"]
                assert got == s, (mode, s, got)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prior)


def test_sort_small_call_sites_are_pinned():
    """sort_small funnels its whole input through ONE task — safe only
    for outputs bounded by construction (ADVICE r13). Pin the call sites
    so a data-sized caller can't slip in silently: additions must be
    reviewed against the bounded-output contract and added here."""
    import re
    import subprocess

    out = subprocess.run(
        ["grep", "-rn", r"sort_small(", os.path.join(REPO, "data_ingestion_auto_spark")],
        capture_output=True,
        text=True,
    ).stdout
    files = sorted(
        {
            os.path.relpath(line.split(":", 1)[0], REPO)
            for line in out.splitlines()
            if line.strip() and "def sort_small" not in line
        }
    )
    allowed = {
        "data_ingestion_auto_spark/plans/binary_decode.py",  # fixed raster dims
        "data_ingestion_auto_spark/plans/contour.py",  # fixed-grid segment inventory
        "data_ingestion_auto_spark/plans/helpers.py",  # the definition module
        "data_ingestion_auto_spark/plans/warp.py",  # fixed output grids
        "data_ingestion_auto_spark/plans/warp_kernels.py",  # fixed output grids
    }
    assert set(files) <= allowed, f"unreviewed sort_small call sites: {files}"


def test_prebuild_deadline_is_bounded(spark, monkeypatch):
    """Past its deadline prebuild cancels chains that have not started
    and gives running ones a fixed number of cancel sweeps: two chains
    blocked in pure Python (where a job-group cancel cannot reach) hold
    both workers, yet prebuild returns within timeout + cap, and the
    queued third chain never runs — not even once the workers free up."""
    import threading
    import time

    from data_ingestion_auto_spark.plans import memo_prebuild as MP

    release = threading.Event()
    ran = []
    chains = [
        ("wedged_a", [lambda: release.wait(120)]),
        ("wedged_b", [lambda: release.wait(120)]),
        ("queued", [lambda: ran.append(1)]),
    ]
    monkeypatch.setattr(MP, "prebuild_chains", lambda spark, sf_dir: chains)
    monkeypatch.setattr(MP, "_DRAIN_SWEEPS", 1)
    t0 = time.monotonic()
    try:
        walls = MP.prebuild(spark, "unused", max_workers=2, timeout_sec=1.0)
        elapsed = time.monotonic() - t0
    finally:
        release.set()
    assert elapsed < 1.0 + 5.0 * MP._DRAIN_SWEEPS + 2.0, elapsed
    assert walls == {}
    time.sleep(0.5)  # the freed workers must not pick up the queued chain
    assert ran == []

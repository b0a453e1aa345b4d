"""Plan-quality regression tests: the properties that make these plans
survive a 100× scale-up must stay visible in the physical plan — pushed
scan filters, pruned read schemas, broadcast dimension joins, and the
LSH cap's shuffle reuse. A refactor that silently breaks one of these
still returns correct rows; these tests are what catches it."""

from __future__ import annotations

import re

import pytest


def _plan(spark, df, mode="formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def registry():
    from data_ingestion_auto_spark import plans

    return plans.REGISTRY


def test_q6_pushdown_and_pruning(spark, sf_dir, registry):
    p = _plan(spark, registry["q6_revenue_change"].spark(spark, sf_dir))
    # range predicates reach the parquet scan...
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p
    # ...and the scan reads only the 4 needed of lineitem's 16 columns
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>" in p
    )


def test_q3_all_three_scans_filtered_and_pruned(spark, sf_dir, registry):
    p = _plan(spark, registry["q3_shipping_priority"].spark(spark, sf_dir))
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "LessThan(o_orderdate" in p
    assert "GreaterThan(l_shipdate" in p
    assert "ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>" in p


def test_flagship_broadcasts_every_dimension(spark, sf_dir, registry):
    df = registry["flagship_revenue_anomaly"].spark(spark, sf_dir)
    p = _plan(spark, df, "simple")
    # dims broadcast; the only SortMergeJoin allowed is a fact-fact join
    # (lineitem ⋈ orders). Optimization r13: the climatology normal is a
    # (mktsegment, moy)-partitioned window over the monthly frame, not a
    # broadcast self-join — the whole join+monthly subtree plans ONCE
    # (was twice), so the plan has exactly one lineitem scan, no
    # ResolvedHint at all, and the window is never single-partition.
    assert p.count("BroadcastHashJoin") >= 2
    assert p.count("Scan parquet") == 3  # lineitem + orders + customer
    assert "Window" in p
    # the customer broadcast must come from the OPTIMIZER's size stats
    # (static planner here, AQE at runtime), NOT a forced hint: customer
    # is SF-proportional (150k×SF rows), and a hint would force a
    # multi-hundred-MB driver-mediated broadcast at 100×.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0


def test_star_join_dims_broadcast_without_sf_hints(spark, sf_dir, registry):
    """regional_revenue five-way star: nation/region keep their hints
    (constant 25/5 rows); customer carries NONE, yet the optimizer still
    broadcasts it at this scale from parquet size stats — the plan you
    want at every scale (broadcast while small, shuffle join once
    customer outgrows the threshold)."""
    df = registry["regional_revenue"].spark(spark, sf_dir)
    p = _plan(spark, df, "simple")
    assert p.count("BroadcastHashJoin") >= 3
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly the nation + region hints — none on customer
    assert analyzed.count("ResolvedHint") == 2


def test_lsh_cap_reuses_group_exchange(spark, registry):
    """The hot-bucket cap's row_number window must share the (band,
    band_hash) exchange with the bucket groupBy — exactly one such
    exchange in the plan."""
    from data_ingestion_auto_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"text number {i} blah blah") for i in range(50)], "doc_id long, text string"
    )
    sig = D.minhash_signature(D.shingles(docs, k=3), num_perm=16)
    p = _plan(spark, D.lsh_candidates(sig), "simple")
    band_exchanges = [
        line
        for line in p.splitlines()
        if "Exchange hashpartitioning(band" in line
    ]
    assert len(band_exchanges) == 1


def test_chunk_lsh_cap_reuses_group_exchange(spark, sf_dir, registry):
    """Chunk-granularity mirror of test_lsh_cap_reuses_group_exchange:
    the r3 driver bench recorded chunk_minhash_neardup at 23 s (host
    stall); this pin converts "the plan didn't regress" from an argument
    into a machine check — exactly one (band, band_hash) exchange serves
    both the hot-bucket cap window and the bucket groupBy."""
    from data_ingestion_auto_spark import plans

    p = _plan(spark, plans.REGISTRY["chunk_minhash_neardup"].spark(spark, sf_dir), "simple")
    band_exchanges = [
        line for line in p.splitlines() if "Exchange hashpartitioning(band" in line
    ]
    assert len(band_exchanges) == 1


def test_lev_confirm_consumes_materialized_candidates(spark, sf_dir, registry):
    """The candidate→verify rung must cost candidates + one broadcast
    join, not candidates × N: the signature DAG (shingle explode) runs
    once at checkpoint time, so the confirm query's own plan contains NO
    shingle-explode Generate — it scans the materialized pair RDD."""
    p = _plan(
        spark, registry["neardup_levenshtein_confirm"].spark(spark, sf_dir), "simple"
    )
    assert "explode(transform(sequence" not in p
    assert "ExistingRDD" in p


def test_decontamination_broadcasts_eval_ngrams(spark, sf_dir, registry):
    """The eval-set n-gram side must BROADCAST (eval sets are MBs,
    corpora are TBs): a refactor that turns it into a shuffle join still
    returns correct rows but dies at 100 TB."""
    p = _plan(
        spark, registry["decontamination_ngram_overlap"].spark(spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in p
    # and the training side never shuffles raw text: the only exchanges
    # are the distinct on (doc_id, ng) hashes, the per-doc aggregate, and
    # the presentation sort
    for line in p.splitlines():
        if "Exchange" in line:
            assert "text" not in line


def test_no_row_udfs_anywhere(spark, sf_dir, registry):
    """Zero row-at-a-time Python UDFs in any registered plan: the only
    Python allowed is Arrow-batched (ArrowEvalPython / FlatMapGroupsInPandas
    / MapInPandas nodes)."""
    for name, q in registry.items():
        p = _plan(spark, q.spark(spark, sf_dir), "simple")
        assert "BatchEvalPython" not in p, f"row UDF in {name}"


def test_runtime_bloom_filter_injects_at_scale(spark, sf_dir):
    """At 100 TB the fact-side scan exceeds Spark's 10 GiB
    applicationSideScanSizeThreshold and Catalyst injects a runtime Bloom
    filter (semi-join reduction) on the shuffle join key — provided the
    plan is declarative. Pin that: with the size gate lowered to what the
    local fixture scans (and broadcast off so the join actually
    shuffles), the optimized plan must contain bloom_filter_agg on the
    selective side and might_contain on the fact side."""
    from pyspark.sql import functions as F

    from data_ingestion_auto_spark.sources.tables import load_table

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        od = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )


def test_curation_queries_stay_map_side(spark, sf_dir, registry):
    """The round-3 curation batch claims map-only execution (the single
    allowed exchange is the final presentation sort). A refactor that
    introduces a groupBy/join shuffle still returns correct rows — this
    is what catches it."""
    for name in (
        "repetition_ngram_gate",
        "pii_scrub_accounting",
        "sliding_window_chunks",
    ):
        p = _plan(spark, registry[name].spark(spark, sf_dir), "simple")
        n_exchanges = p.count("Exchange ")
        assert n_exchanges <= 1, f"{name}: {n_exchanges} exchanges (expected <=1)"


def test_kmv_prunes_scan_to_two_columns(spark, sf_dir, registry):
    """The KMV sketch reads exactly (l_returnflag, l_partkey) of
    lineitem's 16 columns — column pruning must reach the scan."""
    p = _plan(spark, registry["kmv_distinct_estimate"].spark(spark, sf_dir))
    assert "ReadSchema: struct<l_partkey:bigint,l_returnflag:string>" in p


def test_bench_calibration_probes_plan_pinned(spark, sf_dir, registry):
    """VERDICT r4 #1: host_factor calibrates every cross-round bench
    comparison against the r2 anchor, so the three probe queries' plans
    must be byte-stable (modulo expression ids / paths). bench.py refuses
    calibration at runtime on drift; this test makes the drift loud at
    pytest time too, pointing straight at the re-anchor protocol: edit a
    probe plan deliberately -> re-measure its anchor on an idle host
    (best-of-5) -> update R2_ANCHOR + PROBE_PLAN_DIGEST together
    (BASELINE.md)."""
    import bench

    for name, want in bench.PROBE_PLAN_DIGEST.items():
        got = bench._plan_digest(registry[name].spark(spark, sf_dir))
        assert got == want, (
            f"probe {name} plan drifted ({got} != {want}); re-anchor per "
            "BASELINE.md before trusting host_factor"
        )


def test_suffix_repeat_spans_pruned_no_cartesian_no_global_window(
    spark, sf_dir, registry
):
    """Round-12 memo split: the REGISTERED query reads the memoized
    repeat-span table (no suffix explode, no corpus re-sort — only the
    per-doc island windows remain), while the direct-sort CONSTRUCTION
    (`_reps_direct`) is pinned on its own shape — a pruned
    (doc_id, text) scan, the suffix explode, ONE hash exchange and ONE
    window partitioned on the _T-token prefix block: no range sort, no
    spark_partition_id seam windows, no eager checkpoint (ExistingRDD),
    no cartesian or nested-loop join."""
    from data_ingestion_auto_spark.plans.substring_sa import _T, _reps_direct

    df = registry["suffix_repeat_spans"].spark(spark, sf_dir)
    p = _plan(spark, df)
    assert "spark_graft_sareps_direct" in p  # reads the memoized artifact
    # the query's only live documents scan (island accounting's n_tokens)
    # stays pruned to (doc_id, text)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    assert "CartesianProduct" not in p
    simple = _plan(spark, df, "simple")
    for line in simple.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            assert "doc_id" in line, line

    direct = _reps_direct(spark, sf_dir)
    cp = _plan(spark, direct)
    assert "CartesianProduct" not in cp
    assert "BroadcastNestedLoopJoin" not in cp
    # one lazy plan from the pruned scan: no eager cut, no range sort,
    # no per-partition seam windows
    for gone in ("ExistingRDD", "RangePartitioning", "spark_partition_id"):
        assert gone not in cp, gone
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in cp
    csimple = _plan(spark, direct, "simple")
    windows = [ln for ln in csimple.splitlines() if "+- Window " in ln]
    assert len(windows) == 1, windows
    # the window partitions on the prefix block slice(suf, 1, _T),
    # inlined or as the projected alias Spark adds for it
    key = re.search(r"windowspecdefinition\((.+?), suf#\d+ ASC", windows[0]).group(1)
    assert key.startswith("slice(suf#") or re.search(
        rf"slice\(suf#\d+, 1, {_T}\) AS {re.escape(key)}\b", csimple
    ), key
    assert sum("Exchange " in ln for ln in csimple.splitlines()) <= 1


def test_suffix_unbounded_pruned_no_cartesian_no_global_window(
    spark, sf_dir, registry
):
    """Round-12 memo split, prefix-doubling variant: the registered
    query reads its OWN memoized span table (each construction still
    runs once per corpus at build time); the construction (`_reps_pd`)
    keeps the original pins — scans pruned to (doc_id, text), every
    join hash/broadcast (the LCP walk and SA adjacency are integer
    equi-joins), rank ladders as checkpointed frames, and NO data-sized
    global window anywhere (the whole point of replacing the direct
    sort)."""
    from data_ingestion_auto_spark.plans.substring_sa import _reps_pd

    df = registry["suffix_repeat_spans_unbounded"].spark(spark, sf_dir)
    p = _plan(spark, df)
    assert "spark_graft_sareps_pd" in p
    assert "CartesianProduct" not in p
    simple = _plan(spark, df, "simple")
    for line in simple.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            assert "doc_id" in line, line

    cp = _plan(spark, _reps_pd(spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in cp
    assert "CartesianProduct" not in cp
    assert "BroadcastNestedLoopJoin" not in cp
    assert "ExistingRDD" in cp
    csimple = _plan(spark, _reps_pd(spark, sf_dir), "simple")
    for line in csimple.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            assert "_pid" in line or "doc_id" in line, line


def test_classifier_weights_broadcast_and_pruned(spark, sf_dir, registry):
    """Model-as-data inference: the weights table must BROADCAST into
    the feature join (a shuffle here would move corpus-sized features
    to model-sized weights — backwards), and the documents scan reads
    only (doc_id, text)."""
    p = _plan(
        spark, registry["hashed_linear_classifier_scores"].spark(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    assert "CartesianProduct" not in p


def test_substring_cut_pruned_no_cartesian(spark, sf_dir, registry):
    """The cut rung reads only (doc_id, text); the token/island range
    anti-join must stay keyed on doc_id (per-document islands), never a
    cartesian over the token explode."""
    p = _plan(spark, registry["exact_substring_cut"].spark(spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pagerank_message_passing_no_cartesian(spark, sf_dir, registry):
    """PageRank rounds are edge⋈rank equi-joins aggregated on the
    destination key — never a cartesian; the final plan consumes the
    checkpointed edge/rank tables, not a re-run of the LSH signature
    DAG."""
    p = _plan(spark, registry["neardup_pagerank"].spark(spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "explode(transform(sequence" not in p
    assert "ExistingRDD" in p


def test_substring_dedup_scan_pruned_and_no_cartesian(spark, sf_dir, registry):
    """exact_substring_dedup_spans reads only (doc_id, text) of the
    5-column documents table, and the dup-fingerprint join must be an
    equi hash join — a cartesian/BNLJ here would be quadratic in corpus
    size."""
    p = _plan(spark, registry["exact_substring_dedup_spans"].spark(spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_stateful_replay_no_cartesian(spark, sf_dir, registry):
    """stateful_dedup_replay's verdict self-join is equi on user_id with
    range residuals — never a cartesian/BNLJ (the per-key quadratic bound
    depends on the equi key reaching the join)."""
    p = _plan(spark, registry["stateful_dedup_replay"].spark(spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # events scan pruned to the three needed columns (ts surfaces as
    # bigint under the nanos-as-long conf or as timestamp_ntz when the
    # file is micros — either way only 3 of 6 columns are read)
    p2 = _plan(spark, registry["stateful_dedup_replay"].spark(spark, sf_dir))
    assert (
        "ReadSchema: struct<event_id:bigint,ts:bigint,user_id:bigint>" in p2
        or "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint>" in p2
    )


def test_stream_join_replay_pushdown_and_no_cartesian(spark, sf_dir, registry):
    """stream_stream_join_replay: the event_type filters reach the parquet
    scan, the scan reads only the 4 needed of events' 6 columns, and the
    pair join is equi on (user_id, hour-bucket) — never a cartesian/BNLJ
    (the per-key bound is events/user/hour, mirroring the streaming
    operator's state bound)."""
    p = _plan(spark, registry["stream_stream_join_replay"].spark(spark, sf_dir))
    assert "EqualTo(event_type,click)" in p
    assert "EqualTo(event_type,purchase)" in p
    assert (
        "ReadSchema: struct<event_id:bigint,ts:bigint,user_id:bigint,event_type:string>" in p
        or "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>" in p
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dsir_scans_pruned_no_cartesian(spark, sf_dir, registry):
    """dsir_importance_selection reads documents exactly three times, each
    a 2-column pruned projection (doc features, bucket distributions,
    final doc list) — the round-6 restructure folded target/source/total
    aggregations into ONE per-bucket pass (was 4 scans / 20 exchanges).
    The only nested-loop join is the 1-row totals broadcast."""
    p = _plan(spark, registry["dsir_importance_selection"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("ReadSchema: struct<doc_id:bigint,text:string>") == 1
    assert p.count("ReadSchema: struct<doc_id:bigint,lang:string>") == 1
    # the (text, lang) distribution subtree lives in the ≤1024-row
    # localCheckpoint — it must NOT be re-derived from a scan in the
    # live plan (that was the 4-scan shape this pin guards against)
    assert p.count("ReadSchema: struct<text:string,lang:string>") == 0


def test_curation_more_single_scan_no_cartesian(spark, sf_dir, registry):
    """Both round-6 curation queries are single-scan, per-doc-window
    plans: no joins beyond the per-doc top-1 / survivor windows, scans
    pruned to the needed columns."""
    p = _plan(spark, registry["top_ngram_char_fraction"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    p2 = _plan(spark, registry["quality_aware_dedup_keep"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2
    assert "ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>" in p2


def test_mixture_caps_pruned_single_corpus_scan(spark, sf_dir, registry):
    """source_capped_sample reads only (doc_id, source) and joins
    nothing; unimax_epoch_mixture touches the corpus exactly once
    (pruned to the three needed columns) — everything after the strata
    aggregation runs on O(sources×langs) metadata rows, so the two 1-row
    broadcast cross joins are free and the corpus never re-scans."""
    p = _plan(spark, registry["source_capped_sample"].spark(spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" not in p  # pure scan + window
    # The corpus-touching subtree (strata aggregation) prunes the scan to
    # its three needed columns — asserted on the subtree itself because
    # the query localCheckpoints it (the final plan no longer carries the
    # parquet scan at all, which is the point: scanned once, ever).
    from pyspark.sql import functions as F

    from data_ingestion_auto_spark.plans.helpers import T

    strata = (
        T(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tok"))
    )
    assert "ReadSchema: struct<text:string,lang:string,source:string>" in _plan(
        spark, strata
    )
    p2 = _plan(spark, registry["unimax_epoch_mixture"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p2
    assert p2.count("Scan parquet") == 0, "corpus must not re-scan after strata"


def test_ann_recall_and_canonical_keep_no_cartesian(spark, sf_dir, registry):
    """ann_recall_at_k: embeddings scans are pruned to (vec_id,
    embedding); the retrieved side is the production bucket equi-join and
    the truth/hit assembly joins are equi — no CartesianProduct anywhere
    (the truth ranking's broadcast-queries × corpus pass is a BNLJ by
    design: 8 broadcast rows, linear in corpus, the evaluation harness's
    priced-per-query rung). neardup_canonical_keep: the quality/label
    join is equi on doc_id, never cartesian/BNLJ."""
    p = _plan(spark, registry["ann_recall_at_k"].spark(spark, sf_dir))
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in p
    assert "CartesianProduct" not in p
    p2 = _plan(spark, registry["neardup_canonical_keep"].spark(spark, sf_dir), "simple")
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2


def test_bpe_and_countmin_single_corpus_scan(spark, sf_dir, registry):
    """bpe_merge_steps: the corpus feeds exactly one word-frequency
    aggregation which is localCheckpoint-ed — every merge round runs on
    vocab-sized data and the final plan carries NO parquet scan (r13:
    each round's 1-row best pair is collected as bounded model state and
    the merge table is a driver-local relation, so no crossJoin remains).
    countmin_heavy_hitters: the token-exact aggregation is checkpointed
    for the same reason (its subtree feeds both the cell aggregation and
    the probe join); the cells join is equi on (r, col). Both corpus
    subtrees prune the documents scan to text only."""
    from pyspark.sql import functions as F

    from data_ingestion_auto_spark.plans.helpers import T

    wf = T(spark, sf_dir, "documents").select(F.explode(F.split("text", " ")).alias("w"))
    assert "ReadSchema: struct<text:string>" in _plan(spark, wf)

    p = _plan(spark, registry["bpe_merge_steps"].spark(spark, sf_dir))
    assert p.count("Scan parquet") == 0, "corpus must not re-scan after word freq"
    assert "CartesianProduct" not in p

    p2 = _plan(spark, registry["countmin_heavy_hitters"].spark(spark, sf_dir))
    assert p2.count("Scan parquet") == 0, "corpus must not re-scan after token counts"
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2


def test_priority_sample_and_pmi_scale_shapes(spark, sf_dir, registry):
    """priority_weighted_sample: the sample side is TakeOrdered (top-k
    merge, no global Sort before the limit) over a scan pruned to
    (doc_id, n_chars); the tau/total sides are 1-row broadcasts (their
    cross joins are BNLJ by design and free). collocation_pmi_topk: the
    count tables are checkpointed so the final plan re-scans nothing;
    the unigram joins are equi; no CartesianProduct."""
    pri = registry["priority_weighted_sample"].spark(spark, sf_dir)
    pri_plan = _plan(spark, pri)
    # The top-(k+1) TakeOrdered ran at checkpoint time; what remains is
    # the 33-row ExistingRDD plus the exact-total subtree, whose scan
    # prunes to n_chars alone.
    assert "Scan ExistingRDD" in pri_plan
    assert "ReadSchema: struct<n_chars:bigint>" in pri_plan
    # count scans in simple mode — formatted mode prints each scan twice
    # (tree node + detail section)
    assert _plan(spark, pri, "simple").count("Scan parquet") == 1, (
        "only the exact-total scan remains"
    )
    assert "CartesianProduct" not in pri_plan

    p = _plan(spark, registry["collocation_pmi_topk"].spark(spark, sf_dir))
    assert p.count("Scan parquet") == 0, "count tables must be checkpointed"
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_export_pipeline_no_cartesian_text_stays_mapside(spark, sf_dir, registry):
    """training_export_pipeline: the canonical id set is checkpointed so
    the keep-first dedup's output — not text — feeds the later stages; the
    n-gram subtree re-derives from pruned (doc_id, text) scans (the
    decontamination_ngram_overlap shape); eval n-grams broadcast; no
    cartesian products anywhere."""
    p = _plan(spark, registry["training_export_pipeline"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", p)
    assert schemas and all(s == "struct<doc_id:bigint,text:string>" for s in schemas)


def test_incremental_dedup_equi_probe_no_cartesian(spark, sf_dir, registry):
    """incremental_lsh_dedup_assign: the index probe is an equi-join on
    (band, band_hash) — the bucketed-index co-location shape — with the
    batch/order predicate as a post-join filter, never a cartesian or
    BNLJ; the batch-side documents scan prunes to doc_id alone.
    batch_ngram_novelty: the corpus n-gram set joins on ng as a plain
    shuffle equi-join (it is corpus-sized — a broadcast hint here would
    be the unbounded-side mistake), scans pruned to (doc_id, text)."""
    p = _plan(spark, registry["incremental_lsh_dedup_assign"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ReadSchema: struct<doc_id:bigint>" in p

    p2 = _plan(spark, registry["batch_ngram_novelty"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", p2)
    assert schemas and all(s == "struct<doc_id:bigint,text:string>" for s in schemas)


def test_winnowing_is_one_mapside_projection(spark, sf_dir, registry):
    """winnowing_fingerprints: the whole k-gram -> window-argmin ->
    digest computation must stay inside projections over ONE pruned
    (doc_id, text) scan — no Generate (explode), no window function, no
    join, and the only exchanges are the final presentation sort's range
    partitioning plus (optimization r13) at most one round-robin
    scan-spread ahead of the projections when the input is a
    single-row-group file (helpers.spread — a no-op at real multi-file
    scale). This is the property that makes it scan-bound at 100 TB."""
    p = _plan(spark, registry["winnowing_fingerprints"].spark(spark, sf_dir))
    assert p.count("ReadSchema:") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    for op in ("Generate", "Window", "Join", "HashAggregate"):
        assert op not in p, op
    import re

    # formatted mode lists each node twice (tree + detail)
    n_exch = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_exch <= 2 and "rangepartitioning" in p
    if n_exch == 2:
        assert "roundrobin" in p.lower()  # the scan-spread, nothing else


def test_bm25_postings_shuffle_never_text(spark, sf_dir, registry):
    """bm25_topk_retrieval: the postings materialize once (checkpointed),
    so the final plan holds no text-bearing exchange — idf arrives as a
    tiny broadcast, the corpus scalars as a broadcast 1-row aggregate
    (the only allowed crossJoin shape), and the single remaining file
    scan is the scalars branch pruned to text only."""
    df = registry["bm25_topk_retrieval"].spark(spark, sf_dir)
    p = _plan(spark, df)
    assert "CartesianProduct" not in p
    assert p.count("ReadSchema:") == 1  # scalars branch; postings pre-materialized
    assert "ReadSchema: struct<text:string>" in p
    import re

    # idf (3 rows) + corpus scalars (1 row); formatted lists nodes twice
    assert len(re.findall(r"\(\d+\) BroadcastExchange\b", p)) == 2
    simple = _plan(spark, df, "simple")
    assert "BroadcastNestedLoopJoin" in simple  # the 1-row scalars crossJoin


def test_winnowing_match_pairs_lambdas_never_reach_a_scan(spark, sf_dir, registry):
    """winnowing_match_pairs must cut lineage at the fingerprint-set
    frame BEFORE the explode: without that cut, Generate's implicit
    size()>0 filter is pushed to the file scan with the whole winnowing
    lambda chain inlined (grams re-evaluated inside every window slice
    -> O(grams^2) md5 per document; measured 419 s vs 12 s on the
    zipf-1x fixture, SCALE.md). The pinned property: the final plan
    reads from checkpointed state — no parquet scan, no md5/transform
    lambda anywhere downstream."""
    p = _plan(spark, registry["winnowing_match_pairs"].spark(spark, sf_dir))
    # optimization r13: the cut frame is the memoized per-corpus winfp
    # parquet (corpus_winnowing_fpp) — the only scans allowed are memo
    # reads, and the winnowing gram/selection lambdas (md5 over sliced
    # grams) exist nowhere in the plan. The bounded per-row projection
    # of fps = distinct f of the STORED fpp array rightly remains.
    import re as _re

    for path in _re.findall(r"Location: \S*\[([^\]]*)\]", p):
        assert "spark_graft_winfp" in path, path
    # the winnowing gram/selection lambda chain always carries md5 (the
    # gram hash) and concat_ws (the gram constructor) — neither may
    # appear anywhere. `slice(` alone is no longer forbidden
    # (optimization r14): the per-bucket pair expansion is an in-row
    # transform over the ≤ cap-sized collected member array, whose
    # slice() is bounded combinatorics on aggregated state, not a
    # scan-side lambda.
    assert "md5(" not in p and "concat_ws(" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_prefix_filter_join_reads_checkpointed_sets_no_cartesian(
    spark, sf_dir, registry
):
    """prefix_filter_jaccard_join (round-13 memo contract): the VERIFIED
    pair table is the memoized per-corpus parquet, so the final plan is
    a bounded memo read — no documents scan, no explode, no join at
    all. The live construction is pinned on `_build_verified_pairs`:
    the ordered-set memo (round 11) serves its three readers (prefix
    explode + both verify sides), candidates come from an equi-join on
    the prefix token, never a cartesian."""
    from data_ingestion_auto_spark.plans.ppjoin import _build_verified_pairs

    p = _plan(spark, registry["prefix_filter_jaccard_join"].spark(spark, sf_dir))
    assert "spark_graft_ppjoin_pairs" in p  # the pair memo is the source
    assert "documents.parquet" not in p
    assert "Generate" not in p  # no prefix explode per query
    bp = _plan(spark, _build_verified_pairs(spark, sf_dir))
    assert "spark_graft_ppjoin_sets" in bp  # sets memo is the only source
    assert "documents.parquet" not in bp
    assert "concat_ws" not in bp  # shingle construction stays behind the memo
    assert "CartesianProduct" not in bp
    assert "BroadcastNestedLoopJoin" not in bp


def test_semdedup_hier_fine_centroids_joined_not_collected(spark, sf_dir, registry):
    """The deployment-regime SemDeDup's scale claims, pinned in the plan
    (round-12 memo contract): (a) the two-level k-means is BEHIND the
    per-corpus memo — the query plan reads the materialized assignment
    table instead of re-deriving centroids (no embeddings scan, no
    quantize lambda, no group_id training join); (b) no unbounded
    cartesian anywhere; (c) the live part — the dup-pair step — is an
    equi-join on the composite cluster_id, never all-pairs. The training
    plan itself (fine centroids joined on group_id, never collected) is
    pinned by tests/test_ivf.py on kmeans_grouped directly."""
    df = registry["semdedup_hier"].spark(spark, sf_dir)
    p = _plan(spark, df, "simple")
    assert "CartesianProduct" not in p
    assert "spark_graft_kmh_aug" in p  # reads the memoized model table
    assert "embeddings.parquet" not in p  # training stays behind the memo
    # dup pairs: an equi-join on the composite cluster id
    assert any("Join" in l and "cluster_id" in l for l in p.splitlines())


def test_prefix_bucket_stats_reads_checkpointed_sets(spark, sf_dir, registry):
    """The observability query must cost what the module claims: the
    same MEMOIZED ordered-set frame the join reads (no corpus scan, no
    shingle lambdas) folded by two hash aggregations — no join of any
    kind in the plan."""
    p = _plan(spark, registry["prefix_bucket_stats"].spark(spark, sf_dir))
    assert "spark_graft_ppjoin_sets" in p
    assert "documents.parquet" not in p
    assert "concat_ws" not in p
    assert "Join" not in p


def test_winnowing_match_spans_lambdas_never_reach_a_scan(spark, sf_dir, registry):
    """Same lineage-cut contract as winnowing_match_pairs: the
    (fingerprint, position) frame checkpoints BEFORE the explode, so the
    final plan reads checkpointed state only — no parquet scan, no md5
    winnowing lambda anywhere downstream, and candidates come from the
    capped fingerprint equi-join, never a cartesian. (The run-fold
    filter() lambdas over the bounded per-pair position arrays are the
    span machinery itself and rightly remain.)"""
    p = _plan(spark, registry["winnowing_match_spans"].spark(spark, sf_dir))
    # optimization r13: the (fingerprint, position) cut frame is the
    # memoized winfp parquet — only memo scans allowed, and no md5
    # winnowing lambda anywhere downstream of the explode.
    import re as _re

    for path in _re.findall(r"Location: \S*\[([^\]]*)\]", p):
        assert "spark_graft_winfp" in path, path
    assert "md5(" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_incremental_ann_assign_no_cartesian_lists_equijoined(spark, sf_dir, registry):
    """The incremental ANN plan's scale claims: the only nested-loop
    joins are broadcasts of the k-centroid model state (routing), and
    the candidate step is an equi-join on cluster_id against the corpus
    lists — never all-pairs, and never a distance between two corpus
    vectors."""
    df = registry["incremental_ann_assign"].spark(spark, sf_dir)
    p = _plan(spark, df, "simple")
    assert "CartesianProduct" not in p
    assert any("Join" in l and "cluster_id" in l for l in p.splitlines())


def test_cdc_chunk_queries_lambdas_never_reach_a_scan(spark, sf_dir, registry):
    """The CDC tier's memo contract (round 11): the chunk table is the
    MEMOIZED per-corpus parquet, so both registered queries' final plans
    scan only the memo — never the documents table — with no md5 chunker
    lambda anywhere. The dedup inventory is a pure hash aggregation (no
    join of any kind); the per-doc ratio adds exactly one hash-keyed
    equi-join (no cartesian)."""
    p1 = _plan(spark, registry["cdc_chunk_dedup"].spark(spark, sf_dir))
    assert "spark_graft_cdc_chunks" in p1
    assert "documents.parquet" not in p1
    assert "md5(" not in p1
    assert "Join" not in p1
    p2 = _plan(spark, registry["cdc_doc_dup_ratio"].spark(spark, sf_dir))
    assert "spark_graft_cdc_chunks" in p2
    assert "documents.parquet" not in p2
    assert "md5(" not in p2
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2


def test_source_overlap_matrix_bounded_fanout(spark, sf_dir, registry):
    """The provenance matrix reads the same MEMOIZED chunk table as the
    other CDC queries (no documents scan, no md5 chunker lambda) and its
    pair join is chash-keyed — per-chunk fan-out bounded by the number
    of SOURCES sharing it, never a cartesian."""
    p = _plan(spark, registry["source_overlap_matrix"].spark(spark, sf_dir))
    # optimization r14: the per-chash source arrays are cut once
    # (localCheckpoint over the memoized chunk scan), so the final plan
    # reads the cut (ExistingRDD) — the memo parquet is scanned at cut
    # time; either form proves no live chunker runs here
    assert "spark_graft_cdc_chunks" in p or "ExistingRDD" in p
    assert "documents.parquet" not in p
    assert "md5(" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ccnet_buckets_model_stays_in_the_shuffle(spark, sf_dir, registry):
    """The bucket query inherits the LM scorer's scale shape: the bigram
    model is joined on vocabulary keys (never collected), no cartesian
    anywhere, and the only window is the per-language ntile cut."""
    df = registry["ccnet_quality_buckets"].spark(spark, sf_dir)
    p = _plan(spark, df, "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") == 1


def test_neyman_allocation_single_scan_tiny_aggregates(spark, sf_dir, registry):
    """The strata aggregate checkpoints once (20 rows), so the weight
    projection and the 1-row normalizer both read the cut — the final
    plan holds NO parquet scan (the single corpus scan happened at
    checkpoint time), no window, no data-sized join."""
    p = _plan(spark, registry["neyman_allocation"].spark(spark, sf_dir))
    assert "Scan parquet" not in p
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_ks_drift_matrix_everything_after_the_cut_is_tiny(spark, sf_dir, registry):
    """The (source, length) count frame is the single corpus scan,
    checkpointed; the final plan reads only the cut — no parquet scan —
    and the only cross join is the broadcast sources × distinct-lengths
    grid (domain-bounded, never data-sized)."""
    p = _plan(spark, registry["ks_drift_matrix"].spark(spark, sf_dir))
    assert "Scan parquet" not in p
    assert "CartesianProduct" not in p


def test_simhash_neighbors_equijoin_reads_checkpointed_reps(spark, sf_dir, registry):
    """The Manku block join's scale shape: the representative-fingerprint
    frame is checkpointed AFTER the cap (the signature groupBy and the
    rank window both ran once, at ckpt time — no parquet scan, no md5
    lambda, no window downstream) and candidates come from an EQUI-join
    on (block, block_value) — no cartesian anywhere."""
    df = registry["simhash_hamming_neighbors"].spark(spark, sf_dir)
    p = _plan(spark, df)
    assert "Scan parquet" not in p
    assert "md5(" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p


def test_unigram_tvd_matrix_everything_after_the_cut_is_tiny(spark, sf_dir, registry):
    """The (source, token) count frame is the single corpus scan,
    checkpointed; the final plan reads only the cut — no parquet scan —
    the pair grid is a broadcast sources x sources nested loop
    (domain-bounded, never data-sized), and the shared-word join is a
    token-keyed equi-join of the tiny count frame with itself."""
    p = _plan(spark, registry["unigram_tvd_matrix"].spark(spark, sf_dir))
    assert "Scan parquet" not in p
    assert "CartesianProduct" not in p


def test_jl_projection_pushdown_and_bounded_pairs(spark, sf_dir, registry):
    """The JL query's scan reads only the bounded subset (vec_id < 100
    reaches the parquet scan as a pushed filter) and the pair expansion
    is the broadcast bounded-side nested loop the exact-oracle tier is
    allowed — the projection itself is pure codegen, no Python node."""
    p = _plan(spark, registry["jl_projection_distortion"].spark(spark, sf_dir))
    assert "LessThan(vec_id,100)" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_rendezvous_rebalance_mapside_pruned_scan(spark, sf_dir, registry):
    """The HRW matrix is one doc_id-pruned scan (8 bytes/row at any
    corpus) into map-side md5/greatest/CASE codegen and a <=72-group
    aggregate — no explode, no join, no window."""
    p = _plan(spark, registry["rendezvous_shard_rebalance"].spark(spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint>" in p
    assert "Generate" not in p and "Join" not in p and "Window" not in p


def test_boilerplate_blacklist_broadcasts_and_text_stays_mapside(
    spark, sf_dir, registry
):
    """The df blacklist is corpus-size-independent (<= grams-per-doc /
    0.005 entries) so its membership join must BROADCAST; raw text never
    shuffles (grams are md5-hashed before any exchange); the gram frame
    is checkpointed so the final plan reads the cut, not a re-scan of
    the corpus for the second pass."""
    p = _plan(spark, registry["boilerplate_ngram_mass"].spark(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "Exchange" in line:
            assert "text" not in line


def test_rrf_fusion_windows_on_candidate_pool_only(spark, sf_dir, registry):
    """RRF inherits BM25's scale shape: postings checkpointed once, idf
    and corpus scalars broadcast, and the ONLY windows are the two rank
    windows over the candidate pool (pool-sized, never corpus-sized);
    no cartesian beyond the broadcast 1-row scalar join."""
    df = registry["rrf_retrieval_fusion"].spark(spark, sf_dir)
    p = _plan(spark, df, "simple")
    assert p.count("Window") == 2
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "Exchange" in line:
            assert "text" not in line


def test_memoized_family_reads_parquet_not_recompute(spark, sf_dir, registry):
    """Round 11 memoization honesty pin: the CC/graph family must READ
    the materialized per-corpus tables, not silently re-derive the
    shingle→minhash→LSH pipeline per query. In the physical plan that
    means: a parquet scan of the spark_graft_* memo location, no
    shingle posexplode/Generate of document text, and no scan of the
    documents table's text column in queries that only join labels."""
    # queries whose plan reads the memo directly show its path; the
    # iterative ones (pagerank/kcore) cut lineage with ckpt() right after
    # the memo read, so for them the honest pin is Generate-absence
    p = _plan(spark, registry["neardup_components"].spark(spark, sf_dir))
    assert "spark_graft_" in p  # the memo parquet is the source
    for name in ("neardup_components", "neardup_pagerank", "neardup_kcore"):
        p = _plan(spark, registry[name].spark(spark, sf_dir))
        assert "Generate" not in p, name  # no shingle explode re-run
    # dup-source attribution still scans documents (for source), but its
    # pair side is the memo — text never enters an exchange
    p = _plan(spark, registry["source_dedup_burden"].spark(spark, sf_dir), "simple")
    assert "spark_graft_" in _plan(
        spark, registry["source_dedup_burden"].spark(spark, sf_dir)
    )
    for line in p.splitlines():
        if "Exchange" in line:
            assert "text" not in line


def test_sampling_tier_memoized_plans(spark, sf_dir, registry):
    """Round-13 memo contract for the sampling/planning tier
    (plans/sample_memo.py): per-query plans read the materialized
    per-corpus frames, never re-derive the md5 sample or the rank
    table.

    - hashed_sample_quantiles: estimate side reads the `lisamp` memo,
      the exact grading twin reads the `liexq` memo — NO lineitem scan
      anywhere in the per-query plan, and no full-corpus sort.
    - partition_plan_histogram: the boundary table comes from the
      `liedges` memo (collected at plan-build time, so the returned
      plan shows only the literal binary-search CASE); the one live
      scan is the full-corpus skew audit — no Window, no md5, exactly
      one lineitem scan, pruned to the two needed columns.
    - the extracted builders themselves read their memo parquet (not
      lineitem) once published.
    """
    from data_ingestion_auto_spark.plans.sample_memo import (
        lineitem_hash_sample,
        lineitem_plan_edges,
        lineitem_sample_ranked,
    )

    p = _plan(spark, registry["hashed_sample_quantiles"].spark(spark, sf_dir))
    assert "spark_graft_lisamp_" in p  # estimate side: memoized sample
    assert "spark_graft_liexq_" in p  # grading twin: memoized exact table
    assert "lineitem.parquet" not in p  # the corpus never rescans per query
    assert "CartesianProduct" not in p

    p = _plan(spark, registry["partition_plan_histogram"].spark(spark, sf_dir))
    assert p.count("lineitem.parquet") >= 1  # the live skew audit
    assert "Window" not in p  # rank machinery stays behind the memo
    assert "md5" not in p  # sampling stays behind the memo
    assert "ReadSchema: struct<l_orderkey:bigint>" in p  # fully pruned

    # builders are memo reads once published
    for builder, tag in (
        (lambda: lineitem_hash_sample(spark, sf_dir), "spark_graft_lisamp_"),
        (lambda: lineitem_sample_ranked(spark, sf_dir), "spark_graft_lisampr_"),
        (lambda: lineitem_plan_edges(spark, sf_dir, 32), "spark_graft_liedges32_"),
    ):
        bp = _plan(spark, builder())
        assert tag in bp
        assert "lineitem.parquet" not in bp


# Exchange count of each query whose best-row site became `top1`,
# measured on the row_number-window plans it replaced.
_TOP1_PORT_EXCHANGES = {
    "dedup_keep_first": 2,
    "q2_min_cost_supplier": 4,
    "mosaic_overlay": 2,
    "top_ngram_char_fraction": 3,
    "training_export_pipeline": 6,
}


@pytest.mark.parametrize("name", sorted(_TOP1_PORT_EXCHANGES))
def test_top1_ports_leave_no_best_row_window(spark, sf_dir, registry, monkeypatch, name):
    """The best-row site is a partial-aggregable `top1`, not a window,
    and costs no more exchanges than the window did. The export
    pipeline's dedup sits behind a checkpoint, which is bypassed here so
    the plan shows it; its one remaining Window is the packing
    running-sum."""
    import re

    from data_ingestion_auto_spark.plans import export_pipeline

    monkeypatch.setattr(export_pipeline, "ckpt", lambda df: df)
    p = _plan(spark, registry[name].spark(spark, sf_dir))
    n_windows = len(re.findall(r"\(\d+\) Window\b", p))
    assert n_windows == (1 if name == "training_export_pipeline" else 0), p
    n_exch = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_exch <= _TOP1_PORT_EXCHANGES[name], p

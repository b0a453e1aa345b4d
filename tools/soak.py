"""Scale soak (round-4 verdict #3): run the scale-critical ladder at a
derived larger SF (see tools/make_scale_fixture.py) and at sf0.1 on the
SAME host/session, and report per-query wall time plus the scaling ratio
normalized by input rows — the pass bar is "no query exceeds linear
scaling by more than 2x", plus connected-components convergence in the
expected O(log diameter) rounds with per-round state on disk.

Usage: python tools/soak.py [target_sf_dir] [query ...]
       (default target .scratch/sf1, default queries = the ladder below)

Prints one JSON line per (sf, query) and a final summary line; paste the
numbers into SCALE.md.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LADDER = [
    "neardup_components",
    "chunk_minhash_neardup",
    "decontamination_ngram_overlap",
    "sequence_packing_bins",
    "q9_product_type_profit",
    "neardup_levenshtein_confirm",
    "exact_substring_dedup_spans",
    "semdedup_kscaled",
    "semdedup_hier",
]

# which input table's row count normalizes each query's scaling ratio
DRIVER_TABLE = {
    "neardup_components": "documents",
    "chunk_minhash_neardup": "documents",
    "decontamination_ngram_overlap": "documents",
    "sequence_packing_bins": "documents",
    "q9_product_type_profit": "lineitem",
    "neardup_levenshtein_confirm": "documents",
    "exact_substring_dedup_spans": "documents",
    "semdedup_kscaled": "embeddings",
    "semdedup_hier": "embeddings",
    # round-6 corpus-scan tier (not in the default ladder; pass on the
    # command line to soak them)
    "bpe_merge_steps": "documents",
    "countmin_heavy_hitters": "documents",
    "collocation_pmi_topk": "documents",
    "priority_weighted_sample": "documents",
    "incremental_lsh_dedup_assign": "documents",
    "training_export_pipeline": "documents",
    # round-7 skew-soak additions
    "suffix_repeat_spans": "documents",
    # round-9: unbounded-document prefix-doubling variant
    "suffix_repeat_spans_unbounded": "documents",
    # round-9: embedding tier under skewed cluster sizes (zipf --zipf
    # fixtures now draw embeddings from a Zipf-weighted mixture: head
    # cluster ~30% of vectors)
    "semdedup_clusters": "embeddings",
    "hierarchical_kmeans_assign": "embeddings",
    "ivfpq_adc_topk": "embeddings",
    "source_capped_sample": "documents",
    "unimax_epoch_mixture": "documents",
    "hashed_linear_classifier_scores": "documents",
    "ccnet_quality_buckets": "documents",
    "neyman_allocation": "documents",
    "ks_drift_matrix": "documents",
    "token_gini_concentration": "documents",
    "label_centroid_similarity": "embeddings",
    "exact_substring_cut": "documents",
    "ann_filtered_lsh": "embeddings",
    "incremental_ann_assign": "embeddings",
    "incremental_ann_kscaled": "embeddings",
    # round-12: memoized-model family (plans/ann_memo.py)
    "pq_adc_topk": "embeddings",
    "ann_ivf_probe": "embeddings",
    "neardup_pagerank": "documents",
    "neardup_clustering_coefficient": "documents",
    "dedup_savings_forecast": "documents",
    "source_dedup_burden": "documents",
    "kmv_set_operations": "orders",
    "funnel_conversion": "events",
    "event_markov_transitions": "events",
    "hashed_sample_quantiles": "lineitem",
    "split_leakage_audit": "documents",
    # round-9 retrieval classics
    "bm25_topk_retrieval": "documents",
    "winnowing_fingerprints": "documents",
    # round-9 leakage remediation (CC-bound, like neardup_components)
    "group_aware_split_assign": "documents",
    "winnowing_match_pairs": "documents",
    "winnowing_match_spans": "documents",
    "prefix_filter_jaccard_join": "documents",
    "prefix_bucket_stats": "documents",
    "cdc_chunk_dedup": "documents",
    "cdc_doc_dup_ratio": "documents",
    "source_overlap_matrix": "documents",
    "lsh_scurve_calibration": "documents",
    "bpe_encode_token_budget": "documents",
    # round-10 simhash neighbor join (Manku block decomposition)
    "simhash_hamming_neighbors": "documents",
    "unigram_tvd_matrix": "documents",
    "neardup_kcore": "documents",
    "boilerplate_ngram_mass": "documents",
    "incremental_cdc_assign": "documents",
    "token_shift_topk": "documents",
    "vocab_growth_profile": "documents",
    "lang_source_association": "documents",
    "trimmed_mean_length": "documents",
    "ams_f2_estimate": "documents",
    "rrf_retrieval_fusion": "documents",
    "ranking_kendall_tau": "documents",
    "group_aware_kfold": "documents",
    "jl_projection_distortion": "embeddings",
    "rendezvous_shard_rebalance": "documents",
    "partition_plan_histogram": "lineitem",
    "fk_integrity_audit": "lineitem",
}


def _semdedup_kscaled(spark, sf_dir):
    """SemDeDup in the paper's deployment regime (round-5 verdict #3):
    k ∝ corpus size (k = 8 at the 2000-vector sf0.1 baseline), so the
    expected cluster size — and with it the within-cluster quadratic pair
    work — stays constant as the corpus grows. The registered
    ``semdedup_clusters`` pins k=8 because its unrolled-CTE oracle must
    be finite; this harness path exercises the k-scaling rule itself."""
    from data_ingestion_auto_spark.plans.semdedup import semdedup_with_k

    n = _rows(spark, sf_dir, "embeddings")
    k = max(8, round(8 * n / 2000))
    return semdedup_with_k(spark, sf_dir, k=k)


def _semdedup_hier(spark, sf_dir):
    """SemDeDup with HIERARCHICAL (two-level) k-means at the same
    k ∝ corpus as _semdedup_kscaled: assignment cost n·O(√k) instead of
    flat n·k — the regime for k in the tens of thousands, where flat
    assignment is quadratic total work. Since round 10 this drives the
    REGISTERED plan function (``semdedup_hier`` pins k=9 for its finite
    unrolled-CTE oracle; this harness path exercises the k-scaling rule
    on the exact same code)."""
    from data_ingestion_auto_spark.plans.semdedup import semdedup_hier_with_k

    n = _rows(spark, sf_dir, "embeddings")
    k = max(8, round(8 * n / 2000))
    return semdedup_hier_with_k(spark, sf_dir, k=k)


def _incremental_ann_kscaled(spark, sf_dir):
    """Incremental ANN in the IVF deployment regime: k ∝ corpus so
    probed-list size stays constant as the corpus grows (the registered
    ``incremental_ann_assign`` pins k=8 for its finite unrolled-CTE
    oracle; this drives the SAME plan function at scale-true k)."""
    from data_ingestion_auto_spark.plans.ann_incremental import incremental_ann_with_k

    n = _rows(spark, sf_dir, "embeddings")
    k = max(8, round(8 * n / 2000))
    return incremental_ann_with_k(spark, sf_dir, k=k)


def _run_once(spark, name: str, sf_dir: str) -> tuple[float, float]:
    """Returns (total seconds, memo-build seconds INCLUDED in the total).
    Memo-aware since round 12: the per-corpus memo tables (CC / CDC /
    SSJoin / k-means models) amortize one build across their consumers,
    so the first soaked query per family pays the build — the scaling
    ratio must be computed on the WARM portion, and the build cost
    reported on its own line (it has its own, separately-read scaling)."""
    from data_ingestion_auto_spark import plans
    from data_ingestion_auto_spark.memo import MEMO_BUILD_LOG

    n0 = len(MEMO_BUILD_LOG)
    t0 = time.perf_counter()
    if name == "semdedup_kscaled":
        df = _semdedup_kscaled(spark, sf_dir)
    elif name == "semdedup_hier":
        df = _semdedup_hier(spark, sf_dir)
    elif name == "incremental_ann_kscaled":
        df = _incremental_ann_kscaled(spark, sf_dir)
    else:
        df = plans.REGISTRY[name].spark(spark, sf_dir)
    try:
        df.write.mode("overwrite").format("noop").save()
    except Exception:  # noqa: BLE001 — noop sink unavailable
        df.collect()
    dt = time.perf_counter() - t0
    memo = sum(t for _, t in MEMO_BUILD_LOG[n0:])
    return dt, memo


def _rows(spark, sf_dir: str, table: str) -> int:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).count()


def _cc_rounds(spark, sf_dir: str) -> dict:
    """Drive the CC operator directly with an explicit checkpoint dir so
    the per-round parquet state survives for inspection: the number of
    labels_<k> dirs is the number of propagation rounds executed."""
    from data_ingestion_auto_spark.operators import dedup as D
    from data_ingestion_auto_spark.sources.tables import load_table

    ckpt = os.path.join(REPO, ".scratch", "cc_soak_state")
    shutil.rmtree(ckpt, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signature(D.shingles(docs), num_perm=16)
    pairs = D.lsh_candidates(sig, bands=4, rows_per_band=4)
    n_pairs = pairs.count()
    t0 = time.perf_counter()
    comp = D.connected_components(pairs, checkpoint_dir=ckpt)
    n_nodes = comp.count()
    dt = time.perf_counter() - t0
    rounds = len(glob.glob(os.path.join(ckpt, "labels_*"))) - 1  # labels_0 is init
    n_components = comp.select("component").distinct().count()
    shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "lsh_pairs": n_pairs,
        "cc_nodes": n_nodes,
        "cc_components": n_components,
        "cc_rounds": rounds,
        "cc_sec": round(dt, 2),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--cold"]
    target = args[0] if args else os.path.join(REPO, ".scratch", "sf1")
    if "--cold" in sys.argv:
        # drop the published memos for BOTH corpora this soak touches so
        # both pay (and report) their one-time build this run — the
        # honest cold measurement. Scoped by corpus key (ADVICE r12):
        # the memo root is shared; unrelated corpora's memos must
        # survive a soak's cold-clear.
        from data_ingestion_auto_spark.memo import clear_corpus

        for corpus in {target, os.environ.get("SPARK_SOAK_BASE", "/root/testdata/sf0.1")}:
            clear_corpus(corpus)
    queries = args[1:] or LADDER
    from data_ingestion_auto_spark.session import get_session

    spark = get_session("soak")
    # base for the per-10x ratio: override with SPARK_SOAK_BASE when the
    # target's generative process differs from the driver fixture (e.g.
    # the --zipf skew fixtures must compare zipf-1x vs zipf-10x, not
    # uniform-vs-zipf).
    base = os.environ.get("SPARK_SOAK_BASE", "/root/testdata/sf0.1")
    # warm-up primes JVM/codegen so the base-vs-target ratio is fair —
    # always against the driver fixture (an overridden base dir may carry
    # only documents/embeddings, not the relational tables)
    _run_once(spark, "q9_product_type_profit", "/root/testdata/sf0.1")

    # only the driver tables of the REQUESTED queries — an overridden
    # base/target dir may carry only documents/embeddings
    needed = {DRIVER_TABLE[q] for q in queries} | {"documents"}
    table_rows = {
        sf: {t: _rows(spark, sf, t) for t in needed}
        for sf in (base, target)
    }
    results: dict[str, dict[str, tuple[float, float]]] = {}
    for sf in (base, target):
        for name in queries:
            dt, memo = _run_once(spark, name, sf)
            results.setdefault(name, {})[sf] = (dt, memo)
            rec = {"sf_dir": sf, "query": name, "sec": round(dt, 2)}
            if memo > 0:
                rec["memo_build_sec"] = round(memo, 2)
            print(json.dumps(rec), flush=True)

    cc = {sf: _cc_rounds(spark, sf) for sf in (base, target)}
    for sf, d in cc.items():
        print(json.dumps({"sf_dir": sf, "cc": d}), flush=True)

    summary = {}
    worst = 0.0
    memo_total = {base: 0.0, target: 0.0}
    for name in queries:
        (t_b, m_b), (t_t, m_t) = results[name][base], results[name][target]
        memo_total[base] += m_b
        memo_total[target] += m_t
        table = DRIVER_TABLE[name]
        scale = table_rows[target][table] / table_rows[base][table]
        # the ratio measures the WARM (steady-state) plan; memo builds are
        # one-time per corpus version and scale on their own line below.
        # 0.05 s floor: a fully-memoized consumer's warm read can be
        # sub-noise, and a ~0/~0 division says nothing about scaling.
        warm_b, warm_t = max(t_b - m_b, 0.05), max(t_t - m_t, 0.05)
        ratio = (warm_t / warm_b) / scale  # 1.0 == perfectly linear
        summary[name] = {
            "base_sec": round(t_b, 2),
            "target_sec": round(t_t, 2),
            "rows_scale": round(scale, 2),
            "linear_ratio": round(ratio, 2),
        }
        if m_b > 0 or m_t > 0:
            summary[name]["memo_build_sec"] = {
                "base": round(m_b, 2),
                "target": round(m_t, 2),
            }
        worst = max(worst, ratio)
    print(
        json.dumps(
            {
                "summary": summary,
                "worst_linear_ratio": round(worst, 2),
                "pass_linear_2x": worst <= 2.0,
                "memo_build_total_sec": {
                    "base": round(memo_total[base], 2),
                    "target": round(memo_total[target], 2),
                },
                "cc_rounds": {sf: d["cc_rounds"] for sf, d in cc.items()},
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()

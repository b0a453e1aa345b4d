"""Incremental ANN assignment — search an arriving embedding batch
against the existing corpus's IVF index WITHOUT re-clustering the corpus
(round-9 verdict #5: the embedding twin of `incremental_lsh_dedup_assign`).

This is the shape a 100 TB vector ingest actually runs: the corpus's
IVF index (assignments bucketed on cluster_id + k×dim frozen centroids)
is a stored table; each new batch quantizes ITS vectors only, routes
them through the broadcast centroids to nprobe nearest lists, and ADCs
against the stored list members alone. Old-vs-old distances are never
computed — per-ingest work is O(batch·k) routing + O(probed-list rows),
independent of corpus size outside the probed lists.

Fixture mapping: the "new batch" is the deterministic ~25% of vectors
whose md5(vec_id) starts with hex 0-3 (the same SF-independent split
rule as the LSH twin); the corpus is everything else. The Spark plan
trains k-means-lite on the corpus inline because the fixture ships no
stored index — the driver-held centroid rows stand in for the
materialized `{table}_centroids`. The real stored path exists too:
`operators/ivf.py::write_ivf_index` materializes assignments bucketed
on cluster_id plus the centroid table, `probe_ivf_index` searches a
batch with ZERO Exchange on the index side, and `append_to_ivf_index`
adds routed batch rows under the frozen centroids (the Faiss
add-after-train contract) — machine-pinned against a non-bucketed
control copy, with result equality to the inline re-run, in
tests/test_ivf_index.py.

The DuckDB oracle unrolls the corpus-side k-means exactly as
`ann_ivf_probe`'s does (the fixed-iteration integer quantizer is
finitely unrollable), then replays the nprobe routing and the
quantized-cosine top-k bit-for-bit.

Reference scope: the reference engine has no ANN tier at all; this
extends the LLM-pipeline similarity ladder (COVERAGE.md).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalars import md5_quarter
from .helpers import T
from .registry import query
from .semdedup import _KM_CTES

_NEW = md5_quarter("CAST(vec_id AS STRING)", oracle=True)  # batch membership
_NPROBE = 2
_TOPK = 3

_Q = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))"


@query(
    "incremental_ann_assign",
    oracle=f"""
WITH qv AS (
  SELECT vec_id, {_Q} AS qvec
  FROM embeddings
  WHERE NOT {_NEW}
),{_KM_CTES},
nq AS (
  SELECT vec_id AS query_id, {_Q} AS qq
  FROM embeddings
  WHERE {_NEW}
),
pc AS (
  SELECT query_id, qq, cluster_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2, cluster_id) AS rn FROM (
      SELECT q.query_id, q.qq, c.cluster_id,
             list_sum(list_transform(generate_series(1, len(q.qq)),
                      i -> (q.qq[i] - c.cvec[i]) * (q.qq[i] - c.cvec[i]))) AS dist2
      FROM nq q CROSS JOIN c2 c)
  ) WHERE rn <= {_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS cand_id,
         round(CAST(list_sum(list_transform(generate_series(1, len(p.qq)),
                    i -> p.qq[i] * a.qvec[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(p.qq, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(a.qvec, x -> x * x)) AS DOUBLE))), 6) AS cosine
  FROM a3 a JOIN pc p USING (cluster_id)
)
SELECT query_id, cand_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM cand
) WHERE rank <= {_TOPK}
ORDER BY query_id, rank
""",
    tags=("similarity", "ann", "ivf", "incremental", "embedding", "llm"),
)
def incremental_ann_assign(spark, sf_dir):
    """Per new-batch vector: its top-{_TOPK} nearest CORPUS vectors under
    the corpus's frozen IVF quantizer (k=8, 2 Lloyd iterations on the
    corpus split only; nprobe={_NPROBE} routing; exact quantized cosine,
    ties to smaller cand_id). Output: (query_id, cand_id, cosine, rank).
    See module docstring for the stored-index production mapping.

    k=8 here is the ORACLE's k (the unrolled-CTE k-means must be
    finite). With k pinned, probed-list size grows with the corpus —
    batch·list work is the Θ(n²/k) trend its zipf soak shows (SCALE.md
    round 10). The deployment regime is standard IVF sizing, k ∝ corpus
    (constant expected list size): ``tools/soak.py`` drives THIS SAME
    function (``incremental_ann_with_k``) at k = 8·n_corpus/1500."""
    return incremental_ann_with_k(spark, sf_dir, k=8)


def incremental_ann_with_k(spark, sf_dir, k: int):
    """The k-parameterized incremental-ANN plan ``incremental_ann_assign``
    pins at k=8 for its oracle; the k ∝ corpus path keeps probed lists
    constant-sized as the corpus grows (the IVF deployment contract —
    Faiss sizes nlist ≈ n/target_list_size for exactly this reason)."""
    from ..operators.ivf import _DIST2, quantize
    from .ann_memo import kml_model

    emb = T(spark, sf_dir, "embeddings")
    is_new = F.expr(md5_quarter("CAST(vec_id AS STRING)"))
    batch = emb.filter(is_new)
    # corpus-side quantizer: the FROZEN stored model — assignments (the
    # inverted lists) and centroids are MEMOIZED per corpus version
    # (plans/ann_memo.py, round-12), exactly the `write_ivf_index`
    # materialization this query's module docstring maps to
    assigned, centroids = kml_model(
        spark,
        sf_dir,
        "ivfcorpus",
        lambda: T(spark, sf_dir, "embeddings").filter(~is_new),
        k=k,
    )
    q = quantize(batch).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qq")
    )
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "dist2", F.expr(_DIST2.format(a="qq", b="cvec"))
    )
    wq = W.partitionBy("query_id").orderBy("dist2", "cluster_id")
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NPROBE)
        .select("query_id", "qq", "cluster_id")
        # EXPLICIT repartition (AQE never coalesces a user-fixed count,
        # round-12 soak catch): when the stored lists are small enough to
        # broadcast, THIS becomes the streamed side of the candidate
        # join, and AQE's coalesce of the window shuffle (a few thousand
        # tiny rows → 1 partition) would run the entire probed-list
        # expansion — 25M cosine rows at zipf-10× — in a single task.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dot = "aggregate(zip_with(qq, qvec, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    nrm = "aggregate({v}, 0L, (acc, x) -> acc + x * x)"
    cand = assigned.join(probes, "cluster_id").select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(
            F.expr(dot)
            / (F.sqrt(F.expr(nrm.format(v="qq"))) * F.sqrt(F.expr(nrm.format(v="qvec")))),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "cand_id", "cosine", F.col("rank").cast("int").alias("rank"))
        .orderBy("query_id", "rank")
    )

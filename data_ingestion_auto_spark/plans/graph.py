"""PageRank over the near-duplicate graph — graph analytics as a
curation signal: a document whose near-dup neighborhood is large and
well-connected (boilerplate families, mirror farms) concentrates rank,
which is exactly the cohort a curation pass down-weights. Complements
`neardup_components` (which labels the families) with a CENTRALITY
score inside them.

Determinism: the classic PageRank iteration in EXACT integer
micro-units — pr₀ = 1,000,000 per node; each round every node sends
pr div deg to each neighbor (BIGINT truncating division, identical in
both engines on non-negative values) and receives
pr' = 150,000 + (85 · Σ contributions) div 100 — the d = 0.85 damped
update with all arithmetic in integers, so three unrolled rounds are
bit-identical in Spark and DuckDB (the kmeans/BPE finite-unroll oracle
pattern). The undirected LSH-candidate graph has no dangling nodes by
construction (every node is incident to a pair).

At 100 TB: per round = one groupBy on the destination key over the
edge list with map-side partial sums — the textbook message-passing
join (edges ⋈ ranks on source, aggregate on destination), linear in
edges per round, O(fixed rounds). Same plan family as
connected_components' label propagation; ranks are integers so no
float-order nondeterminism across partitions.

Reference scope: LLM-pipeline tier (COVERAGE.md) — the reference has
no graph analytics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import md5_hex_int, md5_hex_int_sql
from .dedup import _SQL_CC_LABELS, _SQL_SHINGLES, corpus_lsh_pairs
from .helpers import T
from .registry import query
from ..checkpoints import ckpt

_ROUNDS = 3
_TOPN = 50

_SQL_LSH_PAIRS = f"""
{_SQL_SHINGLES.format(where="")},
perms AS (SELECT doc_id, shingle, unnest(generate_series(0, 15)) AS perm FROM sh),
sig AS (
  SELECT doc_id, perm, min(md5(concat(perm, '|', shingle))) AS minhash
  FROM perms GROUP BY 1, 2
),
banded AS (
  SELECT doc_id, CAST(perm // 4 AS INTEGER) AS band,
         md5(string_agg(minhash, '|' ORDER BY perm)) AS band_hash
  FROM sig GROUP BY doc_id, CAST(perm // 4 AS INTEGER)
),
capped AS (
  SELECT doc_id, band, band_hash FROM (
    SELECT doc_id, band, band_hash,
           row_number() OVER (PARTITION BY band, band_hash ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn <= 1000
),
pairs AS (
  SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
  FROM capped b1 JOIN capped b2
    ON b1.band = b2.band AND b1.band_hash = b2.band_hash AND b1.doc_id < b2.doc_id
)"""


def _sql_round(k: int) -> str:
    prev = "pr0" if k == 1 else f"it{k - 1}"
    return f"""
it{k} AS (
  SELECT e.v AS u,
         CAST(150000 + (85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr
  FROM edges e
  JOIN {prev} p ON e.u = p.u
  JOIN deg d ON e.u = d.u
  GROUP BY e.v
)"""


@query(
    "neardup_pagerank",
    oracle=f"""
WITH {_SQL_LSH_PAIRS},
edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u),
pr0 AS (SELECT u, CAST(1000000 AS BIGINT) AS pr FROM deg),
{",".join(_sql_round(k) for k in range(1, _ROUNDS + 1))}
SELECT it{_ROUNDS}.u AS doc_id, deg.deg, it{_ROUNDS}.pr AS pagerank_micro
FROM it{_ROUNDS} JOIN deg ON it{_ROUNDS}.u = deg.u
ORDER BY pagerank_micro DESC, doc_id
LIMIT {_TOPN}
""",
    tags=("graph", "pagerank", "dedup", "llm", "iterative"),
)
def neardup_pagerank(spark, sf_dir):
    """Top-{_TOPN} documents by damped PageRank (3 integer-exact rounds,
    micro-units) over the undirected MinHash-LSH candidate graph, with
    degree riding along — the centrality-inside-boilerplate-families
    curation signal. Finite unroll makes the iterative algorithm fully
    oracle-checkable (see module docstring)."""
    # memoized canonical pair list (plans/dedup.py::corpus_lsh_pairs):
    # already a materialized parquet, so no ckpt needed
    pairs = corpus_lsh_pairs(spark, sf_dir)
    edges = ckpt(
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
    )
    deg = ckpt(edges.groupBy("u").agg(F.count("*").cast("bigint").alias("deg")))
    pr = deg.select("u", F.lit(1000000).cast("bigint").alias("pr"))
    for _ in range(_ROUNDS):
        contrib = (
            edges.join(pr, "u")
            .join(deg, "u")
            .select("v", F.expr("pr div deg").alias("c"))
        )
        pr = ckpt(
            contrib.groupBy("v")
            .agg(
                F.expr("CAST(150000 + (85 * sum(c)) div 100 AS BIGINT)").alias("pr")
            )
            .select(F.col("v").alias("u"), "pr")
        )
    return (
        pr.join(deg, "u")
        .select(F.col("u").alias("doc_id"), "deg", F.col("pr").alias("pagerank_micro"))
        .orderBy(F.desc("pagerank_micro"), "doc_id")
        .limit(_TOPN)
    )


@query(
    "split_leakage_audit",
    oracle=f"""
WITH {_SQL_LSH_PAIRS},
assign AS (
  SELECT doc_id,
         CASE WHEN h < 13 THEN 'train' WHEN h < 14 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id, {md5_hex_int_sql("CAST(doc_id AS STRING)", 1, start=2)} AS h
    FROM documents
  )
),
straddle AS (
  SELECT sa.split AS split_a, sb.split AS split_b, CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs p
  JOIN assign sa ON p.a = sa.doc_id
  JOIN assign sb ON p.b = sb.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM assign GROUP BY 1)
SELECT s.split_a, s.split_b, s.n_pairs,
       za.n_docs AS n_docs_a, zb.n_docs AS n_docs_b,
       (s.split_a <> s.split_b) AS is_leakage
FROM straddle s
JOIN sizes za ON s.split_a = za.split
JOIN sizes zb ON s.split_b = zb.split
ORDER BY s.split_a, s.split_b
""",
    tags=("dedup", "splits", "leakage", "llm", "audit"),
)
def split_leakage_audit(spark, sf_dir):
    """Train/val/test split LEAKAGE audit — the eval-integrity check a
    pipeline runs before shipping splits: assign every document a split
    by a deterministic hash (second md5 nibble: 13/16 train, 1/16 val,
    2/16 test — content-independent, so near-dups do NOT automatically
    co-locate), then count near-dup candidate pairs by (split_a,
    split_b). Off-diagonal rows ARE the leakage: a test document whose
    near-duplicate sits in train inflates eval scores exactly like
    benchmark contamination. The fix this audit motivates is
    group-aware splitting (assign by the canonical id from
    `neardup_canonical_keep` instead of the raw doc_id) — this query is
    the measurement that makes that decision.

    At 100 TB: split assignment is a map-only projection; the audit
    joins the (dup-density-bounded) candidate pair set against it —
    two hash joins and a tiny groupBy, no new scan of text."""
    docs = T(spark, sf_dir, "documents")
    # memoized canonical pair list (plans/dedup.py::corpus_lsh_pairs):
    # already a materialized parquet, so no ckpt needed
    pairs = corpus_lsh_pairs(spark, sf_dir)
    h = F.expr(md5_hex_int("CAST(doc_id AS STRING)", 1, start=2))
    assign = docs.select(
        "doc_id",
        F.when(h < 13, "train").when(h < 14, "val").otherwise("test").alias("split"),
    )
    assign = ckpt(assign)
    sizes = assign.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    sa = assign.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a"))
    sb = assign.select(F.col("doc_id").alias("b"), F.col("split").alias("split_b"))
    straddle = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )
    za = sizes.select(F.col("split").alias("split_a"), F.col("n_docs").alias("n_docs_a"))
    zb = sizes.select(F.col("split").alias("split_b"), F.col("n_docs").alias("n_docs_b"))
    return (
        straddle.join(F.broadcast(za), "split_a")
        .join(F.broadcast(zb), "split_b")
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            "n_docs_a",
            "n_docs_b",
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
        )
        .orderBy("split_a", "split_b")
    )


_SPLIT_RULE = """CASE WHEN h < 13 THEN 'train' WHEN h < 14 THEN 'val' ELSE 'test' END"""


@query(
    "group_aware_split_assign",
    oracle=f"""
WITH RECURSIVE
{_SQL_SHINGLES.format(where="")},{_SQL_CC_LABELS},
grouped AS (
  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS group_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
),
hashed AS (
  SELECT doc_id, group_id,
         {md5_hex_int_sql("CAST(group_id AS STRING)", 1, start=2)} AS h,
         {md5_hex_int_sql("CAST(doc_id AS STRING)", 1, start=2)} AS hn
  FROM grouped
)
SELECT doc_id, group_id,
       {_SPLIT_RULE} AS split,
       {_SPLIT_RULE.replace("h <", "hn <")} AS naive_split,
       ({_SPLIT_RULE} <> {_SPLIT_RULE.replace("h <", "hn <")}) AS moved
FROM hashed
ORDER BY doc_id
""",
    tags=("dedup", "splits", "leakage", "llm", "curation"),
)
def group_aware_split_assign(spark, sf_dir):
    """Group-aware train/val/test assignment — the REMEDIATION
    `split_leakage_audit` motivates: hash the near-dup GROUP id (the
    connected-component canonical from `neardup_components`; singletons
    group as themselves) through the same 13/1/2-nibble split rule, so
    every near-duplicate family lands in ONE split and the audit's
    off-diagonal counts are zero BY CONSTRUCTION — candidate pairs only
    exist within a component, and a component has exactly one split.
    tests/test_splits.py proves both directions on the fixture: the
    naive doc_id assignment leaks (off-diagonal pairs > 0) and this
    assignment does not (zero straddling pairs). Output is the per-doc
    assignment with the naive split and a `moved` flag — the migration
    delta a pipeline would ship.

    At 100 TB: component labels are dup-density-bounded (≪ corpus) and
    left-join back on doc_id; the split itself is a map-only projection
    — no work beyond the CC pass the dedup pipeline already ran."""
    from .dedup import corpus_components

    docs = T(spark, sf_dir, "documents")
    comp = corpus_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("component").alias("component")
    )
    grouped = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("group_id", F.coalesce("component", "doc_id"))
    )

    def nib(col):
        return F.expr(md5_hex_int(f"CAST({col} AS STRING)", 1, start=2))

    def rule(h):
        return F.when(h < 13, "train").when(h < 14, "val").otherwise("test")

    g, n = rule(nib("group_id")), rule(nib("doc_id"))
    return grouped.select(
        "doc_id",
        "group_id",
        g.alias("split"),
        n.alias("naive_split"),
        (g != n).alias("moved"),
    ).orderBy("doc_id")


@query(
    "neardup_clustering_coefficient",
    oracle=f"""
WITH {_SQL_LSH_PAIRS},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.b
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
),
tnode AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs
  ) GROUP BY node
)
SELECT d.node AS doc_id, d.deg, coalesce(t.n_tri, 0) AS n_triangles,
       CASE WHEN d.deg < 2 THEN 0.0
            ELSE CAST(2 * coalesce(t.n_tri, 0) AS DOUBLE)
                 / (d.deg * (d.deg - 1)) END AS lcc
FROM deg d LEFT JOIN tnode t ON d.node = t.node
ORDER BY doc_id
""",
    tags=("dedup", "graph", "clustering", "llm"),
)
def neardup_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient (Watts & Strogatz 1998) per node of
    the LSH near-dup candidate graph: degree, per-node triangle count
    (each ordered triangle credits all three corners), and
    lcc = 2·tri / (deg·(deg−1)) — one IEEE division of exact BIGINTs,
    deg<2 nodes fixed at 0. The edge-quality readout the dedup verifier
    tier routes on: lcc ≈ 1 neighborhoods are cliques (mirror families —
    collapse with confidence, skip pairwise verification), low-lcc hubs
    are LSH collision stars (verify before merging). Complements the
    global `neardup_triangles` enumeration and `neardup_pagerank`
    centrality with the per-node density view.

    Scale: triangle cost is bounded by the capped candidate graph
    (sparse by LSH construction), never corpus size; the pair list is
    the memoized per-corpus parquet (corpus_lsh_pairs), read by the
    three-way self-join, the degree fold, and the corner explode."""
    # memoized canonical pair list (plans/dedup.py::corpus_lsh_pairs):
    # already a materialized parquet, so no ckpt needed
    pairs = corpus_lsh_pairs(spark, sf_dir)
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")
    tnode = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
    )
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionAll(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    return (
        deg.join(tnode, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            "deg",
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(F.col("deg") < 2, F.lit(0.0))
            .otherwise(
                (F.coalesce("n_tri", F.lit(0)).cast("double") * 2)
                / (F.col("deg") * (F.col("deg") - 1))
            )
            .alias("lcc"),
        )
        .orderBy("doc_id")
    )


_KCORE_K = 3
_KCORE_ROUNDS = 10  # measured convergence: 7 rounds at sf0.1 AND zipf-10x


def kcore_survivors(pairs, k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS):
    """Batagelj–Zaversnik-style k-core peeling over an undirected pair
    list, as a FIXED number of synchronized peel rounds: each round
    recomputes degrees in the surviving induced subgraph and drops nodes
    below k. Peeling is monotone and idempotent once converged, so
    running MORE rounds than the graph needs changes nothing — which is
    what makes a fixed unroll both oracle-checkable (the same R rounds
    replay as chained CTEs) and safe. Returns (edges, survivors).

    Deployment shape is the measured loop (converged-at-7 on both the
    sf0.1 and the 50k-doc zipf fixtures; the registered R=10 carries
    margin) — same contract as the BPE merge ladder: at corpora whose
    peel depth outgrows R, run `kcore_survivors` with rounds set from a
    convergence probe, not the registered unroll."""
    edges = ckpt(
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
    )
    surv = edges.select("u").distinct()
    # Optimization r13 (guide §1.2 — don't compute things you throw
    # away): peeling is monotone (surv_{r+1} ⊆ surv_r, both joins draw u
    # and v from the prior survivor set), so an unchanged survivor COUNT
    # means an unchanged survivor SET and every later round is the
    # identity — stop there instead of paying the remaining ckpt jobs of
    # the fixed unroll (the registered R=10 converges at 7 on the sf0.1
    # graph). The count is one cheap job over the just-checkpointed
    # frame; the returned fixpoint is bit-identical to the full unroll
    # (pinned by tests/test_kcore.py's rounds-10-vs-12 equality).
    prev_n = None
    for _ in range(rounds):
        e = edges.join(surv, "u").join(surv.select(F.col("u").alias("v")), "v")
        surv = ckpt(
            e.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
        )
        n = surv.count()
        if n == prev_n:
            break
        prev_n = n
    return edges, surv


def _sql_kcore_round(r: int, k: int) -> str:
    prev = "s0" if r == 1 else f"s{r - 1}"
    return f"""
s{r} AS MATERIALIZED (
  SELECT u FROM (
    SELECT e.u AS u, count(*) AS deg
    FROM edges e
    JOIN {prev} pu ON e.u = pu.u
    JOIN {prev} pv ON e.v = pv.u
    GROUP BY e.u
  ) WHERE deg >= {k}
)"""


@query(
    "neardup_kcore",
    oracle=f"""
WITH {_SQL_LSH_PAIRS},
edges AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs),
s0 AS MATERIALIZED (SELECT DISTINCT u FROM edges),
{",".join(_sql_kcore_round(r, _KCORE_K) for r in range(1, _KCORE_ROUNDS + 1))}
SELECT e.u AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
FROM edges e
JOIN s{_KCORE_ROUNDS} pu ON e.u = pu.u
JOIN s{_KCORE_ROUNDS} pv ON e.v = pv.u
GROUP BY e.u
ORDER BY doc_id
""",
    tags=("graph", "kcore", "dedup", "llm", "iterative"),
)
def neardup_kcore(spark, sf_dir):
    """The 3-core of the LSH near-dup candidate graph (Seidman 1983
    cohesion; Batagelj & Zaversnik 2003 peeling): every document that
    keeps >= 3 near-dup partners after all weakly-attached documents are
    iteratively peeled away, with its degree inside the core. The dense
    cohesion tier of the graph family — components say WHO is connected,
    clustering coefficient says how locally cliquish, the k-core
    isolates the structurally dense boilerplate/mirror mass that
    survives peeling (LSH collision stars and chains peel away, so the
    core is the high-confidence bulk-collapse cohort; the peeled fringe
    routes to pairwise verification).

    Scale: R synchronized peel rounds, each one edge-list join + one
    degree aggregate over the CAPPED candidate graph — edge-linear per
    round like every message-passing pass here; survivors checkpoint per
    round (reliable when a dir is configured). Fixed R=10 unroll with
    measured convergence 7 (see kcore_survivors for the deployment
    contract)."""
    # memoized canonical pair list (plans/dedup.py::corpus_lsh_pairs):
    # already a materialized parquet, so no ckpt needed
    pairs = corpus_lsh_pairs(spark, sf_dir)
    edges, surv = kcore_survivors(pairs)
    core = (
        edges.join(surv, "u")
        .join(surv.select(F.col("u").alias("v")), "v")
        .groupBy("u")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )
    return core.select(F.col("u").alias("doc_id"), "core_degree").orderBy("doc_id")


_K_FOLDS = 5


def _fold_sql(src: str, decode=md5_hex_int_sql) -> str:
    """Fold of key ``src``: its first 8 md5 hex digits mod K. ``decode``
    picks the spelling: the oracle's by default, `md5_hex_int` in Spark."""
    return f"({decode(src)} % {_K_FOLDS})"


@query(
    "group_aware_kfold",
    oracle=f"""
WITH RECURSIVE
{_SQL_SHINGLES.format(where="")},{_SQL_CC_LABELS},
grouped AS (
  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS group_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
)
SELECT doc_id, group_id,
       CAST({_fold_sql("CAST(group_id AS STRING)")} AS BIGINT) AS fold,
       CAST({_fold_sql("CAST(doc_id AS STRING)")} AS BIGINT) AS naive_fold,
       ({_fold_sql("CAST(group_id AS STRING)")} <> {_fold_sql("CAST(doc_id AS STRING)")}) AS moved
FROM grouped
ORDER BY doc_id
""",
    tags=("dedup", "splits", "kfold", "leakage", "llm", "curation"),
)
def group_aware_kfold(spark, sf_dir):
    """Group-aware K-fold assignment (K=5) — cross-validation's version
    of `group_aware_split_assign`: the fold key is the near-dup
    component id (singletons group as themselves) hashed through the
    portable 8-hex md5 decode mod K, so every near-duplicate family
    lands in ONE fold and no evaluation fold ever contains a near-copy
    of a training document — the leakage that silently inflates
    cross-validation scores. Emits the naive per-doc fold and a `moved`
    flag (the migration delta), like the split variant.

    At 100 TB: identical scale shape to the split assign — the CC pass
    the dedup pipeline already ran, a labels left-join, then a map-only
    fold projection."""
    from .dedup import corpus_components

    docs = T(spark, sf_dir, "documents")
    comp = corpus_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("component").alias("component")
    )
    grouped = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("group_id", F.coalesce("component", "doc_id"))
    )
    fold = F.expr(f"CAST({_fold_sql('CAST(group_id AS STRING)', md5_hex_int)} AS BIGINT)")
    naive = F.expr(f"CAST({_fold_sql('CAST(doc_id AS STRING)', md5_hex_int)} AS BIGINT)")
    return grouped.select(
        "doc_id",
        "group_id",
        fold.alias("fold"),
        naive.alias("naive_fold"),
        (fold != naive).alias("moved"),
    ).orderBy("doc_id")


@query(
    "degree_assortativity",
    oracle=f"""
WITH {_SQL_LSH_PAIRS},
edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u),
ex AS (
  SELECT du.deg AS x, dv.deg AS y
  FROM edges e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM ex
)
SELECT m, sxy, sx, sy, sxx, syy,
       round(CAST(m * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6) AS assortativity
FROM s
""",
    tags=("graph", "assortativity", "dedup", "llm"),
)
def degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the LSH near-dup candidate
    graph: the Pearson correlation of degrees across edge endpoints,
    with every moment an exact BIGINT sum over the (double-counted,
    symmetric) directed edge list and the final r spending two IEEE
    sqrts + one division, rounded once — the house correlation recipe.
    The graph-structure dial the dedup tier reads: assortative (r > 0)
    means dup families are degree-stratified cliques (safe bulk
    collapse); disassortative (r < 0) means high-degree hubs attach to
    leaves — the LSH-collision-star shape the verifier tier must check
    pairwise (same routing signal family as the clustering
    coefficient, one number for the whole graph).

    Scale: two broadcast-sized joins of the edge list against the
    degree table and one 1-row moment aggregate — edge-linear, like
    every message-passing pass here. Moments stay in BIGINT to ~1e6
    edges x 1e6 degree-products; beyond that the sums move to
    DECIMAL(38,0) unchanged in shape. Output 1 row."""
    # memoized canonical pair list (plans/dedup.py::corpus_lsh_pairs):
    # already a materialized parquet, so no ckpt needed
    pairs = corpus_lsh_pairs(spark, sf_dir)
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
    du = deg.select(F.col("u"), F.col("deg").alias("x"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("y"))
    ex = edges.join(du, "u").join(dv, "v").select("x", "y")
    s = ex.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return s.select(
        "m",
        "sxy",
        "sx",
        "sy",
        "sxx",
        "syy",
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt((F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
            ),
            6,
        ).alias("assortativity"),
    )

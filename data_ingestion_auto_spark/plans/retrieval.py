"""Retrieval-classic queries over `documents` (LLM-data-pipeline
extension): BM25 ranked retrieval and winnowing fingerprints.

Both are public-literature algorithms (Robertson et al., Okapi BM25;
Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
Fingerprinting", SIGMOD 2003) re-expressed as declarative plans:

- BM25 is the inverted-index scoring loop turned inside out: one corpus
  scan explodes tokens map-side, the posting lists for the (tiny) query
  term set survive a pushed-down IN filter, document frequencies and the
  two corpus scalars broadcast, and the per-document score is a single
  grouped aggregate. At 100 TB the shuffle is |matching postings| rows of
  (doc_id, term) — never the text.
- Winnowing is a pure per-document array computation: k-gram hashes,
  per-window rightmost-argmin selection, and the fingerprint-set digest
  all happen inside ONE projection via transform/sequence/slice — zero
  explode, zero window function, zero shuffle before the final sort. The
  winnowing guarantee (every k+w-1-token match shares a fingerprint)
  is pinned by a pure-Python reference in tests/test_winnowing.py.

Float determinism (SURVEY §7.4): BM25's k1=1.2 / b=0.75 are folded into
integer numerators/denominators (22·tf·S, 10·tf·S + 3·S + 9·dl·N, and the
rational idf (2N−2df+1)/(2df+1) — the log-free monotone idf variant, same
rationale as distinctive_terms_topk), so each per-term contribution is two
exactly-rounded IEEE divisions and one multiply — bit-identical across
engines — and the per-document sum runs in exact DECIMAL(38,6).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..checkpoints import ckpt
from ..memo import corpus_memo
from .helpers import T, spread
from .registry import query

# BM25 query term set — a fixed conjunction-free keyword query against the
# fixture vocabulary. In production this is the per-request input; the plan
# shape (pushed IN filter -> postings -> broadcast idf) is invariant in it.
_BM25_TERMS = ("spark", "hash", "vector")
_BM25_K = 10

_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# Integer-rationalized BM25 with k1 = 1.2, b = 0.75:
#   tf_component  = tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
#                 = 22·tf·S / (10·tf·S + 3·S + 9·dl·N)      [avgdl = S/N]
#   idf_rational  = (N − df + 0.5) / (df + 0.5)
#                 = (2N − 2df + 1) / (2df + 1)
# All factors are BIGINT; at 100 TB (S ~ 1e13 tokens, tf ≤ doc length)
# 10·tf·S stays well under the 9.2e18 BIGINT ceiling for real documents.
_TF_NUM = "CAST(22 * tf * s AS DOUBLE)"
_TF_DEN = "CAST(10 * tf * s + 3 * s + 9 * dl * n AS DOUBLE)"
_IDF_NUM = "CAST(2 * n - 2 * df + 1 AS DOUBLE)"
_IDF_DEN = "CAST(2 * df + 1 AS DOUBLE)"
_CONTRIB = f"({_TF_NUM} / {_TF_DEN}) * ({_IDF_NUM} / {_IDF_DEN})"


@query(
    "bm25_topk_retrieval",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         string_split(text, ' ') AS w
  FROM documents
),
c AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM d),
toks AS (SELECT doc_id, dl, unnest(w) AS term FROM d),
tf AS (
  SELECT doc_id, term, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ({_TERMS_SQL})
  GROUP BY doc_id, term
),
idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, {_CONTRIB} AS contrib
  FROM tf JOIN idf USING (term) CROSS JOIN c
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms_matched,
       CAST(round(sum(CAST(contrib AS DECIMAL(38,6))), 6) AS DOUBLE) AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {_BM25_K}
""",
    tags=("text", "retrieval", "bm25", "topk", "llm"),
)
def bm25_topk_retrieval(spark, sf_dir):
    """BM25 top-k ranked retrieval (k1=1.2, b=0.75) for a fixed keyword
    query. Docs containing none of the query terms score 0 and are omitted
    — exactly the inverted-index contract. One corpus scan builds the
    postings (the IN filter runs inside the explode projection, so only
    matching postings ever shuffle); document frequency is a 3-row
    broadcast; corpus length scalars are a broadcast 1-row aggregate; the
    final score is one grouped DECIMAL(38,6) sum. Shuffles: postings
    groupBy(doc_id, term) + 3-row idf groupBy + final per-doc groupBy —
    all independent of text size."""
    docs = spread(T(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("dl"),
        F.split("text", " ").alias("w"),
    )
    c = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("s"),
    )
    terms_arr = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    toks = d.select(
        "doc_id",
        "dl",
        F.explode(F.expr(f"filter(w, t -> t IN ({terms_arr}))")).alias("term"),
    )
    # Materialize the postings once (|matching docs| × |terms| rows — the
    # inverted-index slice, tiny next to the corpus): idf and the scoring
    # pass both read it, so the text column is scanned exactly once for
    # postings (the corpus-scalar branch scans text a second, pruned time).
    tf = ckpt(
        toks.groupBy("doc_id", "term").agg(
            F.max("dl").alias("dl"), F.count("*").cast("bigint").alias("tf")
        )
    )
    idf = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(c))
        .select("doc_id", F.expr(_CONTRIB).alias("contrib"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_matched"),
            F.expr(
                "CAST(round(sum(CAST(contrib AS DECIMAL(38,6))), 6) AS DOUBLE)"
            ).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_K)
    )


# Winnowing parameters: k-gram length (tokens) and window size (grams).
# Guarantee: any shared token run of length >= _WIN_K + _WIN_W - 1 between
# two documents yields at least one shared selected fingerprint.
_WIN_K = 4
_WIN_W = 5


def _win_spark_cols() -> dict[str, str]:
    """Spark SQL fragments for the winnowing projection (1-based arrays)."""
    k, w = _WIN_K, _WIN_W
    grams = (
        f"CASE WHEN size(w) >= {k} THEN "
        f"transform(sequence(1, size(w) - {k - 1}), "
        f"i -> md5(concat_ws(' ', slice(w, i, {k})))) "
        "ELSE array() END"
    )
    # Window ending at gram e covers grams [max(1, e-w+1), e]; the selected
    # position is the RIGHTMOST argmin (robust winnowing): leftmost argmin
    # of the reversed slice, mapped back. Short documents (< w grams) get
    # the single whole-array window, per the paper's boundary treatment.
    lo = f"greatest(1, e - {w - 1})"
    sl = f"slice(h, {lo}, e - {lo} + 1)"
    sel = (
        "CASE WHEN size(h) = 0 THEN array() ELSE "
        f"transform(sequence(least(size(h), {w}), size(h)), "
        f"e -> CAST(e - array_position(reverse({sl}), array_min({sl})) + 1 AS INT)) "
        "END"
    )
    fps = "array_sort(array_distinct(transform(sel, p -> substring(element_at(h, p), 1, 16))))"
    return {"grams": grams, "sel": sel, "fps": fps}


def corpus_winnowing_fpp(spark, sf_dir):
    """MEMOIZED winnowing fingerprint-position table — one row per
    document: (doc_id, n_grams, fpp: array<struct<f,p>>) where fpp is
    the DISTINCT (16-char gram-hash prefix, selected position) set (the
    match-spans frame; a position determines its hash, so distinct
    (f, p) ≡ distinct selected positions). This is the per-corpus
    artifact a MOSS-style deployment stores at ingest — the
    corpus_minhash_sig convention applied to the winnowing tier; the
    definitional `winnowing_fingerprints` query still computes the
    pipeline LIVE. Consumers: winnowing_match_pairs (fps =
    distinct f of fpp), winnowing_match_spans (explodes fpp directly).
    The ckpt-before-explode rule is inherited structurally: consumers
    explode a PARQUET scan, so the winnowing lambdas can never be
    re-evaluated under a Generate (the round-9 O(grams²) pathology)."""

    def build():
        cols = _win_spark_cols()
        docs = spread(T(spark, sf_dir, "documents"))
        g = docs.select("doc_id", F.split("text", " ").alias("w")).select(
            "doc_id", F.expr(cols["grams"]).alias("h")
        )
        s = g.select("doc_id", "h", F.expr(cols["sel"]).alias("sel"))
        return s.select(
            "doc_id",
            F.size("h").cast("bigint").alias("n_grams"),
            F.expr(
                "array_distinct(transform(sel, p -> "
                "named_struct('f', substring(element_at(h, p), 1, 16), 'p', p)))"
            ).alias("fpp"),
        )

    return corpus_memo(spark, sf_dir, "winfp", build)


def _win_cte() -> str:
    """The shared winnowing CTE chain ending at `f` (doc_id, n_grams,
    sel, fps) — composed by both the fingerprint query's oracle and the
    match-pairs oracle."""
    k, w = _WIN_K, _WIN_W
    lo = f"greatest(1, e - {w - 1})"
    sl = f"h[{lo}:e]"
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= {k}
              THEN list_transform(generate_series(1, len(w) - {k - 1}),
                                  i -> md5(array_to_string(w[i : i + {k - 1}], ' ')))
              ELSE [] END AS h
  FROM d
),
s AS (
  SELECT doc_id, h,
         CASE WHEN len(h) = 0 THEN [] ELSE
           list_transform(generate_series(least(len(h), {w}), len(h)),
             e -> CAST(e - list_position(list_reverse({sl}), list_min({sl})) + 1 AS INT))
         END AS sel
  FROM g
),
f AS (
  SELECT doc_id, len(h) AS n_grams, sel,
         list_sort(list_distinct(list_transform(sel, p -> substr(h[p], 1, 16)))) AS fps
  FROM s
)"""


def _win_oracle() -> str:
    return f"""{_win_cte()}
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(list_distinct(sel)) AS BIGINT) AS n_selected,
       CASE WHEN n_grams = 0 THEN 0.0
            ELSE round(CAST(len(list_distinct(sel)) AS DOUBLE) / n_grams, 6) END AS density,
       md5(array_to_string(fps, ',')) AS fp_digest
FROM f
ORDER BY doc_id
"""


@query(
    "winnowing_fingerprints",
    oracle=_win_oracle(),
    tags=("text", "fingerprint", "winnowing", "dedup", "llm"),
)
def winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    md5 hashes of k=4 token-grams, then from every window of w=5
    consecutive gram hashes select the rightmost minimum; the distinct
    selected positions are the document's fingerprint set (reported as a
    count, a density, and an order-canonical digest). Guarantees every
    shared run of >= k+w-1 tokens produces a shared fingerprint, at ~2/(w+1)
    expected density — the MOSS primitive, and the guarantee-bearing
    upgrade over doc_fingerprints' head/tail block hashes.

    Scale: the entire selection runs inside one projection via
    transform/sequence/slice array expressions — no explode, no window
    function, no self-join, ZERO shuffle before the final sort (pinned in
    tests/test_plan_quality.py). Per-row cost is O(grams · w) string
    compares on bounded-length documents; at 100 TB it is embarrassingly
    parallel and scan-bound."""
    cols = _win_spark_cols()
    docs = spread(T(spark, sf_dir, "documents"))
    g = docs.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id", F.expr(cols["grams"]).alias("h")
    )
    s = g.select("doc_id", "h", F.expr(cols["sel"]).alias("sel"))
    f = s.select(
        "doc_id",
        F.size("h").cast("bigint").alias("n_grams"),
        "sel",
        F.expr(cols["fps"]).alias("fps"),
    )
    return f.select(
        "doc_id",
        "n_grams",
        F.size(F.array_distinct("sel")).cast("bigint").alias("n_selected"),
        F.when(F.col("n_grams") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.size(F.array_distinct("sel")).cast("double") / F.col("n_grams"), 6
            )
        )
        .alias("density"),
        F.md5(F.concat_ws(",", "fps")).alias("fp_digest"),
    ).orderBy("doc_id")


# Hot-fingerprint cap for the matcher: a boilerplate fingerprint shared
# by f docs yields C(f,2) pairs; capping docs-per-fingerprint at
# _MATCH_CAP (keep the _MATCH_CAP smallest doc_ids, the LSH hot-bucket
# rule from operators/dedup.py) bounds pair fan-out to cap²/2 per
# fingerprint. The fixture never reaches the cap, so the oracle replays
# it exactly; at scale the cap is the overflow-observability seam, same
# contract as lsh_candidates. The min-shared threshold stays 1 so the
# winnowing guarantee carries through to the pair level (>= k+w-1-token
# runs are CERTAIN to produce a shared selected fingerprint); consumers
# threshold on n_shared / overlap.
_MATCH_CAP = 20
_MATCH_MIN_SHARED = 1


def _match_oracle() -> str:
    return f"""{_win_cte()},
fp AS (
  SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS f
  FROM f
),
capped AS (
  SELECT doc_id, n_fp, f FROM (
    SELECT doc_id, n_fp, f,
           row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
    FROM fp
  ) WHERE rn <= {_MATCH_CAP}
),
m AS (
  SELECT c1.doc_id AS a, c2.doc_id AS b,
         CAST(count(*) AS BIGINT) AS n_shared,
         CAST(min(c1.n_fp) AS BIGINT) AS n_fp_a,
         CAST(min(c2.n_fp) AS BIGINT) AS n_fp_b
  FROM capped c1 JOIN capped c2 ON c1.f = c2.f AND c1.doc_id < c2.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_shared, n_fp_a, n_fp_b,
       CAST(n_shared AS DOUBLE) / least(n_fp_a, n_fp_b) AS overlap
FROM m
WHERE n_shared >= {_MATCH_MIN_SHARED}
ORDER BY a, b
"""


@query(
    "winnowing_match_pairs",
    oracle=_match_oracle(),
    tags=("text", "winnowing", "dedup", "neardup", "llm"),
)
def winnowing_match_pairs(spark, sf_dir):
    """MOSS-style match detection — the consumer of
    `winnowing_fingerprints`: document pairs sharing selected
    fingerprints (threshold 1 — the guarantee-preserving setting), with
    each side's fingerprint-set size and the
    containment-style overlap = n_shared / min(|A|, |B|) (one exact IEEE
    division). The winnowing guarantee makes this a LOCAL-match detector
    the MinHash tier is not: any shared token run of >= k+w-1 = 8 tokens
    is certain to surface the pair, however small a fraction of either
    document it is — the plagiarism/quotation shape whole-document
    Jaccard dilutes away.

    Scale: candidate generation is a fingerprint-bucket self equi-join
    (never all-pairs), with docs-per-fingerprint capped at 20 by the
    same rank-and-cap rule as the LSH hot-bucket seam
    (operators/dedup.py) so one boilerplate fingerprint cannot go
    quadratic; the capped fingerprint table is checkpointed once and
    both join sides read it, so the corpus text is scanned exactly
    once."""
    from pyspark.sql import Window as W

    # memoized per-corpus fingerprint table (optimization r13): fps is
    # the distinct-f image of the stored fpp set — identical to the old
    # live fps projection; the two construct-time localCheckpoints
    # (winnowing compute + cap) collapse into one shared memo build.
    # Exploding a parquet scan keeps the ckpt-before-explode guarantee.
    fpsets = corpus_winnowing_fpp(spark, sf_dir).select(
        "doc_id",
        F.expr("array_sort(array_distinct(transform(fpp, x -> x.f)))").alias("fps"),
    )
    fp = fpsets.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fp"),
        F.explode("fps").alias("f"),
    )
    rn = F.row_number().over(W.partitionBy("f").orderBy("doc_id"))
    capped = fp.withColumn("rn", rn).filter(F.col("rn") <= _MATCH_CAP).drop("rn")
    # per-fingerprint pair expansion as an in-row transform over the
    # bucket's collected (doc, n_fp) members (optimization r14, guide
    # §2.4): the cap bounds every array at _MATCH_CAP entries, the
    # groupBy(f) reuses the cap window's own hash(f) exchange, and the
    # old f-keyed SELF-join — which re-planned the explode + cap window
    # under both branches (4 exchanges, two executions) — disappears.
    # row_number's orderBy(doc_id) makes members unique-and-ordered, so
    # array_sort + i<j replays the a<b filter exactly.
    buckets = capped.groupBy("f").agg(
        F.expr("array_sort(collect_list(struct(doc_id, n_fp)))").alias("mem")
    )
    m = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(mem, (ma, i) -> "
                    "transform(slice(mem, i + 2, size(mem)), mb -> named_struct("
                    "'a', ma.doc_id, 'b', mb.doc_id, "
                    "'na', ma.n_fp, 'nb', mb.n_fp))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b", "p.na", "p.nb")
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("n_shared"),
            F.min("na").cast("bigint").alias("n_fp_a"),
            F.min("nb").cast("bigint").alias("n_fp_b"),
        )
    )
    return (
        m.filter(F.col("n_shared") >= _MATCH_MIN_SHARED)
        .select(
            "a", "b", "n_shared", "n_fp_a", "n_fp_b",
            (
                F.col("n_shared").cast("double")
                / F.least("n_fp_a", "n_fp_b")
            ).alias("overlap"),
        )
        .orderBy("a", "b")
    )


def _spans_oracle() -> str:
    k, w = _WIN_K, _WIN_W
    return f"""{_win_cte()},
fp AS (
  SELECT DISTINCT doc_id, substr(h[p], 1, 16) AS f, p
  FROM s, LATERAL (SELECT unnest(sel) AS p) u
),
capped AS (
  SELECT doc_id, f, p FROM (
    SELECT doc_id, f, p,
           dense_rank() OVER (PARTITION BY f ORDER BY doc_id) AS rk
    FROM fp
  ) WHERE rk <= {_MATCH_CAP}
),
sh AS (
  SELECT c1.doc_id AS a, c2.doc_id AS b, c1.p AS pa, c2.p AS pb
  FROM capped c1 JOIN capped c2 ON c1.f = c2.f AND c1.doc_id < c2.doc_id
),
sides AS (
  SELECT a, b, 'a' AS side, list_sort(list_distinct(list(pa))) AS ps
  FROM sh GROUP BY a, b
  UNION ALL
  SELECT a, b, 'b' AS side, list_sort(list_distinct(list(pb))) AS ps
  FROM sh GROUP BY a, b
),
runs AS (
  SELECT a, b, side, ps,
         list_filter(generate_series(1, len(ps)),
                     i -> i = 1 OR ps[i] - ps[i-1] > {w}) AS st,
         list_filter(generate_series(1, len(ps)),
                     i -> i = len(ps) OR ps[i+1] - ps[i] > {w}) AS en
  FROM sides
)
SELECT a, b, side,
       CAST(ps[st[j]] AS BIGINT) AS start_token,
       CAST(ps[en[j]] + {k - 1} AS BIGINT) AS end_token,
       CAST(en[j] - st[j] + 1 AS BIGINT) AS n_fps
FROM runs, LATERAL (SELECT unnest(generate_series(1, len(st))) AS j) u
ORDER BY a, b, side, start_token
"""


@query(
    "winnowing_match_spans",
    oracle=_spans_oracle(),
    tags=("text", "winnowing", "dedup", "neardup", "spans", "llm"),
)
def winnowing_match_spans(spark, sf_dir):
    """MOSS aligned match REGIONS (round-9 verdict #5) — the positional
    complement to `winnowing_match_pairs`, which reports shared counts
    and discards the positions winnowing already computed. Per matched
    pair and per side, the shared selected fingerprints' gram positions
    merge into runs: positions p, p' sit in the same run iff
    p' − p <= w (winnowing guarantees at least one selection per w
    consecutive grams, so spacing inside a genuinely shared region never
    exceeds w — a larger gap means the region ended). Each run is
    reported as a 1-based token interval [first_p, last_p + k − 1] with
    its fingerprint count: exactly the highlight spans MOSS renders.

    Interval-merge is the same array machinery as
    `exact_substring_dedup_spans`: run starts/ends come from one
    filter() over the sorted position array, no window function, no
    per-pair UDF. Scale: the (fingerprint, position) frame is the same
    checkpointed cut as the match-pairs query (ckpt-before-explode —
    SCALE.md round-9 pathology); candidates come from the identical
    capped fingerprint-bucket equi-join (dense_rank over docs keeps the
    cap semantics with multiple positions per doc-fingerprint); the
    span fold is two bounded array lambdas per pair-side."""
    from pyspark.sql import Window as W

    k, w = _WIN_K, _WIN_W
    # the memoized (doc_id, n_grams, fpp) table IS this query's cut
    # frame (optimization r13): exploding a parquet scan keeps the
    # explode-never-sees-the-winnowing-lambdas guarantee, and both
    # self-join sides below re-derive from the same memo exchange
    # (ReusedExchange) instead of two per-construct localCheckpoints
    fppos = corpus_winnowing_fpp(spark, sf_dir)
    fp = fppos.select("doc_id", F.explode("fpp").alias("u")).select(
        "doc_id", F.col("u.f").alias("f"), F.col("u.p").alias("p")
    )
    rk = F.dense_rank().over(W.partitionBy("f").orderBy("doc_id"))
    capped = fp.withColumn("rk", rk).filter(F.col("rk") <= _MATCH_CAP).drop("rk")
    c1 = capped.select(F.col("doc_id").alias("a"), "f", F.col("p").alias("pa"))
    c2 = capped.select(F.col("doc_id").alias("b"), "f", F.col("p").alias("pb"))
    sh = (
        c1.join(c2, "f")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "pa", "pb")
    )

    def _side(col: str, tag: str):
        return (
            sh.groupBy("a", "b")
            .agg(F.array_sort(F.array_distinct(F.collect_list(col))).alias("ps"))
            .select("a", "b", F.lit(tag).alias("side"), "ps")
        )

    sides = _side("pa", "a").unionByName(_side("pb", "b"))
    runs = sides.select(
        "a",
        "b",
        "side",
        "ps",
        F.expr(
            f"filter(sequence(1, size(ps)), i -> i = 1 OR "
            f"element_at(ps, i) - element_at(ps, i - 1) > {w})"
        ).alias("st"),
        F.expr(
            f"filter(sequence(1, size(ps)), i -> i = size(ps) OR "
            f"element_at(ps, i + 1) - element_at(ps, i) > {w})"
        ).alias("en"),
    )
    return (
        runs.select(
            "a", "b", "side", "ps", "st", "en",
            F.explode(F.expr("sequence(1, size(st))")).alias("j"),
        )
        .select(
            "a",
            "b",
            "side",
            F.expr("CAST(element_at(ps, element_at(st, j)) AS BIGINT)").alias(
                "start_token"
            ),
            F.expr(
                f"CAST(element_at(ps, element_at(en, j)) + {k - 1} AS BIGINT)"
            ).alias("end_token"),
            F.expr(
                "CAST(element_at(en, j) - element_at(st, j) + 1 AS BIGINT)"
            ).alias("n_fps"),
        )
        .orderBy("a", "b", "side", "start_token")
    )


_RRF_C = 60  # the constant from Cormack et al. 2009 — dampens top-rank dominance
_RRF_K = 20


@query(
    "rrf_retrieval_fusion",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         string_split(text, ' ') AS w
  FROM documents
),
c AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM d),
toks AS (SELECT doc_id, dl, unnest(w) AS term FROM d),
tf AS (
  SELECT doc_id, term, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ({_TERMS_SQL})
  GROUP BY doc_id, term
),
idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         CAST(count(*) AS BIGINT) AS n_matched,
         CAST(round(sum(CAST({_CONTRIB} AS DECIMAL(38,6))), 6) AS DOUBLE) AS bm25,
         max(tf.dl) AS dl,
         CAST(sum(tf) AS BIGINT) AS tf_sum
  FROM tf JOIN idf USING (term) CROSS JOIN c
  GROUP BY tf.doc_id
),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25,
         row_number() OVER (
           ORDER BY n_matched DESC, (1000000 * tf_sum) // dl DESC, doc_id
         ) AS rank_cov
  FROM bm
)
SELECT doc_id,
       CAST(rank_bm25 AS BIGINT) AS rank_bm25,
       CAST(rank_cov AS BIGINT) AS rank_cov,
       CAST(1000000000000 // ({_RRF_C} + rank_bm25)
            + 1000000000000 // ({_RRF_C} + rank_cov) AS BIGINT) AS rrf_micro
FROM r
ORDER BY rrf_micro DESC, doc_id
LIMIT {_RRF_K}
""",
    tags=("text", "retrieval", "rrf", "fusion", "llm"),
)
def rrf_retrieval_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    retrieval systems over the same keyword query: the BM25 ranking and
    a term-coverage ranking (terms matched, then tf density per token),
    fused as RRF(d) = sum_systems 1/(60 + rank_system(d)) — here in
    exact integer micro-units, 10^12 div (60 + rank), so the fused
    score is BIGINT arithmetic with no float summation anywhere. RRF
    beats either system alone whenever their failure modes differ
    (the ensembling result of the paper), and rank-space fusion needs
    no score calibration between systems — which is why it composes
    rankers whose scores live on different scales, like these two.

    Scale: both rankings live on the CANDIDATE POOL (docs matching >= 1
    query term — the postings slice, never the corpus; the pool frame is
    checkpointed once and both rank windows read it). Production RRF
    fuses the bounded top-k lists each system already returns, so the
    window is k-sized per query; the registered query ranks the full
    pool because the oracle tier is exact by contract."""
    docs = spread(T(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("dl"),
        F.split("text", " ").alias("w"),
    )
    c = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("s"),
    )
    terms_arr = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    toks = d.select(
        "doc_id",
        "dl",
        F.explode(F.expr(f"filter(w, t -> t IN ({terms_arr}))")).alias("term"),
    )
    tf = ckpt(
        toks.groupBy("doc_id", "term").agg(
            F.max("dl").alias("dl"), F.count("*").cast("bigint").alias("tf")
        )
    )
    idf = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    bm = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(c))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matched"),
            F.round(F.sum(F.expr(_CONTRIB).cast("decimal(38,6)")), 6)
            .cast("double")
            .alias("bm25"),
            F.max("dl").alias("dl"),
            F.sum("tf").cast("bigint").alias("tf_sum"),
        )
    )
    from pyspark.sql import Window as W

    r = bm.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), "doc_id"))
        .cast("bigint")
        .alias("rank_bm25"),
        F.row_number()
        .over(
            W.orderBy(
                F.desc("n_matched"),
                F.desc(F.expr("(1000000 * tf_sum) div dl")),
                "doc_id",
            )
        )
        .cast("bigint")
        .alias("rank_cov"),
    )
    return (
        r.select(
            "doc_id",
            "rank_bm25",
            "rank_cov",
            F.expr(
                f"CAST(1000000000000 div ({_RRF_C} + rank_bm25)"
                f" + 1000000000000 div ({_RRF_C} + rank_cov) AS BIGINT)"
            ).alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), "doc_id")
        .limit(_RRF_K)
    )


@query(
    "ranking_kendall_tau",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         string_split(text, ' ') AS w
  FROM documents
),
c AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM d),
toks AS (SELECT doc_id, dl, unnest(w) AS term FROM d),
tf AS (
  SELECT doc_id, term, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ({_TERMS_SQL})
  GROUP BY doc_id, term
),
idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         CAST(count(*) AS BIGINT) AS n_matched,
         CAST(round(sum(CAST({_CONTRIB} AS DECIMAL(38,6))), 6) AS DOUBLE) AS bm25,
         max(tf.dl) AS dl,
         CAST(sum(tf) AS BIGINT) AS tf_sum
  FROM tf JOIN idf USING (term) CROSS JOIN c
  GROUP BY tf.doc_id
),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra,
         row_number() OVER (
           ORDER BY n_matched DESC, (1000000 * tf_sum) // dl DESC, doc_id
         ) AS rb
  FROM bm
),
u AS (SELECT doc_id, ra, rb FROM r WHERE ra <= {_RRF_K} OR rb <= {_RRF_K}),
pairs AS (
  SELECT CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) > 0 THEN 1 ELSE 0 END AS conc
  FROM u a JOIN u b ON a.doc_id < b.doc_id
)
SELECT CAST((SELECT count(*) FROM u) AS BIGINT) AS n_items,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(conc) AS BIGINT) AS concordant,
       CAST(count(*) - sum(conc) AS BIGINT) AS discordant,
       CAST(CAST(2 * sum(conc) - count(*) AS DOUBLE) / count(*) AS DOUBLE) AS tau
FROM pairs
""",
    tags=("text", "retrieval", "kendall", "ranking", "llm"),
)
def ranking_kendall_tau(spark, sf_dir):
    """Kendall rank correlation between the two retrieval systems RRF
    fuses (`rrf_retrieval_fusion`): over the documents either system
    ranks in its top {_RRF_K}, the exact concordant/discordant pair
    counts and tau = (C − D)/(C + D) — one IEEE division of exact
    BIGINTs (row_number ranks are tie-free, so no tie correction
    term). The diagnostic that tells a fusion operator WHETHER fusing
    is worth it: tau ≈ 1 means the systems agree and fusion adds
    nothing; low tau means their failure modes differ — exactly when
    RRF's ensembling pays (Cormack 2009's operating regime).

    Scale: identical candidate-pool shape to the RRF query; the pair
    comparison lives on the union of two top-{_RRF_K} lists (≤ 2k items,
    ≤ 2k² pairs at ANY corpus) — bounded output, bounded compare."""
    docs = spread(T(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("dl"),
        F.split("text", " ").alias("w"),
    )
    c = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("s"),
    )
    terms_arr = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    toks = d.select(
        "doc_id",
        "dl",
        F.explode(F.expr(f"filter(w, t -> t IN ({terms_arr}))")).alias("term"),
    )
    tf = ckpt(
        toks.groupBy("doc_id", "term").agg(
            F.max("dl").alias("dl"), F.count("*").cast("bigint").alias("tf")
        )
    )
    idf = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    bm = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(c))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matched"),
            F.round(F.sum(F.expr(_CONTRIB).cast("decimal(38,6)")), 6)
            .cast("double")
            .alias("bm25"),
            F.max("dl").alias("dl"),
            F.sum("tf").cast("bigint").alias("tf_sum"),
        )
    )
    from pyspark.sql import Window as W

    r = bm.select(
        "doc_id",
        F.row_number().over(W.orderBy(F.desc("bm25"), "doc_id")).alias("ra"),
        F.row_number()
        .over(
            W.orderBy(
                F.desc("n_matched"),
                F.desc(F.expr("(1000000 * tf_sum) div dl")),
                "doc_id",
            )
        )
        .alias("rb"),
    )
    u = ckpt(
        r.filter((F.col("ra") <= _RRF_K) | (F.col("rb") <= _RRF_K)).select(
            "doc_id", "ra", "rb"
        )
    )
    a = u.select(F.col("doc_id").alias("da"), F.col("ra").alias("raa"), F.col("rb").alias("rba"))
    b = u.select(F.col("doc_id").alias("db"), F.col("ra").alias("rab"), F.col("rb").alias("rbb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("da") < F.col("db"))
        .select(
            F.when(
                (F.col("raa") - F.col("rab")) * (F.col("rba") - F.col("rbb")) > 0, 1
            )
            .otherwise(0)
            .alias("conc")
        )
    )
    n_items = u.agg(F.count("*").cast("bigint").alias("n_items"))
    return (
        pairs.agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("conc").cast("bigint").alias("concordant"),
            (F.count("*") - F.sum("conc")).cast("bigint").alias("discordant"),
            (
                (2 * F.sum("conc") - F.count("*")).cast("double")
                / F.count("*").cast("double")
            ).alias("tau"),
        )
        .crossJoin(F.broadcast(n_items))
        .select("n_items", "n_pairs", "concordant", "discordant", "tau")
    )

"""Deduplication queries over the `documents` corpus (LLM-data-pipeline
extension; BASELINE.json north star).

Tiering (see operators/dedup.py for the engine API and scale notes):
- exact content dedup: linear, hash-groupBy — always safe at 100 TB
- n-gram Jaccard all-pairs: quadratic in shingle-bucket size — bounded here
  to a doc subset; correctness oracle for the LSH tier
- MinHash-LSH: linear candidate generation over the FULL corpus — the
  100 TB path
- SimHash: per-doc 16-bit signature, near-dups = signature collisions

Everything uses Spark's built-in md5 (portable to the DuckDB oracle) and
stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..checkpoints import ckpt
from ..functions.scalars import digits_int, md5_hex_int
from ..memo import corpus_memo
# perfbench/ reads the build log under this name: bind the tier's list itself, never a copy
from ..memo import MEMO_BUILD_LOG  # noqa: F401
from .helpers import T, spread
from .registry import query

# Shared SQL fragments for the oracle side (DuckDB).
_SQL_SHINGLES = """
pos AS (
  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
  FROM documents {where}
),
sh AS (SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle FROM pos)
"""


def corpus_minhash_sig(spark, sf_dir: str):
    """MEMOIZED canonical MinHash signature table — (doc_id, mh0..mh15),
    16 perms over character-5-gram shingles. The signature is a
    per-corpus-version artifact every near-dup consumer shares; a 100 TB
    pipeline computes it once at ingest and joins it thereafter."""
    return corpus_memo(
        spark,
        sf_dir,
        "sig",
        lambda: D.minhash_signature(
            D.shingles(T(spark, sf_dir, "documents"), distinct=False), num_perm=16
        ),
    )


def corpus_lsh_pairs(spark, sf_dir: str):
    """MEMOIZED canonical LSH candidate pair list — lsh_candidates over
    `corpus_minhash_sig` at the house 4-band × 4-row banding. Consumed by
    the graph-analytics family (k-core, PageRank, triangles, clustering
    coefficient, assortativity, dup-source attribution) and by the CC
    build below; the registered `minhash_lsh_candidates` query still
    computes the pipeline LIVE — it's the definition this memo caches."""
    return corpus_memo(
        spark,
        sf_dir,
        "pairs",
        lambda: D.lsh_candidates(
            corpus_minhash_sig(spark, sf_dir), bands=4, rows_per_band=4
        ),
    )


def corpus_lsh_pairs_banded(spark, sf_dir: str):
    """MEMOIZED banded candidate counts — (a, b, n_bands), the
    count_bands variant of `corpus_lsh_pairs` (shared-band count is the
    signature-agreement rank the verify tier budgets by). Consumed by
    `neardup_levenshtein_confirm` and `lsh_scurve_calibration`."""
    return corpus_memo(
        spark,
        sf_dir,
        "pairs_banded",
        lambda: D.lsh_candidates(
            corpus_minhash_sig(spark, sf_dir),
            bands=4,
            rows_per_band=4,
            count_bands=True,
        ),
    )


def corpus_components(spark, sf_dir: str):
    """MEMOIZED corpus near-dup component table (VERDICT r10 item #6).

    Five registered queries (`neardup_components`,
    `neardup_canonical_keep`, `group_aware_split_assign`,
    `group_aware_kfold`, `dedup_savings_forecast`) consume the identical
    CC fixpoint over the identical LSH pair graph (shingles → 16-perm
    MinHash → 4×4 LSH bands). Recomputing the iterative fixpoint per
    query is the single largest cost in the registry (5.6–5.9 s apiece
    at sf0.1); a 100 TB deployment would materialize the component-id
    table once per corpus version and join against it — the same W7
    memoization contract as the climatology normals
    (pipelines.py::run_anomaly_batch).

    Returns (node, component) — exactly connected_components' output, so
    every consumer's result (and hash) is unchanged. (Keying, atomic
    publish and location rules live in `memo.publish_once`; the build chains
    off the memoized pair list, so a cold cache materializes sig → pairs
    → components in one pass each.)"""
    return corpus_memo(
        spark,
        sf_dir,
        "cc",
        lambda: D.connected_components(corpus_lsh_pairs(spark, sf_dir)),
    )


@query(
    "exact_dedup_documents",
    oracle="""
SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY digest
""",
    tags=("dedup", "exact"),
)
def exact_dedup_documents(spark, sf_dir):
    """Exact dedup: md5-digest groupBy, min-id survivor (deterministic, not
    dropDuplicates). One shuffle on digest, partial-aggregated map-side.
    """
    return D.exact_dedup(T(spark, sf_dir, "documents")).orderBy("digest")


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="WHERE doc_id < 200")},
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
inter AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS n_common
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2
)
SELECT i.a, i.b, i.n_common, sa.n_shingles AS na, sb.n_shingles AS nb,
       round(i.n_common / (sa.n_shingles + sb.n_shingles - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.a = sa.doc_id
JOIN sizes sb ON i.b = sb.doc_id
WHERE round(i.n_common / (sa.n_shingles + sb.n_shingles - i.n_common), 6) >= 0.5
ORDER BY a, b
""",
    tags=("dedup", "jaccard", "ngram"),
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Character-5-gram Jaccard similarity pairs (threshold 0.5) over a
    bounded doc subset. The shingle self-join is quadratic in bucket size —
    this query is the exact-correctness oracle; `minhash_lsh_candidates`
    below is the linear approximation used at scale.
    """
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sh = D.shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        D.jaccard_pairs(sh, sizes, threshold=0.5)
        .select("a", "b", "n_common", "na", "nb", "jaccard")
        .orderBy("a", "b")
    )


@query(
    "minhash_lsh_candidates",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="")},
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
)
SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
FROM capped b1 JOIN capped b2
  ON b1.band = b2.band AND b1.band_hash = b2.band_hash AND b1.doc_id < b2.doc_id
ORDER BY a, b
""",
    tags=("dedup", "minhash", "lsh"),
)
def minhash_lsh_candidates(spark, sf_dir):
    """MinHash (16 perms) + LSH (4 bands × 4 rows) near-dup candidates over
    the FULL corpus — the 100 TB dedup path: signature cost is linear in
    total shingles, candidate generation shuffles on (band, band_hash) so
    no all-pairs join ever materializes. Permutations are keyed md5s and
    the signature element is the lexicographic-min digest (engine-portable,
    no RNG).
    """
    docs = T(spark, sf_dir, "documents")
    sig = D.minhash_signature(D.shingles(docs, distinct=False), num_perm=16)
    return D.lsh_candidates(sig, bands=4, rows_per_band=4).orderBy("a", "b")


def _simhash_bits_sql(src: str, nbits: int = 16) -> str:
    """Generate the 16-bit simhash expression (portable SQL): bit j is the
    sign of the sum over shingles of ±1 by the j-th hex nibble's high bit
    of md5(shingle)."""
    bits = []
    for j in range(nbits):
        bits.append(
            f"CASE WHEN sum(CASE WHEN substr(md5(shingle), {j + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


def _simhash_bits_spark(nbits: int) -> str:
    """Spark twin of _simhash_bits_sql/_simhash_bits_sql64 — identical
    bits via two `md5_hex_int` parses of the md5 prefix plus integer
    shift/mask sums instead of per-bit string compares (optimization
    r13). Equivalences: the first 8/16 hex digits
    parse MSB-first into two 32-bit lanes, so the old "bit (3 − j%4) of
    nibble (j//4 + 1)" is bit (31 − j) of lane 1 for j < 32 and bit
    (63 − j) of lane 2 otherwise (16-bit form: the nibble HIGH bit =
    bit 31 − 4j); and sign(Σ ±1) > 0 ⇔ 2·Σ bit > count(*) exactly in
    integers. The oracle keeps the portable text."""
    h1, h2 = md5_hex_int("shingle"), md5_hex_int("shingle", start=9)
    bits = []
    for j in range(nbits):
        if nbits == 16:
            src, k = (h1, 31 - 4 * j) if j < 8 else (h2, 31 - 4 * (j - 8))
        else:
            src, k = (h1, 31 - j) if j < 32 else (h2, 63 - j)
        bits.append(
            f"CASE WHEN 2 * sum((shiftright({src}, {k}) & 1)) > count(*) "
            "THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


@query(
    "simhash_signatures",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="")},
sigs AS (
  SELECT doc_id, {_simhash_bits_sql('sh')} AS simhash
  FROM sh GROUP BY doc_id
)
SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS bucket_size
FROM sigs
ORDER BY doc_id
""",
    tags=("dedup", "simhash"),
)
def simhash_signatures(spark, sf_dir):
    """SimHash: 16-bit per-doc signature from shingle md5 nibbles; docs
    sharing a signature (bucket_size > 1) are near-dup candidates. Linear
    cost, one groupBy(doc_id) + one window on the 16-bit signature.
    """
    docs = T(spark, sf_dir, "documents")
    sh = D.shingles(docs)
    sigs = sh.groupBy("doc_id").agg(F.expr(_simhash_bits_spark(16)).alias("simhash"))
    from pyspark.sql import Window as W

    return (
        sigs.withColumn("bucket_size", F.count("*").over(W.partitionBy("simhash")))
        .select("doc_id", "simhash", "bucket_size")
        .orderBy("doc_id")
    )


@query(
    "chunk_exact_dedup",
    oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
chunks AS (
  SELECT doc_id,
         array_to_string(w[i * 12 + 1 : i * 12 + 12], ' ') AS chunk
  FROM words,
       LATERAL (SELECT unnest(generate_series(0, CAST(ceil(len(w) / 12.0) AS INT) - 1)) AS i) s
)
SELECT md5(chunk) AS digest,
       min(doc_id) AS keep_doc,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM chunks
GROUP BY 1
ORDER BY digest
""",
    tags=("dedup", "chunk", "llm"),
)
def chunk_exact_dedup(spark, sf_dir):
    """Sub-document (chunk-level) exact dedup — the paragraph-granularity
    rung of the dedup ladder for corpora whose duplication is partial
    (boilerplate headers, quoted passages): documents split into fixed
    12-word chunks, digested, and inventoried by digest with the smallest
    owning doc as canonical. Same linear hash-groupBy shape as doc-level
    exact dedup; the explode multiplies rows by ~len/12 BEFORE the
    shuffle, so the partial aggregation still combines map-side."""
    docs = T(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, CAST(ceil(size(split(text, ' ')) / 12.0) AS INT) - 1),"
                " i -> array_join(slice(split(text, ' '), i * 12 + 1, 12), ' '))"
            )
        ).alias("chunk"),
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("digest"))
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("digest")
    )


# The full MinHash-LSH → transitive-closure → min-label chain, shared by
# the neardup_components oracle and the canonical-keep composition in
# curation_more.py. Expects `sh` (doc_id, shingle) in scope; yields
# `labels` (node, component) for every node in a component of size ≥ 2.
_SQL_CC_LABELS = """
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
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b, a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src AS node, least(min(dst), src) AS component FROM reach GROUP BY src
)"""


@query(
    "neardup_components",
    oracle=f"""
WITH RECURSIVE
{_SQL_SHINGLES.format(where="")},{_SQL_CC_LABELS}
SELECT node AS doc_id, component AS component_id,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS component_size
FROM labels
QUALIFY component_size > 1
ORDER BY doc_id
""",
    tags=("dedup", "minhash", "lsh", "components", "llm"),
)
def neardup_components(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash-LSH candidate pairs →
    connected components (iterative min-label propagation,
    operators/dedup.py::connected_components) → one canonical id per
    near-dup GROUP, not per pair — the assignment a dedup pipeline
    actually applies. Transitive chains (A~B, B~C but A≁C in LSH) resolve
    to one component, which no single SQL pass can express; correctness
    is pinned by pytest on known chain/island graphs PLUS, since round 4,
    a full hash oracle: DuckDB's WITH RECURSIVE computes the transitive
    closure of the same LSH edge set and labels each node with its
    reachable minimum — the fixpoint the iterative Spark operator
    converges to. (The closure is the oracle-tier algorithm only — O(sum
    of component²) rows; the distributed pointer-doubling operator
    remains the scale path.) Output: every doc in a component of size >
    1, its component id, and the component size."""
    from pyspark.sql import Window as W

    comp = corpus_components(spark, sf_dir)
    return (
        comp.withColumn("component_size", F.count("*").over(W.partitionBy("component")))
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("component_id"),
            "component_size",
        )
        .orderBy("doc_id")
    )


@query(
    "chunk_minhash_neardup",
    oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
chunks AS (
  SELECT doc_id * 1000 + i AS chunk_key,
         array_to_string(w[i * 12 + 1 : i * 12 + 12], ' ') AS chunk
  FROM words,
       LATERAL (SELECT unnest(generate_series(0, CAST(ceil(len(w) / 12.0) AS INT) - 1)) AS i) s
),
pos AS (
  SELECT chunk_key, chunk, unnest(generate_series(1, greatest(length(chunk) - 4, 1))) AS i
  FROM chunks
),
sh AS (SELECT DISTINCT chunk_key, substr(chunk, i, 5) AS shingle FROM pos),
perms AS (SELECT chunk_key, shingle, unnest(generate_series(0, 15)) AS perm FROM sh),
sig AS (
  SELECT chunk_key, perm, min(md5(concat(perm, '|', shingle))) AS minhash
  FROM perms GROUP BY 1, 2
),
banded AS (
  SELECT chunk_key, CAST(perm // 4 AS INTEGER) AS band,
         md5(string_agg(minhash, '|' ORDER BY perm)) AS band_hash
  FROM sig GROUP BY chunk_key, CAST(perm // 4 AS INTEGER)
),
capped AS (
  SELECT chunk_key, band, band_hash FROM (
    SELECT chunk_key, band, band_hash,
           row_number() OVER (PARTITION BY band, band_hash ORDER BY chunk_key) AS rn
    FROM banded
  ) WHERE rn <= 1000
),
cpairs AS (
  SELECT DISTINCT b1.chunk_key AS a, b2.chunk_key AS b
  FROM capped b1 JOIN capped b2
    ON b1.band = b2.band AND b1.band_hash = b2.band_hash AND b1.chunk_key < b2.chunk_key
)
SELECT a // 1000 AS doc_a, b // 1000 AS doc_b, count(*) AS n_chunk_pairs
FROM cpairs WHERE a // 1000 <> b // 1000
GROUP BY a // 1000, b // 1000
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "minhash", "lsh", "chunk", "llm"),
)
def chunk_minhash_neardup(spark, sf_dir):
    """Chunk-granularity MinHash-LSH: near-dup detection for PARTIAL
    duplication (quoted passages, shared boilerplate) that doc-level
    signatures dilute away. Documents split into 12-word chunks keyed
    ``doc_id*1000 + idx``; each chunk gets its own 16-perm signature and
    4×4 LSH banding via the same operators as the doc tier — the whole
    ladder (exact → chunk-exact → doc-LSH → chunk-LSH) reuses one
    engine. Output: cross-document pairs ranked by how many chunk-level
    near-dup links connect them. Same linear shuffle structure as
    ``minhash_lsh_candidates``, just on ~len/12× more keys — at 100 TB
    the chunk tier costs one more explode, not a new algorithm."""
    docs = spread(T(spark, sf_dir, "documents"))
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, CAST(ceil(size(split(text, ' ')) / 12.0) AS INT) - 1),"
                " i -> array_join(slice(split(text, ' '), i * 12 + 1, 12), ' '))"
            )
        ).alias("idx", "chunk"),
    ).select((F.col("doc_id") * 1000 + F.col("idx")).alias("chunk_key"), "chunk")
    sig = D.minhash_signature(
        D.shingles(chunks, id_col="chunk_key", text_col="chunk", distinct=False),
        id_col="chunk_key",
        num_perm=16,
    )
    pairs = D.lsh_candidates(sig, id_col="chunk_key", bands=4, rows_per_band=4)
    return (
        pairs.filter(F.expr("a div 1000") != F.expr("b div 1000"))
        .groupBy(
            F.expr("a div 1000").alias("doc_a"),
            F.expr("b div 1000").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_chunk_pairs"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "neardup_levenshtein_confirm",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="")},
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
  SELECT b1.doc_id AS a, b2.doc_id AS b, count(*) AS n_bands
  FROM capped b1 JOIN capped b2
    ON b1.band = b2.band AND b1.band_hash = b2.band_hash AND b1.doc_id < b2.doc_id
  GROUP BY 1, 2
),
vcap AS (
  SELECT a, b FROM (
    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY n_bands DESC, b) AS vrk
    FROM pairs
  ) WHERE vrk <= 20
),
confirmed AS (
  SELECT p.a, p.b,
         CAST(levenshtein(substr(da.text, 1, 200), substr(db.text, 1, 200)) AS BIGINT)
           AS lev,
         CAST(greatest(length(substr(da.text, 1, 200)),
                       length(substr(db.text, 1, 200))) AS BIGINT) AS max_len
  FROM vcap p
  JOIN documents da ON p.a = da.doc_id
  JOIN documents db ON p.b = db.doc_id
)
SELECT a, b,
       CASE WHEN lev > 80 THEN NULL ELSE lev END AS edit_dist,
       CASE WHEN lev > 80 THEN NULL
            ELSE round(CAST(lev AS DOUBLE) / max_len, 6) END AS rel_dist,
       coalesce(CAST(lev AS DOUBLE) / max_len <= 0.4, false) AS confirmed
FROM confirmed
ORDER BY a, b
""",
    tags=("dedup", "levenshtein", "verify", "llm"),
)
def neardup_levenshtein_confirm(spark, sf_dir):
    """The candidate→verify rung of the dedup ladder: MinHash-LSH recalls
    candidate pairs (linear, the 100 TB path), then an EXACT edit-distance
    check confirms each pair on its 200-char prefix — the expensive
    quadratic-per-pair verifier runs only on the LSH-bounded candidate
    set, never all-pairs (the same shape production dedup uses: cheap
    recall tier, exact precision tier). levenshtein is built-in on both
    engines with identical insert/delete/substitute semantics, so the
    confirmation is oracled end-to-end. The pair joins carry no broadcast
    hint (round 6): the candidate set grows linearly with the corpus —
    dup-density-bounded, not structurally bounded — so AQE picks the
    strategy at runtime.

    The candidate subtree is ``localCheckpoint``-ed before the joins: the
    signature DAG (shingle explode + 16-way min agg + banding) is by far
    the dominant cost, and leaving it inline lets the broadcast build,
    AQE re-planning, and the final sort each re-reference it (round-3
    verdict measured the inline form at ~2× the candidates-only query;
    the confirm rung should cost candidates + one broadcast join). The
    materialized pairs are tiny (near-dup pairs only), so checkpointing
    them is bounded state, not a data copy; a plan-quality test pins
    that the confirm plan contains no shingle-explode subtree."""
    docs = T(spark, sf_dir, "documents")
    # memoized banded counts (corpus_lsh_pairs_banded): materialized
    # parquet — no shingle/signature re-derivation in this plan
    raw = corpus_lsh_pairs_banded(spark, sf_dir)
    # Per-doc verify budget (round-7 Zipf skew soak): under genuinely
    # skewed shingle keys the candidate set inflated 111× for 10× docs
    # (5,845 → 647,772 pairs) and the verify rung went super-linear
    # (per-10× 2.58) even with the banded DP — the cost is pair-COUNT-
    # bound, not per-pair-bound. Each document therefore verifies only
    # a budget of 20 partners, RANKED BY SIGNATURE AGREEMENT (shared-
    # band count desc, then smallest id): total verify work is
    # ≤ docs × 20 for ANY key distribution. Round-9 recall measurement
    # on the zipf-10× fixture (SCALE.md): smallest-id ranking kept
    # 2,786 of 3,626 true confirmed pairs (recall 0.77 — hot buckets
    # spray low-id spurious candidates that evict true near-dups);
    # band-count ranking keeps 3,080 (recall 0.85) at IDENTICAL work.
    # Measured: 326k capped pairs at zipf-10×, per-10× back under the
    # gate. The oracle replays the cap and its ranking (vcap CTE).
    wv = W.partitionBy("a").orderBy(F.desc("n_bands"), "b")
    pairs = (
        raw.withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") <= 20)
        .drop("vrk", "n_bands")
        .transform(ckpt)  # docs x 20 rows: data-sized -> durable cut
    )
    # spread the prefix scans (optimization r13): the banded-Levenshtein
    # DP below executes in the stage that scans documents — a single
    # task on the one-row-group fixture — so the whole verify rung was
    # single-threaded; no-op at real multi-file scale
    docs = spread(docs)
    da = docs.select(F.col("doc_id").alias("a"), F.substring("text", 1, 200).alias("ta"))
    db = docs.select(F.col("doc_id").alias("b"), F.substring("text", 1, 200).alias("tb"))
    # Banded Levenshtein with threshold 80 = 0.4 × the 200-char prefix —
    # the largest distance any `confirmed` verdict can need, so every
    # verdict is still exact. Beyond the band the DP short-circuits
    # (|len_a − len_b| > 80 never runs a single DP cell), which is what
    # keeps the verify rung linear-in-candidates when the candidate set
    # is collision-heavy: the round-6 native-sf1 soak measured 82× LSH
    # candidates at 10× docs (bounded-vocabulary fixture) and the uncapped
    # DP paid full O(L²) on every false positive. edit_dist/rel_dist are
    # NULL for pairs past the band (confirmed is false either way).
    lev_raw = F.levenshtein("ta", "tb", 80)
    lev = F.when(lev_raw >= 0, lev_raw).cast("bigint")
    max_len = F.greatest(F.length("ta"), F.length("tb")).cast("bigint")
    return (
        da.join(pairs, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            lev.alias("edit_dist"),
            F.round(lev.cast("double") / max_len, 6).alias("rel_dist"),
            F.coalesce(lev.cast("double") / max_len <= 0.4, F.lit(False)).alias(
                "confirmed"
            ),
        )
        .orderBy("a", "b")
    )


@query(
    "minhash_jaccard_estimate",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="")},
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
)
SELECT p.a, p.b,
       CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS BIGINT)
         AS n_equal_components,
       round(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 16.0, 6)
         AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.a
JOIN sig sb ON sb.doc_id = p.b AND sb.perm = sa.perm
GROUP BY p.a, p.b
ORDER BY a, b
""",
    tags=("dedup", "minhash", "sketch", "llm"),
)
def minhash_jaccard_estimate(spark, sf_dir):
    """Sketch-quality measurement: for every LSH candidate pair, estimate
    Jaccard similarity FROM THE SIGNATURES ALREADY COMPUTED — the
    fraction of equal minhash components is an unbiased Jaccard
    estimator, so the recall tier can grade its own candidates without
    touching the raw text. The signature table is computed once
    (localCheckpoint, same single-materialization discipline as the
    levenshtein confirm rung); pairs join into a 16-column equality
    projection (no broadcast hint — candidate sets are corpus-linear, AQE
    decides) — no shingle re-derivation, no text access. At 100 TB this
    is the cheap scoring pass that decides which candidates deserve the
    exact verifier."""
    # memoized per-corpus signature + pair tables (corpus_minhash_sig /
    # corpus_lsh_pairs): materialized parquet, no ckpt needed
    sig = corpus_minhash_sig(spark, sf_dir)
    pairs = corpus_lsh_pairs(spark, sf_dir)
    sa = sig.select(F.col("doc_id").alias("a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(16)])
    sb = sig.select(F.col("doc_id").alias("b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(16)])
    n_eq = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(16))
    return (
        sa.join(pairs, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            n_eq.cast("bigint").alias("n_equal_components"),
            F.round(n_eq / 16.0, 6).alias("est_jaccard"),
        )
        .orderBy("a", "b")
    )


@query(
    "neardup_triangles",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="")},
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
)
SELECT e1.a AS x, e1.b AS y, e2.b AS z
FROM pairs e1
JOIN pairs e2 ON e2.a = e1.b
JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
ORDER BY x, y, z
""",
    tags=("dedup", "graph", "triangles", "llm"),
)
def neardup_triangles(spark, sf_dir):
    """Triangle enumeration over the near-dup candidate graph: three
    mutually-similar documents (x<y<z with all three LSH edges present).
    Dense triangle neighbourhoods are the strongest dedup signal — a
    clique of near-dups collapses to one canonical doc with high
    confidence, while a bare path (A~B~C, no A~C edge) warrants the
    exact verifier first. Plan shape: the ordered edge list joins itself
    on the shared middle node, then a semi-closing join checks the third
    edge — cost is bounded by the candidate graph (sparse by LSH
    construction, hot buckets capped), never by corpus size. The pair
    list is the memoized per-corpus parquet (corpus_lsh_pairs), read
    three ways by the self-join — no recompute, no ckpt."""
    # memoized canonical pair list (corpus_lsh_pairs): materialized
    # parquet, no ckpt needed
    pairs = corpus_lsh_pairs(spark, sf_dir)
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .select("x", "y", "z")
        .orderBy("x", "y", "z")
    )


@query(
    "ngram_containment_pairs",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="WHERE doc_id < 200")},
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
inter AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_common,
       CAST(sa.n_shingles AS BIGINT) AS na,
       CAST(sb.n_shingles AS BIGINT) AS nb,
       CAST(n_common AS DOUBLE) / CAST(sa.n_shingles AS DOUBLE) AS cont_a_in_b,
       CAST(n_common AS DOUBLE) / CAST(sb.n_shingles AS DOUBLE) AS cont_b_in_a
FROM inter i
JOIN sizes sa ON i.a = sa.doc_id
JOIN sizes sb ON i.b = sb.doc_id
WHERE greatest(CAST(n_common AS DOUBLE) / CAST(sa.n_shingles AS DOUBLE),
               CAST(n_common AS DOUBLE) / CAST(sb.n_shingles AS DOUBLE)) >= 0.7
ORDER BY a, b
""",
    tags=("dedup", "containment", "ngram"),
)
def ngram_containment_pairs(spark, sf_dir):
    """Asymmetric n-gram CONTAINMENT pairs (Broder 1997's second
    resemblance measure): containment(A in B) = |A∩B| / |A| over the
    5-gram shingle sets. Catches what symmetric Jaccard misses — a short
    document wholly quoted inside a long one scores containment ≈ 1 with
    Jaccard ≈ |A|/|B| ≈ 0 — the sub-document duplication case
    (boilerplate inclusion, quote farms) a dedup pipeline must treat
    differently from near-identity. Same bounded-subset exact-verifier
    role as `ngram_jaccard_pairs` (the shingle self-join is quadratic in
    bucket size; the LSH tier is the scale path); both containment
    directions are single IEEE divides of exact BIGINTs — bit-identical
    cross-engine (no round() at half boundaries). Threshold: either
    direction >= 0.7."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sh = D.shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    s1 = sh.select(F.col("doc_id").alias("a"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        s1.join(s2, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_shingles").alias("nb"))
    cont_a = F.col("n_common").cast("double") / F.col("na").cast("double")
    cont_b = F.col("n_common").cast("double") / F.col("nb").cast("double")
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .filter(F.greatest(cont_a, cont_b) >= 0.7)
        .select(
            "a",
            "b",
            "n_common",
            F.col("na").cast("bigint").alias("na"),
            F.col("nb").cast("bigint").alias("nb"),
            cont_a.alias("cont_a_in_b"),
            cont_b.alias("cont_b_in_a"),
        )
        .orderBy("a", "b")
    )


@query(
    "lsh_scurve_calibration",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="")},
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
  SELECT b1.doc_id AS a, b2.doc_id AS b, CAST(count(*) AS BIGINT) AS n_bands
  FROM capped b1 JOIN capped b2
    ON b1.band = b2.band AND b1.band_hash = b2.band_hash AND b1.doc_id < b2.doc_id
  GROUP BY 1, 2
),
agree AS (
  SELECT p.a, p.b, p.n_bands,
         CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.a
  JOIN sig sb ON sb.doc_id = p.b AND sb.perm = sa.perm
  GROUP BY p.a, p.b, p.n_bands
),
lvl AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(n_bands) AS BIGINT) AS sum_bands
  FROM agree GROUP BY k
)
SELECT k AS agreement,
       CAST(k AS DOUBLE) / 16.0 AS est_jaccard,
       n_pairs,
       CAST(sum_bands AS DOUBLE) / n_pairs AS avg_bands_observed,
       CAST(4 * k*k*k*k AS DOUBLE) / 65536.0 AS expected_bands_unconditional,
       1.0 - ((1.0 - CAST(k*k*k*k AS DOUBLE) / 65536.0) * (1.0 - CAST(k*k*k*k AS DOUBLE) / 65536.0))
           * ((1.0 - CAST(k*k*k*k AS DOUBLE) / 65536.0) * (1.0 - CAST(k*k*k*k AS DOUBLE) / 65536.0))
         AS scurve_collision_prob,
       CASE WHEN k = 0 THEN NULL ELSE
         (CAST(4 * k*k*k*k AS DOUBLE) / 65536.0)
         / (1.0 - ((1.0 - CAST(k*k*k*k AS DOUBLE) / 65536.0) * (1.0 - CAST(k*k*k*k AS DOUBLE) / 65536.0))
                * ((1.0 - CAST(k*k*k*k AS DOUBLE) / 65536.0) * (1.0 - CAST(k*k*k*k AS DOUBLE) / 65536.0)))
       END AS expected_bands_given_candidate
FROM lvl
ORDER BY agreement
""",
    tags=("dedup", "minhash", "lsh", "calibration", "observability", "llm"),
)
def lsh_scurve_calibration(spark, sf_dir):
    """LSH parameterization self-calibration — the observability query a
    100 TB dedup pipeline runs to check that (bands=4, rows=4) matches
    the similarity regime it actually sees: candidate pairs are bucketed
    by signature agreement k (equal minhash components of 16, the
    unbiased Jaccard estimate k/16), and each level compares the
    OBSERVED mean shared-band count against the S-curve model —
    P(band match | s) = s^4, P(candidate | s) = 1-(1-s^4)^4,
    E[bands | candidate] = 4·s^4 / (1-(1-s^4)^4). Observed tracking the
    model says the minhash components behave independently (the Broder
    assumption); observed ≪ expected flags correlated components
    (broken hashing) and tells the operator the S-curve threshold the
    tier is REALLY applying before they resize bands/rows.

    Float determinism: s^4 at agreement k is k⁴/65536 — an integer over
    a power of two, EXACT in binary floating point — and every further
    op is a fixed tree of exact-or-correctly-rounded IEEE arithmetic,
    identical in both engines; the observed mean is one exact division
    of two BIGINTs.

    At 100 TB: signatures checkpoint once; the per-pair agreement is the
    same 16-column equality projection as minhash_jaccard_estimate; the
    output is ≤ 17 rows (k = 4 bands × 4 rows forces k ≥ 4 for any
    candidate, so in practice ≤ 13)."""
    # signature and banded counts both from the corpus memos
    sig = corpus_minhash_sig(spark, sf_dir)
    pairs = corpus_lsh_pairs_banded(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(16)]
    )
    sb = sig.select(
        F.col("doc_id").alias("b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(16)]
    )
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(16)
    )
    agree = (
        sa.join(pairs, "a")
        .join(sb, "b")
        .select("a", "b", "n_bands", n_eq.cast("bigint").alias("k"))
    )
    lvl = agree.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("n_bands").cast("bigint").alias("sum_bands"),
    )
    s4 = "CAST(k*k*k*k AS DOUBLE) / 65536.0"
    q2 = f"((1.0 - {s4}) * (1.0 - {s4}))"
    coll = f"1.0 - ({q2} * {q2})"
    return lvl.select(
        F.col("k").alias("agreement"),
        F.expr("CAST(k AS DOUBLE) / 16.0").alias("est_jaccard"),
        "n_pairs",
        F.expr("CAST(sum_bands AS DOUBLE) / n_pairs").alias("avg_bands_observed"),
        F.expr(f"CAST(4 * k*k*k*k AS DOUBLE) / 65536.0").alias(
            "expected_bands_unconditional"
        ),
        F.expr(coll).alias("scurve_collision_prob"),
        F.expr(
            f"CASE WHEN k = 0 THEN NULL ELSE (CAST(4 * k*k*k*k AS DOUBLE) / 65536.0) / ({coll}) END"
        ).alias("expected_bands_given_candidate"),
    ).orderBy("agreement")


@query(
    "dedup_savings_forecast",
    oracle=f"""
WITH RECURSIVE
{_SQL_SHINGLES.format(where="")},{_SQL_CC_LABELS},
tok AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
lab AS (
  SELECT t.doc_id, coalesce(l.component, t.doc_id) AS component_id, t.n_tokens
  FROM tok t LEFT JOIN labels l ON t.doc_id = l.node
),
comp AS (
  SELECT component_id,
         CAST(count(*) AS BIGINT) AS size,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(min_by(n_tokens, doc_id) AS BIGINT) AS kept_tokens
  FROM lab GROUP BY component_id
)
SELECT size AS component_size,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(sum(size) AS BIGINT) AS n_docs,
       CAST(sum(total_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(total_tokens - kept_tokens) AS BIGINT) AS saved_tokens
FROM comp
GROUP BY size
ORDER BY component_size
""",
    tags=("dedup", "components", "forecast", "observability", "llm"),
)
def dedup_savings_forecast(spark, sf_dir):
    """The decision-support readout of the near-dup tier: fold the CC
    component structure into a size histogram with token economics —
    per component size, how many components, how many documents, their
    total whitespace-token mass, and the tokens SAVED under the
    keep-min-id-per-component policy (size-1 "components" are the
    untouched singleton rows, saved = 0). This is the table a curation
    owner reads to decide whether running the dedup pass pays for
    itself at the next scale-up.

    Determinism: min_by(n_tokens, doc_id) is tie-free (doc_id unique
    within a component). Scale: cost IS the CC pass (already soaked at
    `neardup_components`); the token counts ride the labels left-join
    and the histogram fold is bounded by the number of distinct
    component sizes — constant-sized observability, the
    lsh/prefix_bucket_stats contract."""
    from pyspark.sql import Window as W

    docs = T(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    comp = corpus_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    lab = tok.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component_id"),
        "n_tokens",
    )
    per_comp = lab.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("size"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr("CAST(min_by(n_tokens, doc_id) AS BIGINT)").alias("kept_tokens"),
    )
    return (
        per_comp.groupBy("size")
        .agg(
            F.count("*").cast("bigint").alias("n_components"),
            F.sum("size").cast("bigint").alias("n_docs"),
            F.sum("total_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.col("total_tokens") - F.col("kept_tokens"))
            .cast("bigint")
            .alias("saved_tokens"),
        )
        .select(
            F.col("size").alias("component_size"),
            "n_components",
            "n_docs",
            "total_tokens",
            "saved_tokens",
        )
        .orderBy("component_size")
    )


@query(
    "source_dedup_burden",
    oracle=f"""
WITH RECURSIVE
{_SQL_SHINGLES.format(where="")},{_SQL_CC_LABELS},
src AS (SELECT doc_id, source FROM documents),
per AS (
  SELECT s.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN l.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_neardup
  FROM src s LEFT JOIN labels l ON s.doc_id = l.node
  GROUP BY s.source
)
SELECT source, n_docs, n_neardup,
       CAST(n_neardup AS DOUBLE) / n_docs AS burden
FROM per
ORDER BY source
""",
    tags=("dedup", "components", "provenance", "observability", "llm"),
)
def source_dedup_burden(spark, sf_dir):
    """Which sources bring the duplication: per source, how many of its
    documents sit in a near-dup component (have at least one LSH
    partner), and the burden ratio — the provenance-level readout that
    pairs with `dedup_savings_forecast` (how much dedup saves) and
    `source_overlap_matrix` (who copies whom) when weighting a mixture:
    a high-burden source's raw size overstates its unique contribution.

    Scale: cost IS the CC-candidate pass (soaked at neardup_components);
    the source attribution is one doc_id-keyed left join and a
    source-keyed fold — output one row per source at any corpus."""
    docs = T(spark, sf_dir, "documents")
    # memoized canonical pair list (corpus_lsh_pairs): materialized
    # parquet — both endpoint projections read the same files
    pairs = corpus_lsh_pairs(spark, sf_dir)
    members = (
        pairs.selectExpr("a AS node")
        .unionAll(pairs.selectExpr("b AS node"))
        .distinct()
    )
    src = docs.select("doc_id", "source")
    return (
        src.join(members, src.doc_id == members.node, "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("node").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_neardup"),
        )
        .select(
            "source",
            "n_docs",
            "n_neardup",
            (F.col("n_neardup").cast("double") / F.col("n_docs")).alias("burden"),
        )
        .orderBy("source")
    )


# Hex nibbles with bit position p set (p = 3 is the high bit). Used to
# unpack FOUR simhash bits per digest nibble: an md5 hex string is only
# 32 nibbles, so a 64-bit simhash needs more than one bit per nibble —
# reading substr positions 33..64 of a 32-char digest would silently
# yield constant bits (caught by the brute-force ground-truth test;
# `md5_hex_int` now refuses such a range).
_NIBBLE_BIT = {
    3: "'8','9','a','b','c','d','e','f'",
    2: "'4','5','6','7','c','d','e','f'",
    1: "'2','3','6','7','a','b','e','f'",
    0: "'1','3','5','7','9','b','d','f'",
}


def _simhash_bits_sql64() -> str:
    """64-bit simhash expression (portable SQL): bit j is the sign of the
    sum over shingles of +/-1 by bit (3 - j mod 4) of md5(shingle)'s
    nibble (j div 4 + 1) — all four bits of the first 16 nibbles."""
    bits = []
    for j in range(64):
        nib = j // 4 + 1
        vals = _NIBBLE_BIT[3 - (j % 4)]
        bits.append(
            f"CASE WHEN sum(CASE WHEN substr(md5(shingle), {nib}, 1) IN "
            f"({vals}) THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


def _hamming_sql(a: str, b: str, nbits: int = 64) -> str:
    """Portable positional Hamming distance between two fixed-width bit
    strings: an unrolled sum of per-position inequality terms (identical
    text in Spark SQL and DuckDB — no engine-specific bit intrinsics)."""
    return " + ".join(
        f"(CASE WHEN substr({a}, {i}, 1) <> substr({b}, {i}, 1) THEN 1 ELSE 0 END)"
        for i in range(1, nbits + 1)
    )


def _hamming_spark(a: str, b: str) -> str:
    """Spark twin of the 64-bit `_hamming_sql` (optimization r13): each
    64-char '0'/'1' signature parses as two 32-bit integer lanes
    (`digits_int`, base 2); positional inequality count = popcount of
    the XOR per lane — bit-identical to the 64 substr CASE terms,
    evaluated as 4 parses + 2 xor + 2 bit_count instead of 128 substr
    calls per candidate. The oracle keeps the portable unrolled text."""

    def lane(s: str, lo: int) -> str:
        return digits_int(s, lo, 32, base=2)

    return (
        f"(bit_count({lane(a, 1)} ^ {lane(b, 1)})"
        f" + bit_count({lane(a, 33)} ^ {lane(b, 33)}))"
    )


_SIMHASH_NEIGHBOR_CAP = 1000  # docs admitted per (block, value) bucket


@query(
    "simhash_hamming_neighbors",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="")},
sigs AS (SELECT doc_id, {_simhash_bits_sql64()} AS sig FROM sh GROUP BY doc_id),
reps AS (
  SELECT sig, min(doc_id) AS exemplar, CAST(count(*) AS BIGINT) AS n_docs
  FROM sigs GROUP BY sig
),
blocks AS (
  SELECT sig, exemplar, n_docs, b, substr(sig, CAST(b * 16 + 1 AS INT), 16) AS bv
  FROM reps, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) s
),
capped AS (
  SELECT sig, exemplar, n_docs, b, bv FROM (
    SELECT blocks.*, row_number() OVER (PARTITION BY b, bv ORDER BY sig) AS rn
    FROM blocks
  ) WHERE rn <= {_SIMHASH_NEIGHBOR_CAP}
),
cand AS (
  SELECT DISTINCT c1.sig AS sig_a, c1.exemplar AS exemplar_a, c1.n_docs AS docs_a,
                  c2.sig AS sig_b, c2.exemplar AS exemplar_b, c2.n_docs AS docs_b
  FROM capped c1 JOIN capped c2
    ON c1.b = c2.b AND c1.bv = c2.bv AND c1.sig < c2.sig
)
SELECT sig_a, sig_b, CAST({_hamming_sql('sig_a', 'sig_b')} AS BIGINT) AS hamming,
       exemplar_a, docs_a, exemplar_b, docs_b
FROM cand
WHERE {_hamming_sql('sig_a', 'sig_b')} <= 3
ORDER BY sig_a, sig_b
""",
    tags=("dedup", "simhash", "lsh"),
)
def simhash_hamming_neighbors(spark, sf_dir):
    """SimHash near-duplicate detection at Hamming distance <= 3 via block
    decomposition (Manku, Jain & Das Sarma 2007, "Detecting Near-Duplicates
    for Web Crawling"): a 64-bit simhash per document, identical
    fingerprints collapsed to one representative first (Manku Sec. 3 does
    the same — exact dups are hamming 0 by construction), then the
    fingerprint split into 4 blocks of 16 bits. Any pair within Hamming 3
    differs in at most 3 blocks, so by pigeonhole it agrees on at least
    one — candidate generation is therefore 4 EQUI-joins on (block,
    block_value), never an all-pairs scan, and the verify step (the
    unrolled 64-term positional Hamming sum) runs only on candidates.

    Completes the simhash rung of the dedup ladder the way
    `minhash_lsh_candidates` completes the minhash rung:
    `simhash_signatures` computes signatures, this query finds the
    neighbor pairs.

    Scale: signatures are one linear groupBy over shingles; the
    representative frame is checkpointed once and read by both sides of
    the self-join; each (block, value) bucket admits at most
    1000 representatives (deterministic sig-ranked, the
    `minhash_lsh_candidates` cap discipline) so candidate volume is
    bounded even on corpora whose fingerprint entropy is low — on
    diverse web-scale content 16-bit blocks make buckets tiny (Manku
    Sec. 4), and the cap is the documented degradation for homogeneous
    corpora (this synthetic fixture's ~30-word vocabulary correlates
    fingerprint bits, the worst case). Verify cost is candidates x 64
    codegen CASE terms — no UDF, no cartesian.
    """
    docs = T(spark, sf_dir, "documents")
    sh = D.shingles(docs)
    sigs = sh.groupBy("doc_id").agg(
        F.expr(_simhash_bits_spark(64)).alias("sig")
    )
    reps = sigs.groupBy("sig").agg(
        F.min("doc_id").alias("exemplar"), F.count("*").alias("n_docs")
    )
    blocks = reps.select(
        "sig", "exemplar", "n_docs", F.explode(F.expr("sequence(0, 3)")).alias("b")
    ).withColumn("bv", F.expr("substr(sig, CAST(b * 16 + 1 AS INT), 16)"))
    # checkpoint AFTER the cap so the signature scan, the rank window and
    # the cap run exactly once — both sides of the self-join read the cut
    capped = ckpt(
        blocks.withColumn(
            "rn", F.row_number().over(W.partitionBy("b", "bv").orderBy("sig"))
        )
        .filter(F.col("rn") <= _SIMHASH_NEIGHBOR_CAP)
        .drop("rn")
    )
    c1 = capped.select(
        F.col("sig").alias("sig_a"),
        F.col("exemplar").alias("exemplar_a"),
        F.col("n_docs").alias("docs_a"),
        "b",
        "bv",
    )
    c2 = capped.select(
        F.col("sig").alias("sig_b"),
        F.col("exemplar").alias("exemplar_b"),
        F.col("n_docs").alias("docs_b"),
        "b",
        "bv",
    )
    cand = (
        c1.join(c2, ["b", "bv"])
        .filter(F.col("sig_a") < F.col("sig_b"))
        .select("sig_a", "exemplar_a", "docs_a", "sig_b", "exemplar_b", "docs_b")
        .distinct()
    )
    ham = _hamming_spark("sig_a", "sig_b")
    return (
        cand.withColumn("hamming", F.expr(f"CAST({ham} AS BIGINT)"))
        .filter(F.col("hamming") <= 3)
        .select(
            "sig_a", "sig_b", "hamming", "exemplar_a", "docs_a", "exemplar_b", "docs_b"
        )
        .orderBy("sig_a", "sig_b")
    )


@query(
    "lsh_quality_audit",
    oracle=f"""
WITH {_SQL_SHINGLES.format(where="WHERE doc_id < 200")},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1),
inter AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.a, i.b FROM inter i
  JOIN sizes sa ON i.a = sa.doc_id
  JOIN sizes sb ON i.b = sb.doc_id
  WHERE 2 * i.n_common >= sa.n_shingles + sb.n_shingles - i.n_common
),
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
cand AS (
  SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
  FROM banded b1 JOIN banded b2
    ON b1.band = b2.band AND b1.band_hash = b2.band_hash AND b1.doc_id < b2.doc_id
),
conf AS (
  SELECT CAST((SELECT count(*) FROM cand c JOIN truth t ON c.a = t.a AND c.b = t.b) AS BIGINT) AS tp,
         CAST((SELECT count(*) FROM cand c WHERE NOT EXISTS
               (SELECT 1 FROM truth t WHERE t.a = c.a AND t.b = c.b)) AS BIGINT) AS fp,
         CAST((SELECT count(*) FROM truth t WHERE NOT EXISTS
               (SELECT 1 FROM cand c WHERE c.a = t.a AND c.b = t.b)) AS BIGINT) AS fn
)
SELECT tp, fp, fn,
       CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE (1000000 * tp) // (tp + fp) END AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE (1000000 * tp) // (tp + fn) END AS BIGINT) AS recall_ppm
FROM conf
""",
    tags=("dedup", "lsh", "audit", "quality", "llm"),
)
def lsh_quality_audit(spark, sf_dir):
    """The LSH candidate tier grading ITSELF against exact ground truth
    on the bounded subset (doc_id < 200 — the `ngram_jaccard_pairs`
    exact-oracle tier): candidate pairs vs pairs with true character-
    5-gram Jaccard >= 0.5 (integer cross-multiplied threshold — no
    float division in the truth rule), reported as exact TP/FP/FN with
    precision/recall in integer ppm. The production dial this feeds:
    recall too low -> more bands/fewer rows per band; precision too
    low -> the verify tier pays (cross-checks `lsh_scurve_calibration`,
    which predicts these numbers from the S-curve; and `ann_recall_at_k`,
    the embedding tier's identical self-grade).

    Scale: everything lives on the bounded subset (quadratic exact tier
    by design, the house bounded-oracle contract); signatures and
    candidates on the subset are identical to the full corpus's
    restriction (band hashes are per-document). Output 1 row."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sh = ckpt(D.shingles(docs))
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_shingles"))
    s1 = sh.select(F.col("doc_id").alias("a"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        s1.join(s2, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_shingles").alias("nb"))
    truth = (
        inter.join(sa, "a")
        .join(sb, "b")
        .filter(2 * F.col("n_common") >= F.col("na") + F.col("nb") - F.col("n_common"))
        .select("a", "b")
    )
    sig = D.minhash_signature(sh, num_perm=16)
    cand = D.lsh_candidates(sig, bands=4, rows_per_band=4).select("a", "b")
    # ONE lazy plan (optimization r13, guide §5 — no driver-side actions
    # in the query path): both cand and truth are UNIQUE pair sets
    # (lsh_candidates ends in .distinct(); truth is a groupBy image), so
    # a single full-outer join classifies every pair as TP (both sides),
    # FP (candidate only) or FN (truth only) and one aggregation yields
    # the confusion row. The old form materialized truth and cand via
    # localCheckpoint and ran THREE sequential count() jobs at
    # construction (~5 s/rep at sf0.1); this executes as one job.
    joined = cand.withColumn("c", F.lit(1)).join(
        truth.withColumn("t", F.lit(1)), ["a", "b"], "full_outer"
    )
    conf = joined.agg(
        F.sum(F.when(F.col("c").isNotNull() & F.col("t").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("t").isNull(), 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(F.col("c").isNull(), 1).otherwise(0)).cast("bigint").alias("fn"),
    )
    # integer ppm via truncating div — all terms non-negative, so div
    # matches the old Python // exactly
    return conf.select(
        "tp",
        "fp",
        "fn",
        F.expr(
            "CAST(CASE WHEN tp + fp = 0 THEN 0"
            " ELSE (1000000 * tp) div (tp + fp) END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN tp + fn = 0 THEN 0"
            " ELSE (1000000 * tp) div (tp + fn) END AS BIGINT)"
        ).alias("recall_ppm"),
    )

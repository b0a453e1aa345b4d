"""Stored CDC chunk index — the third index lifecycle, at SUB-DOCUMENT
granularity: write / probe / append / retire over content-defined chunk
hashes (plans/cdc_chunks.py documents the chunking itself — LBFS
boundaries, Muthitacharoen 2001). The band index catches whole-document
near-dups, the IVF index embedding neighbors; this one catches a new
document QUOTING a stored passage, alignment-free, at ingest time —
without re-chunking history.

Layout contract (the same physics as the other two lifecycles): the
index stores (doc_id, chash, n_tokens) BUCKETED on chash, so a probe's
join against arriving batch chunks is Exchange-free on the index side.
Per-chash doc entries are capped (default 100, rank by doc_id —
beyond that a chunk is boilerplate, not quotation; the cap bounds both
storage and probe fan-out per chunk, the `lsh_candidates` argument),
the cap holds across appends by remaining-capacity admission, and
append is idempotent on the exact (doc_id, chash) key. Retention and
compaction go through ``operators/layout.py::rewrite_index``: ghost
owners would poison ``dup_of`` assignments and hold per-chunk capacity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoints import ckpt, ckpt_local
from ..sources.tables import spread
from .layout import write_capped_index

_W = 4  # rolling-window length (tokens) — must match plans/cdc_chunks.py
_D = 8  # boundary divisor -> expected chunk length (tokens)

# Spark-only operator: decode via one conv() (bit-equal to the instr
# nibble sum — the plans/sketches.py _HEX8_SPARK idiom). This expression
# runs inside higher-order-function lambdas, which Spark evaluates
# interpreted (no codegen, no common-subexpression elimination): the old
# eight-term form recomputed md5 once per nibble, 8 md5 calls per window.
_HEX8S = "(CAST(conv(substr(md5({v}), 1, 8), 16, 10) AS BIGINT))"


def cdc_chunk_rows(docs: DataFrame, durable: bool = False) -> DataFrame:
    """(doc_id[, source], chash, n_tokens) — one row per CDC chunk of
    ``docs`` (doc_id, text[, source]). The chunk array is built in ONE
    map-side projection and checkpointed BEFORE the explode (the
    ckpt-before-explode rule), so consumers never see the window
    lambdas and text never shuffles.

    ``durable``: probe-side calls run per streaming epoch on batch-sized
    recomputable input → local cut (default); the CORPUS-sized
    write_chunk_index build passes True so an executor loss mid-build
    doesn't abort the whole index build (the data-sized-state rule in
    checkpoints.py)."""
    win = f"concat_ws(' ', slice(w, i - {_W - 1}, {_W}))"
    bp = (
        f"CASE WHEN size(w) >= {_W} THEN "
        f"filter(sequence({_W}, size(w)), i -> ({_HEX8S.format(v=win)} % {_D}) = 0) "
        "ELSE array() END"
    )
    chunk = (
        "filter(transform(sequence(1, size(starts)), j -> named_struct("
        "'chash', md5(concat_ws(' ', slice(w, element_at(starts, j), "
        "greatest(element_at(ends, j) - element_at(starts, j) + 1, 0)))), "
        "'n_tokens', CAST(element_at(ends, j) - element_at(starts, j) + 1 AS BIGINT))), "
        "c -> c.n_tokens >= 1)"
    )
    carry = [c for c in ("source",) if c in docs.columns]
    spans = (
        # corpus-side callers read one unsplittable fixture file — spread
        # before the interpreted rolling-hash lambdas (no-op for batch
        # probes with no file scan, and at real multi-file scale)
        spread(docs)
        .select("doc_id", *carry, F.split("text", " ").alias("w"))
        .select("doc_id", *carry, "w", F.expr(bp).alias("bp"))
        .select(
            "doc_id",
            *carry,
            "w",
            F.expr("transform(concat(array(0), bp), x -> x + 1)").alias("starts"),
            F.expr("concat(bp, array(size(w)))").alias("ends"),
        )
    )
    cut = ckpt if durable else ckpt_local
    arr = cut(spans.select("doc_id", *carry, F.expr(chunk).alias("chunks")))
    return arr.select("doc_id", *carry, F.explode("chunks").alias("c")).select(
        "doc_id",
        *carry,
        F.col("c.chash").alias("chash"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def write_chunk_index(
    docs: DataFrame,
    table: str,
    buckets: int = 16,
    max_per_chunk: int = 100,
    mode: str = "overwrite",
    path: str | None = None,
    chunks: DataFrame | None = None,
) -> None:
    """Materialize the capped (doc_id, chash, n_tokens) CDC index,
    bucketed on chash. ``mode='append'`` admits only each chunk hash's
    remaining capacity (earlier ingests win; within a batch, smallest
    doc_id), and drops exact (doc_id, chash) re-ingests before ranking —
    the ``operators/layout.py::write_capped_index`` contract, shared with
    ``write_band_index``. The capacity aggregate groups on the bucketed
    table's own key, so it is Exchange-free on the index side.

    ``chunks``: pre-chunked (doc_id, chash, n_tokens) rows — the
    streaming loop chunks each micro-batch ONCE and hands the same frame
    to probe and append (review r11: the band loop's shared-signature
    discipline; without this the dominant per-batch cost ran twice).
    When omitted, the corpus build chunks ``docs`` itself (durable cut,
    see cdc_chunk_rows)."""
    if chunks is None:
        chunks = cdc_chunk_rows(docs, durable=(mode == "overwrite"))
    write_capped_index(
        chunks.select("doc_id", "chash", "n_tokens").distinct(),
        table,
        keys=["chash"],
        id_col="doc_id",
        cap=max_per_chunk,
        buckets=buckets,
        mode=mode,
        path=path,
    )


def probe_chunk_index(
    spark, batch_docs: DataFrame, table: str, chunks: DataFrame | None = None
) -> DataFrame:
    """Per arriving document: how much of it is already stored, at chunk
    granularity — (doc_id, n_chunks, n_shared, shared_tokens,
    dup_ratio_ppm, dup_of). ``dup_of`` is the smallest stored owner
    across the doc's shared chunks (self when nothing is shared);
    self-matches are excluded, so probing an already-appended batch is
    safe (the band/IVF probe contract). Join is chash-keyed with zero
    Exchange on the bucketed index side; fan-out per chunk is bounded
    by the stored cap. ``chunks``: pre-chunked rows (see
    write_chunk_index) so the streaming loop chunks once for both legs."""
    if chunks is None:
        chunks = cdc_chunk_rows(batch_docs)
    chunks = chunks.select("doc_id", "chash", "n_tokens").distinct()
    idx = spark.table(table).select(
        F.col("doc_id").alias("o_id"), F.col("chash").alias("i_chash")
    )
    # self-exclusion lives IN the join condition: a post-join filter
    # would drop a chunk whose only stored owner is the probing doc
    # itself — losing the chunk from n_chunks and, when every chunk is
    # self-owned, the whole doc from the output (caught by the
    # retire-cycle test; the oracle twin always had it in the ON clause)
    hits = (
        chunks.join(
            idx,
            (chunks.chash == idx.i_chash) & (idx.o_id != chunks.doc_id),
            "left",
        )
        .groupBy("doc_id", "chash", "n_tokens")
        .agg(F.min("o_id").alias("owner"))
    )
    per = hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("owner").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_shared"),
        F.sum(
            F.when(F.col("owner").isNotNull(), F.col("n_tokens")).otherwise(0)
        )
        .cast("bigint")
        .alias("shared_tokens"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("owner").alias("min_owner"),
    )
    return per.select(
        "doc_id",
        "n_chunks",
        "n_shared",
        "shared_tokens",
        F.expr("CAST((1000000 * shared_tokens) div total_tokens AS BIGINT)").alias(
            "dup_ratio_ppm"
        ),
        # no cast (review r11): the lifecycle is type-generic over doc_id;
        # probe_band_index returns the coalesced id uncast, and a bigint
        # cast would crash string-keyed corpora under ANSI
        F.coalesce("min_owner", "doc_id").alias("dup_of"),
        (F.col("n_shared") > 0).alias("is_dup"),
    )

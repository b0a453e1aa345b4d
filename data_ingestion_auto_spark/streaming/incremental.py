"""Structured Streaming recompositions of the reference's incremental
semantics (SURVEY §2.9 W1-W10).

Mapping:
- W1 fixed-interval trigger  → trigger(processingTime=...) / availableNow
  for catch-up backfill (W4: the reference advances one period per tick
  from 1981; availableNow processes all pending input with per-batch
  commit atomicity, resuming correctly mid-backfill)
- W2 single-flight           → one query per checkpoint (inherent)
- W3 watermark/offset        → checkpointed source offsets; event-time
  lateness via withWatermark
- W6 tumbling windows        → window(ts, ...); calendar months via
  date_trunc (pentads need the when-chain — functions.pentad_of_day)
- W9 idempotent re-publication → foreachBatch + dynamic partition
  overwrite (sinks.overwrite_partitions)
- W10 session grouping       → session_window (native)

All functions take/return DataFrames so batch tests can drive them with
`availableNow` + memory sink and `processAllAvailable()`.

The four index-ingest loops below (band / IVF / CDC / postings) share a
skeleton (empty-guard → cold-start/bootstrap → catalog refresh → local
cut → probe/append → refresh) but are deliberately NOT folded into one
parameterized helper: their differences are semantic, not accidental —
the search loop probes AFTER the append (a standing query must see its
own epoch), IVF refuses cold start (the quantizer is a trained model),
CDC/band bootstrap empty indexes, and each loop's delivery-semantics
docstring is pinned by its own stream-vs-batch-control test. A shared
skeleton would trade four readable, individually-pinned contracts for
one function with four behavior flags.

Bucket layout: a loop's ``buckets`` sizes only the EMPTY index it
bootstraps on cold start. Once a table exists its bucket spec is the
catalog's — appends either write through ``insertInto`` (IVF, postings)
or re-declare a spec that Spark checks against the stored one (band,
CDC), so ``buckets`` must equal the stored count there; the IVF loop
never bootstraps and takes no ``buckets`` at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _parse_watermark(prev: str, sample):
    """Parse a stored watermark string back into the partition value's
    native type so monotonicity compares in-domain, not lexicographically
    (review r12: '9' > '10' as strings). For string partitions the stored
    form IS the domain.

    An UNUSABLE stored value returns None, meaning "treat as absent —
    re-derive from the current batch" (ADVICE r12): raising here would
    permanently fail every subsequent foreachBatch call, turning one
    corrupt state row (a legacy literal 'None', a partition column whose
    type changed, a tz-aware batch against naive stored state) into a
    dead stream. Types beyond int/float/date/datetime (e.g. Decimal)
    parse via the sample's own constructor."""
    import datetime as _dt
    import logging

    if sample is None:
        return None
    try:
        if isinstance(sample, bool) or isinstance(sample, str):
            parsed = prev
        elif isinstance(sample, _dt.datetime):
            parsed = _dt.datetime.fromisoformat(prev)
        elif isinstance(sample, _dt.date):
            parsed = _dt.date.fromisoformat(prev)
        else:
            parsed = type(sample)(prev)  # int, float, Decimal, ...
        parsed > sample  # tz-aware vs naive datetimes raise on compare
    except (ValueError, TypeError, ArithmeticError):
        logging.getLogger(__name__).warning(
            "stored watermark %r unusable against batch type %s; "
            "re-deriving from the current batch",
            prev,
            type(sample).__name__,
        )
        return None
    return parsed


def file_stream(spark: SparkSession, path: str, schema: T.StructType = EVENTS_SCHEMA) -> DataFrame:
    """Incremental file source: new files in `path` are the micro-batches —
    the engine's analogue of the reference's per-tick catalog poll (S4/W1).
    maxFilesPerTrigger bounds batch size during backfill (W4)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 10)
        .parquet(path)
    )


def windowed_counts(stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """W6: tumbling event-time window aggregate with late-data bound (W5:
    data later than the watermark is dropped rather than retried — the
    streaming statement of 404-retry-next-tick)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_stream(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """W10: native session windows (absent in the reference; SURVEY lists
    it as the engine's extra)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_static_anomaly(stream: DataFrame, normals: DataFrame) -> DataFrame:
    """W7 as a stream-static join: each micro-batch of events joins the
    materialized per-user normals table (the broadcastable "climatology")
    and scores an anomaly — the streaming form of the CHIRPS
    current-vs-normal join (J1) with the normal precomputed once
    (chirps_rainfall :229-234) instead of recomputed per batch.

    The static side re-reads per micro-batch (picking up normals
    refreshes); Spark broadcasts it when small. No broadcast HINT here:
    normals is one row per user (corpus-linear at 100 TB), so the
    decision must stay with the optimizer's size stats / AQE — a forced
    hint would drag an arbitrarily large table through the driver and
    die on Spark's 8 GB broadcast ceiling every micro-batch (review r11).
    """
    return stream.join(normals, "user_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "normal_value",
        F.round(F.col("value") - F.col("normal_value"), 6).alias("anomaly"),
    )


def start_foreach_batch_upsert(
    stream: DataFrame,
    out_path: str,
    partition_col: str,
    checkpoint: str,
    state_store=None,
    dataset_id: str = "stream",
):
    """W9 in streaming form: exactly-once-effect sink via foreachBatch +
    dynamic partition overwrite — each micro-batch idempotently replaces
    exactly the partitions it contains (the reference's delete-then-insert
    upsert, raster_vector.py:146-164), then commits the watermark to the
    state store. A replayed batch (post-crash) rewrites the same
    partitions to the same content — no duplicates.

    The committed watermark is MONOTONE (W3): a late-arriving batch
    whose max(partition_col) is below the stored last_update rewrites
    its partitions (idempotent) but never regresses the watermark —
    otherwise should_skip/consumer reads would re-admit already-ingested
    work (review r11). The monotonicity comparison happens in the
    partition column's NATIVE domain (review r12): the state store holds
    strings, and lexicographic prev > mx is wrong for non-fixed-width
    values (integer day keys: '9' > '10'), permanently pinning a stale
    high-water mark. The stored string is parsed back to the batch
    value's type before comparing; for genuine string partitions the
    lexicographic order IS the native order.
    """
    from ..sinks import overwrite_partitions

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        overwrite_partitions(batch_df, out_path, [partition_col])
        if state_store is not None:
            raw = batch_df.agg(F.max(partition_col)).collect()[0][0]
            prev = state_store.get(dataset_id, "last_update")
            parsed = None if raw is None else (
                _parse_watermark(prev, raw) if prev is not None else None
            )
            if prev is not None and (raw is None or (parsed is not None and parsed > raw)):
                mx = prev  # late/null batch: keep the high-water mark
            else:
                # no stored mark, or stored state unusable (parsed None
                # with a live batch — re-derive rather than dead-stream)
                mx = str(raw) if raw is not None else None
            state = {"epoch": str(epoch_id)}
            if mx is not None:  # an all-NULL first batch must not commit
                state["last_update"] = mx  # the literal string 'None'
            state_store.commit(dataset_id, state)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_windowed_aggregate(
    agg: DataFrame,
    query_name: str,
    checkpoint: str,
    available_now: bool = True,
    output_mode: str = "append",
):
    """Run a streaming aggregate to a memory sink. availableNow=True is the
    catch-up trigger (W4): process everything pending, commit per batch,
    stop — exactly the reference's backfill loop collapsed into one call.

    output_mode: "append" emits only watermark-closed windows (exactly-once
    downstream); "update" emits in-progress windows each batch (needed to
    observe sessions that the final watermark hasn't passed yet).
    """
    writer = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join (the §2.9 surface beyond
    stream-static): a right-side event matches a left-side event of the
    same key when it lands within ``within`` AFTER it — e.g. purchase
    within 1 h of click. Both sides carry watermarks so Spark can bound
    the join state: a buffered left row is dropped once the right
    watermark passes left.ts + within (state ∝ keys × window, not stream
    length — the same bounded-state discipline as the stateful dedup
    operator).

    Output: key, left event id/ts, right event id/ts, seconds between.
    """
    lw = left.withWatermark("ts", watermark).alias("l")
    rw = right.withWatermark("ts", watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL {within}"
    )
    return lw.join(rw, cond).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.event_id").alias("right_id"),
        F.col("r.ts").alias("right_ts"),
        (F.unix_timestamp("r.ts") - F.unix_timestamp("l.ts")).alias("lag_seconds"),
    )


def start_dedup_ingest_stream(
    spark,
    stream_docs: DataFrame,
    index_table: str,
    assign_path: str,
    checkpoint: str,
    buckets: int = 16,
    max_bucket: int = 1000,
):
    """Continuous ingest dedup against the STORED band index — the
    streaming closure of the batch lifecycle (write_band_index /
    probe_band_index / append): every micro-batch of arriving documents
    (doc_id, text) is signed, probed against the index (assignment =
    smallest indexed partner sharing a band bucket, or self), the
    assignments land in a parquet sink, and the batch's banded rows are
    appended to the index so LATER batches dedup against EARLIER ones —
    exactly the daily-ingest loop, per micro-batch.

    Delivery semantics: foreachBatch is at-least-once on retry, and both
    effects tolerate it, with different strengths:

    - the INDEX (the source of truth) is exactly-once in effect: append
      is idempotent by construction (stored (id, band, band_hash) keys
      drop before ranking, round-10 fix), so any replay is a no-op;
    - the ASSIGNMENT sink is at-least-once with MONOTONE REFINEMENT on
      the PARTNER SET: a replayed probe sees a later index (its own
      batch, possibly later epochs) — a superset of partners — so
      is_dup can only flip false→true (a duplicate is never lost), and
      among is_dup rows dup_of (= min over visible partners) can only
      stay or decrease. A doc first reported new-unique (dup_of = its
      own id via the coalesce) may on replay gain a partner with ANY
      id. Readers therefore resolve per doc_id: the smallest dup_of
      among rows with is_dup, else self — deterministic under any
      replay history. probe_band_index's self-exclusion (o_id != n_id)
      is what makes re-probing an already-appended batch safe at all.

    Scale: per micro-batch cost is O(batch shingles) + one bucket-keyed
    probe with ZERO Exchange on the index side + one capped append —
    corpus-size-independent, which is the entire point of carrying the
    index instead of re-deduplicating history every trigger."""
    from ..operators import dedup as D

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        # COLD START (review r11): launched against a not-yet-existing
        # index, epoch 0 bootstraps an EMPTY bucketed index from the
        # batch's schema — the first probe then sees "no partners" and
        # the first append populates it; without this the refresh below
        # raises TABLE_OR_VIEW_NOT_FOUND and kills the stream.
        if not spark.catalog.tableExists(index_table):
            D.write_band_index(
                D.band_signature(D.minhash_signature(D.shingles(batch_df.limit(0), distinct=False))),
                index_table,
                buckets=buckets,
                max_bucket=max_bucket,
            )
        # foreachBatch hands us a DataFrame bound to a CLONED micro-batch
        # session; the previous epoch's append went through that clone's
        # catalog, so the outer session's table-relation cache still
        # holds the pre-append file listing. Refresh before probing or
        # epoch N reads an index missing epochs < N (measured: batch-2
        # assignments silently lost their batch-1 partners).
        spark.catalog.refreshTable(index_table)
        banded = D.band_signature(
            D.minhash_signature(D.shingles(batch_df, distinct=False))
        ).localCheckpoint()  # signature DAG runs once for probe + append
        (
            D.probe_band_index(spark, banded, index_table)
            .withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(assign_path)
        )
        D.write_band_index(
            banded,
            index_table,
            buckets=buckets,
            max_bucket=max_bucket,
            mode="append",
        )
        # ...and refresh again after the append, so the caller's session
        # (and the next epoch) sees this epoch's rows without having to
        # know which cloned session performed the write.
        spark.catalog.refreshTable(index_table)

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_ann_ingest_stream(
    spark,
    stream_emb: DataFrame,
    index_table: str,
    assign_path: str,
    checkpoint: str,
    nprobe: int = 2,
    topk: int = 3,
):
    """Continuous nearest-neighbor ingest against the STORED IVF index —
    the embedding twin of ``start_dedup_ingest_stream``, closing the
    streaming symmetry across both index lifecycles: every micro-batch
    of arriving vectors (vec_id, embedding) is probed against the index
    (cosine top-k among stored lists, frozen coarse quantizer), the
    assignments land in a parquet sink, and the batch is appended so
    LATER batches route against EARLIER ones.

    Delivery semantics under foreachBatch's at-least-once retry:

    - the INDEX is exactly-once in effect: ``append_to_ivf_index`` drops
      already-stored ids before writing (anti-join admission), so any
      replay is a no-op and the centroid table is never touched;
    - the ASSIGNMENT sink is at-least-once with RANK-WISE REFINEMENT: a
      replayed probe sees a superset of stored vectors, so for a given
      (query, rank) the cosine can only stay or increase (a better
      neighbor can displace, never disappear — probe self-exclusion
      makes re-probing an appended batch safe). Readers resolve per
      (query_id, rank): the row with the highest cosine.

    Scale: per micro-batch cost is O(batch·k) routing + ADC against the
    probed lists only, with ZERO Exchange on the index side — corpus-
    size-independent, the same contract as the dedup ingest stream."""
    from ..operators import ivf as V

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        # COLD START (review r11): unlike the other three loops, IVF
        # CANNOT bootstrap from an empty batch — the coarse quantizer is
        # a TRAINED model (Faiss's train-before-add contract), so a
        # missing index is a caller error worth a descriptive raise, not
        # a bare TABLE_OR_VIEW_NOT_FOUND from deep inside the probe.
        if not spark.catalog.tableExists(index_table):
            raise ValueError(
                f"IVF index {index_table!r} does not exist: train it first "
                "with operators.ivf.write_ivf_index (the quantizer is a "
                "model; streaming ingest only adds under frozen centroids)"
            )
        # same cloned-session catalog staleness as the dedup stream:
        # refresh before the probe or epoch N misses epochs < N
        spark.catalog.refreshTable(index_table)
        batch = batch_df.localCheckpoint()
        (
            V.probe_ivf_index(spark, batch, index_table, nprobe=nprobe, topk=topk)
            .withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(assign_path)
        )
        V.append_to_ivf_index(spark, batch, index_table)
        spark.catalog.refreshTable(index_table)

    return (
        stream_emb.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_cdc_ingest_stream(
    spark,
    stream_docs: DataFrame,
    index_table: str,
    assign_path: str,
    checkpoint: str,
    buckets: int = 16,
    max_per_chunk: int = 100,
):
    """Continuous SUB-DOCUMENT ingest dedup against the stored CDC chunk
    index — the third streaming closure, completing the symmetry: band
    index (document near-dups), IVF index (embedding neighbors), chunk
    index (quoted passages), each with write / probe / append / retire
    AND a foreachBatch ingest loop. Every micro-batch of (doc_id, text)
    is chunked, probed (per-doc shared-chunk mass + canonical owner),
    the assignments land in parquet, and the batch's chunks append so
    later batches dedup against earlier ones.

    Delivery semantics under at-least-once retry: the INDEX is
    exactly-once in effect (append drops stored (doc_id, chash) keys
    before capacity ranking); the ASSIGNMENT sink refines monotonically
    — a replayed probe sees a superset index, so per doc `is_dup` only
    flips false→true, `n_shared`/`shared_tokens` only grow, and among
    is_dup rows `dup_of` only decreases (probe self-exclusion makes
    re-probing an appended batch safe). Readers resolve per doc_id:
    max shared_tokens row, min dup_of among is_dup rows, else self.

    Scale: per micro-batch cost is O(batch tokens) chunking + one
    chash-keyed probe with zero Exchange on the index side + one capped
    append — corpus-size-independent, like the other two loops."""
    from ..operators import cdc_index as CI

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        # COLD START (review r11): bootstrap an empty chunk index so the
        # first probe sees "no owners" instead of a missing-table crash
        if not spark.catalog.tableExists(index_table):
            CI.write_chunk_index(
                batch_df.limit(0), index_table, buckets=buckets,
                max_per_chunk=max_per_chunk,
            )
        spark.catalog.refreshTable(index_table)
        batch = batch_df.localCheckpoint()
        # chunk ONCE for both legs (the band loop's shared-signature
        # discipline): the per-window-md5 chunking is the dominant
        # per-batch cost, and probe + append both consume this frame
        chunked = CI.cdc_chunk_rows(batch).localCheckpoint()
        (
            CI.probe_chunk_index(spark, batch, index_table, chunks=chunked)
            .withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(assign_path)
        )
        CI.write_chunk_index(
            batch,
            index_table,
            buckets=buckets,
            max_per_chunk=max_per_chunk,
            mode="append",
            chunks=chunked,
        )
        spark.catalog.refreshTable(index_table)

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_search_ingest_stream(
    spark,
    stream_docs: DataFrame,
    index_table: str,
    standing_terms: tuple[str, ...],
    hits_path: str,
    checkpoint: str,
    buckets: int = 16,
    k: int = 10,
):
    """Prospective ("standing-query") search over a document stream —
    the fourth streaming loop, closing the lifecycle × streaming matrix:
    every micro-batch appends to the stored postings index
    (operators/postings.py — LIVE corpus statistics, unlike the frozen
    IVF quantizer) and then re-evaluates a standing keyword query
    against the updated index, landing the epoch-stamped top-k. This is
    the alerting/subscription shape (new documents matching a watched
    query surface as they ingest) rather than the assignment shape of
    the dedup/ANN loops — which is why the probe runs AFTER the append
    here: a standing query must see its own epoch's documents.

    At-least-once semantics: the index append is idempotent on doc_id,
    so replays leave the index byte-identical; the hits sink is
    epoch-stamped and replay rewrites an epoch's hits from the SAME
    (complete) index state or later, so the LAST epoch's hit list is
    always the full-corpus answer — readers take the DISTINCT max-epoch
    rows (a replayed epoch re-lands identical values, so distinct
    collapses the duplication; pinned: final epoch == a from-scratch
    index built on everything).

    Per-epoch cost: batch postings + one bucket-pruned probe over
    |terms| lists — corpus-size-independent, like the other loops."""
    from ..operators import postings as P

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        # COLD START (review r11): bootstrap empty postings + docs tables
        # so the first epoch's append-then-search works from nothing
        if not spark.catalog.tableExists(index_table):
            P.write_postings_index(batch_df.limit(0), index_table, buckets=buckets)
        spark.catalog.refreshTable(index_table)
        spark.catalog.refreshTable(f"{index_table}_docs")
        batch = batch_df.localCheckpoint()
        P.append_to_postings_index(spark, batch, index_table)
        spark.catalog.refreshTable(index_table)
        spark.catalog.refreshTable(f"{index_table}_docs")
        (
            P.bm25_search(spark, standing_terms, index_table, k=k)
            .withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(hits_path)
        )

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

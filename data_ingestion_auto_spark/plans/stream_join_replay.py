"""Deterministic batch replay of the watermarked stream-stream interval
join (round-5 verdict "Next round" #2) — gives the last pytest-only
streaming operator (``streaming/incremental.py::stream_stream_interval_join``)
a hash-verified DRIVER row.

The operator joins two event streams — clicks (left) and purchases
(right) — on user_id where the purchase lands within 1 h AFTER the click,
both sides watermarked at 2 h so Spark can evict join state (reference
W3/W5 watermark discipline applied to the two-stream case; the reference
itself only has stream-static joins, J1, reference
chirps_rainfall/__init__.py:229-234 — stream-stream is the engine's §2.9
extension, SURVEY.md).

Why a closed form exists (the invariant the driver row hash-verifies):

1. **Match set.** For an INNER interval join whose arrival delays never
   exceed the watermark, Spark guarantees no dropped matches — so the
   emitted pair set equals the plain batch interval join. Arrival delays
   here are md5-deterministic 0..3599 s (strictly inside the 2 h
   watermark), the same arrival model as ``watermark_late_drop_replay``
   and ``stateful_dedup_replay``.
2. **Emission timing.** A micro-batch engine emits an inner-join match in
   the first batch where BOTH sides have been ingested. With hourly
   arrival micro-batches that batch is ``greatest(hour(arrival_left),
   hour(arrival_right))`` — deterministic, because state eviction can
   never outrun a partner that arrives within the watermark: at any
   batch start the global watermark is below every still-needed row's
   eviction threshold (delays < 1 h, watermark 2 h, join span 1 h).

So each output row carries its pair (user, left_id, right_id,
lag_seconds) AND the micro-batch that emits it — the driver row pins the
streaming operator's *when*, not just its *what*.
``tests/test_stream_join_replay.py`` proves the equivalence by driving
the REAL watermarked stream-stream join hour-by-hour over file-source
micro-batches on a densified fixture and checking every per-batch
emission against this replay.

Scale: the join is equi on (user_id, hour-bucket) — the left side
explodes to its two candidate buckets (the ``range_bbox_join_binned``
pattern), so per-key cardinality is events-per-user-per-hour, exactly
the bound the streaming operator's state has (state ∝ keys × window,
never stream length). No global sort except the presentation ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import md5_hex_int, md5_hex_int_sql
from .helpers import T
from .registry import query
from .stateful_replay import _salted

# Arrival delays: 3 md5 hex digits (0..4095) mod 3600 — always strictly
# inside the 2 h watermark, so no match is ever lost (see module
# docstring). Distinct salts decorrelate the two streams' arrival order.
_DELAY_L = f"({md5_hex_int_sql(_salted('jl:'), 3)} % 3600)"
_DELAY_R = f"({md5_hex_int_sql(_salted('jr:'), 3)} % 3600)"
_DELAY_L_SPARK = f"({md5_hex_int(_salted('jl:'), 3)} % 3600)"
_DELAY_R_SPARK = f"({md5_hex_int(_salted('jr:'), 3)} % 3600)"


@query(
    "stream_stream_join_replay",
    oracle=f"""
WITH l AS (
  SELECT user_id, event_id AS left_id, ts AS left_ts,
         date_trunc('hour', ts + to_seconds(CAST(
           {_DELAY_L} AS BIGINT))) AS lbatch
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, event_id AS right_id, ts AS right_ts,
         date_trunc('hour', ts + to_seconds(CAST(
           {_DELAY_R} AS BIGINT))) AS rbatch
  FROM events WHERE event_type = 'purchase'
)
SELECT l.user_id, left_id, right_id,
       date_diff('second', left_ts, right_ts) AS lag_seconds,
       strftime(greatest(lbatch, rbatch), '%Y-%m-%d %H:%M:%S') AS emit_batch
FROM l JOIN r ON l.user_id = r.user_id
 AND right_ts > left_ts AND right_ts <= left_ts + INTERVAL 1 HOUR
ORDER BY l.user_id, left_id, right_id
""",
    tags=("W-ops", "streaming-batch", "stream-stream", "J1", "W6"),
)
def stream_stream_join_replay(spark, sf_dir):
    """Pair-level replay of the watermarked stream-stream interval join:
    every (click, purchase-within-1h) pair of the same user, with the
    hourly micro-batch that the streaming operator emits it in
    (= the later of the two md5-deterministic arrival hours).

    The Spark plan is the scale shape, not the oracle's: the left side
    explodes to its two candidate hour-buckets and the join is equi on
    (user_id, bucket) — per-key work is bounded by events/user/hour, the
    same bound the streaming state store has. The oracle states the same
    relation as a plain interval join; results are identical because the
    bucket of a matching purchase is always the click's hour or the next.
    """
    ev = T(spark, sf_dir, "events")
    l = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
            F.date_trunc(
                "hour", F.expr(f"timestampadd(SECOND, {_DELAY_L_SPARK}, ts)")
            ).alias("lbatch"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.date_trunc("hour", "left_ts"),
                    F.date_trunc("hour", F.expr("left_ts + INTERVAL 1 HOUR")),
                )
            ),
        )
    )
    r = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
        F.date_trunc(
            "hour", F.expr(f"timestampadd(SECOND, {_DELAY_R_SPARK}, ts)")
        ).alias("rbatch"),
        F.date_trunc("hour", "right_ts").alias("bucket"),
    )
    return (
        l.join(r, ["user_id", "bucket"])
        .filter(
            (F.col("right_ts") > F.col("left_ts"))
            & (F.col("right_ts") <= F.expr("left_ts + INTERVAL 1 HOUR"))
        )
        .select(
            "user_id",
            "left_id",
            "right_id",
            (F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts")).alias(
                "lag_seconds"
            ),
            F.date_format(F.greatest("lbatch", "rbatch"), "yyyy-MM-dd HH:mm:ss").alias(
                "emit_batch"
            ),
        )
        .orderBy("user_id", "left_id", "right_id")
    )

"""Deterministic batch replay of the applyInPandasWithState streaming
dedup (round-4 verdict item #5) — gives the stateful-streaming seam a
hash-verified DRIVER row, not just pytest coverage.

``streaming/stateful.py::dedup_stream`` marks each (user_id, event_id)
occurrence ``first_seen`` exactly once across micro-batches, with BOUNDED
per-key state: at most ``retention_ids`` of the largest seen ids plus an
eviction ``floor`` (any id ≤ floor counts as already-seen — watermark
semantics, reference state-based skip P11/W3,
reference ingest/__init__.py:118-135). Its verdicts depend only on

1. each event's FIRST arrival batch (cross-batch duplicate → False),
2. occurrence multiplicity within a batch (within-batch duplicate: the
   one first occurrence carries the verdict, the rest are False), and
3. the eviction floor at batch start.

The floor admits a closed form (proved in ``tests/test_stateful_replay.py``
by simulating the operator's exact floor/seen update loop over the full
arrival stream): after every batch the retained set is the global top-R
distinct arrived ids and the floor is the (R+1)-th largest, because
ids ≤ floor never enter ``seen`` yet are never in the top-R either. Hence

    first_seen(e, first occurrence, batch b)
        ⇔ |{distinct prior ids e′ of the same user: first_batch(e′) < b
             AND e′ > e}| ≤ R

which is plain relational algebra: a bounded per-key self-join. The same
arrival model as ``watermark_late_drop_replay`` makes it deterministic in
both engines: every event arrives at ``ts + delay1`` (md5-derived,
0..3599 s) and is REPLAYED at ``ts + delay2`` (md5-derived, 1 h..49 h),
micro-batches are hourly arrival windows.

Scale: arrivals/occurrence counting are linear scans + one hash
aggregation; the verdict self-join is equi on user_id and quadratic only
in per-key distinct-id cardinality — the same bound the state store
itself has (state ∝ keys × retention), so a corpus with 100× more USERS
costs 100× more, not 10000× more. No global sort except the final
presentation ORDER BY over one row per non-empty arrival hour.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalars import md5_hex_int, md5_hex_int_sql
from .helpers import T
from .registry import query
from .timeseries import _DELAY_SEC, _DELAY_SEC_SPARK


def _salted(prefix: str) -> str:
    """The event id salted with ``prefix``: md5 digits of salted keys are
    the same deterministic-delay trick as ``timeseries._DELAY_SEC``,
    decorrelated per use."""
    return f"concat('{prefix}', CAST(event_id AS STRING))"


# Replay delay: 1 h .. ~49 h after the event — five hex digits (0..1048575)
# mod 172800 s, plus the 3600 s floor, so the replay always lands in a
# LATER micro-batch than the event time itself.
_REPLAY_DELAY_SEC = f"(3600 + ({md5_hex_int_sql(_salted('r:'), 5)} % 172800))"
_REPLAY_DELAY_SEC_SPARK = f"(3600 + ({md5_hex_int(_salted('r:'), 5)} % 172800))"

# The dedup KEY is an md5-scrambled image of the event id, not the id
# itself: raw event ids are assigned in near-event-time order, so a fresh
# id almost never trails 9 larger already-arrived ids and the eviction
# floor would be dead code on this fixture. Scrambling decorrelates key
# value from arrival order — measured at sf0.01, 6045 of 20000 arrivals
# are below-floor fresh firsts, so the BOUNDED-state semantics genuinely
# bind at the gate. Both engines compute the identical scramble.
_SCRAMBLED_KEY = md5_hex_int_sql(_salted("k:"))
_SCRAMBLED_KEY_SPARK = md5_hex_int(_salted("k:"))

_RETENTION = 8  # small enough that eviction genuinely binds on ~70-id keys


@query(
    "stateful_dedup_replay",
    oracle=f"""
WITH arr AS (
  SELECT user_id,
         CAST({_SCRAMBLED_KEY} AS BIGINT) AS key,
         date_trunc('hour', ts + to_seconds(CAST(
           {_DELAY_SEC} AS BIGINT))) AS batch_h
  FROM events
  UNION ALL
  SELECT user_id,
         CAST({_SCRAMBLED_KEY} AS BIGINT) AS key,
         date_trunc('hour', ts + to_seconds(CAST(
           {_REPLAY_DELAY_SEC} AS BIGINT))) AS batch_h
  FROM events
),
occ AS (
  SELECT user_id, key, batch_h, count(*) AS m
  FROM arr GROUP BY user_id, key, batch_h
),
firsts AS (
  SELECT user_id, key, min(batch_h) AS b0 FROM occ GROUP BY user_id, key
),
pg AS (
  SELECT l.user_id, l.key, l.b0, count(r.key) AS n_prior_gt
  FROM firsts l LEFT JOIN firsts r
    ON l.user_id = r.user_id AND r.b0 < l.b0 AND r.key > l.key
  GROUP BY l.user_id, l.key, l.b0
),
j AS (
  SELECT o.batch_h, o.m,
         (o.batch_h = p.b0 AND p.n_prior_gt <= {_RETENTION}) AS first_here
  FROM occ o JOIN pg p ON o.user_id = p.user_id AND o.key = p.key
)
SELECT strftime(batch_h, '%Y-%m-%d %H:%M:%S') AS batch_start,
       CAST(sum(m) AS BIGINT) AS n_arrivals,
       CAST(sum(CASE WHEN first_here THEN 1 ELSE 0 END) AS BIGINT) AS n_first_seen,
       CAST(sum(m) - sum(CASE WHEN first_here THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
FROM j
GROUP BY batch_h
ORDER BY batch_start
""",
    tags=("W-ops", "streaming-batch", "stateful", "P11", "W3"),
)
def stateful_dedup_replay(spark, sf_dir):
    """Per-arrival-batch accounting of the bounded-state streaming dedup:
    every event arrives twice (md5-deterministic initial + replay delays),
    and each hourly micro-batch reports how many arrivals the
    ``dedup_stream`` operator (retention_ids=8) would mark first_seen vs
    duplicate. The closed-form rule is proved equivalent to the operator's
    floor/seen update loop in tests/test_stateful_replay.py, which (a)
    simulates the exact operator body over the full arrival stream and
    (b) drives the REAL applyInPandasWithState operator micro-batch by
    micro-batch on a fixture engineered to hit every verdict class
    (cross-batch dup, within-batch dup, below-floor fresh id)."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    # ONE scan, ONE wide exchange (optimization r13, guide §2.3/§2.4):
    # the old two-branch union scanned events twice and recomputed the
    # 8-digit md5 scramble per branch — and because the occ/firsts
    # self-join consumers each re-planned that union subtree, the
    # physical plan scanned events SIX times. Now the scramble is
    # computed once per event, both deterministic arrivals explode from
    # the same row, and the single repartition("user_id") below is the
    # exchange every downstream aggregation and the bounded self-join
    # reuse (hash(user_id) satisfies their clustering).
    # repartition the RAW narrow rows first: the md5 scramble and the
    # arrival explode then run AFTER the exchange on every core, instead
    # of being fused into the (single-row-group, single-task) scan stage
    # explicit partition count: AQE would coalesce this exchange to 1
    # from its tiny PRE-explode byte size (the shingles-operator rule),
    # serializing the md5/explode work that runs after it
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    arr = (
        ev.repartition(nparts, "user_id")
        .select(
            "user_id",
            F.expr(f"CAST({_SCRAMBLED_KEY_SPARK} AS BIGINT)").alias("key"),
            F.explode(
                F.expr(
                    f"array(timestampadd(SECOND, {_DELAY_SEC_SPARK}, ts),"
                    f" timestampadd(SECOND, {_REPLAY_DELAY_SEC_SPARK}, ts))"
                )
            ).alias("arr"),
        )
        .select("user_id", "key", F.date_trunc("hour", F.col("arr")).alias("batch_h"))
    )
    occ = arr.groupBy("user_id", "key", "batch_h").agg(F.count("*").alias("m"))
    firsts = occ.groupBy("user_id", "key").agg(F.min("batch_h").alias("b0"))
    lhs, rhs = firsts.alias("l"), firsts.alias("r")
    # Bounded per-key self-join: how many distinct LARGER ids of this user
    # first-arrived in an EARLIER batch — >R of them means the operator's
    # eviction floor has passed this id (see module docstring).
    pg = (
        lhs.join(
            rhs,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.b0") < F.col("l.b0"))
            & (F.col("r.key") > F.col("l.key")),
            "left",
        )
        .groupBy(
            F.col("l.user_id").alias("user_id"),
            F.col("l.key").alias("key"),
            F.col("l.b0").alias("b0"),
        )
        .agg(F.count(F.col("r.key")).alias("n_prior_gt"))
    )
    j = occ.join(pg, ["user_id", "key"]).select(
        "batch_h",
        "m",
        ((F.col("batch_h") == F.col("b0")) & (F.col("n_prior_gt") <= _RETENTION)).alias(
            "first_here"
        ),
    )
    return (
        j.groupBy("batch_h")
        .agg(
            F.sum("m").cast("bigint").alias("n_arrivals"),
            F.sum(F.when(F.col("first_here"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_first_seen"),
        )
        .select(
            F.date_format("batch_h", "yyyy-MM-dd HH:mm:ss").alias("batch_start"),
            "n_arrivals",
            "n_first_seen",
            (F.col("n_arrivals") - F.col("n_first_seen")).cast("bigint").alias("n_dup"),
        )
        .orderBy("batch_start")
    )


@query(
    "stateful_running_anomaly_replay",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_id,
         CAST(round(CAST(value AS DECIMAL(38,6)) * 1000000) AS BIGINT) AS v_micro,
         CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w * 1000000 AS BIGINT)
           AS run_sum_micro,
         count(*) OVER w AS n_prior
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id,
       CAST(n_prior AS BIGINT) AS n_prior,
       CAST(CASE WHEN n_prior = 0 THEN NULL
            ELSE (CASE WHEN run_sum_micro < 0 THEN -1 ELSE 1 END)
                 * ((2 * abs(run_sum_micro) + n_prior) // (2 * n_prior))
            END AS BIGINT) AS running_mean_micro,
       CAST(CASE WHEN n_prior = 0 THEN NULL
            ELSE v_micro - (CASE WHEN run_sum_micro < 0 THEN -1 ELSE 1 END)
                 * ((2 * abs(run_sum_micro) + n_prior) // (2 * n_prior))
            END AS BIGINT) AS anomaly_micro
FROM ranked
ORDER BY user_id, event_id
""",
    tags=("W-ops", "streaming-batch", "stateful", "A1", "J1", "W7"),
)
def stateful_running_anomaly_replay(spark, sf_dir):
    """Driver row for the SECOND stateful operator
    (``streaming/stateful.py::running_anomaly_stream``): each value scored
    against the running mean of everything before it per user, in
    event_id order — state as the materialized climatology (A1+J1/W7).

    The operator accumulates a float total in its state; a float replay
    would be order-dependent and engine-divergent, so this replay states
    the SAME rule in exact arithmetic: DECIMAL(38,6) running sums,
    round-half-away integer division, and integer MICRO-UNIT outputs
    (running_mean_micro, anomaly_micro) — both engines agree bit-for-bit
    at any SF. tests/test_stateful_replay.py pins the replay against the
    real applyInPandasWithState operator's float outputs within 1e-6.

    Scale: one window per user_id (bounded partitions, no global sort
    except the presentation ORDER BY); no joins at all."""
    from pyspark.sql import Window as W

    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = ev.select(
        "user_id",
        "event_id",
        F.expr("CAST(round(CAST(value AS DECIMAL(38,6)) * 1000000) AS BIGINT)").alias(
            "v_micro"
        ),
        (F.sum(F.expr("CAST(value AS DECIMAL(38,6))")).over(w) * 1000000)
        .cast("bigint")
        .alias("run_sum_micro"),
        F.count("*").over(w).alias("n_prior"),
    )
    # round-half-away-from-zero in pure integer space (helpers.py pattern):
    # Spark `div` truncates toward zero and DuckDB `//` floors, so the
    # division runs on |s| and the sign is reapplied afterwards.
    mean = F.when(F.col("run_sum_micro") < 0, -1).otherwise(1) * F.expr(
        "(2 * abs(run_sum_micro) + n_prior) div (2 * n_prior)"
    )
    return ranked.select(
        "user_id",
        "event_id",
        F.col("n_prior").cast("bigint").alias("n_prior"),
        F.when(F.col("n_prior") == 0, F.lit(None))
        .otherwise(mean)
        .cast("bigint")
        .alias("running_mean_micro"),
        F.when(F.col("n_prior") == 0, F.lit(None))
        .otherwise(F.col("v_micro") - mean)
        .cast("bigint")
        .alias("anomaly_micro"),
    ).orderBy("user_id", "event_id")

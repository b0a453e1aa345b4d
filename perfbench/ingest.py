"""``ingest``: open loop over four production jobs.

A generator thread publishes one new period for every job every
``PERIOD_S`` seconds, whatever the scheduler is doing; the four jobs'
schedules are offset by a quarter period each. The scheduler
calls ``jobs.JobRegistry.run_due`` back to back with four jobs:

- ``cams``: ``pipelines.run_cds_forecast_batch`` over a ``LocalCdsQueue``
  origin of gribsim ``.bin`` files (Python-worker decode);
- ``ecmwf``: ``pipelines.run_forecast_batch`` over a growing grid parquet
  and its catalog;
- ``chirps``: ``pipelines.run_anomaly_batch``, written through
  ``sinks.overwrite_partitions``, then a state commit;
- ``dedup``: ``streaming.incremental.start_dedup_ingest_stream`` with
  ``availableNow`` against a band index of ``DEDUP_CORPUS`` generated
  documents, built during the warm-up.

Freshness runs from a period's scheduled publish time to the end of the
job run that committed it (the commit is each job's last step); for
``dedup``, to the end of the stream run that landed its assignments.
Each job run that ingests also reports the wall and CPU seconds it used
per period it brought in; a job's cost per period is its best run, as
for the analytics queries, and the run's work is the sum over jobs. The
warm-up builds the band index and publishes and ingests period 0, so
the timed loop starts with warm Python workers and existing tables.
After the loop the outputs, the dedup assignments and the state
watermarks are checked against a recompute of the same periods.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PERIOD_S = 12.0
MIN_PERIODS = 2  # timed periods per run, so that a growing backlog shows
DRAIN_S = 40.0
KEEP_DAYS = 1  # short enough that a run's last CAMS tick deletes a date
CAMS_GRID = (91, 180)
ECMWF_GRID = (45, 90)
CHIRPS_GRID = (45, 90)
CHIRPS_HISTORY = 24
DEDUP_CORPUS = 500
DEDUP_BATCH = 40
DEDUP_FIRST_ID = 100_000
BUCKETS = 8
D0 = dt.date(2026, 1, 1)
T0 = dt.datetime(2026, 1, 1)
ECMWF_STEP = dt.timedelta(hours=6)
ECMWF_VARS = ("2t", "tp", "msl", "u", "v")
# schedule order: within a period the dearest job publishes first and the
# cheapest last, so a run drains soon after its last publish
JOBS = ("dedup", "ecmwf", "chirps", "cams")

_TS = pa.timestamp("us")


def _month(i: int) -> str:
    y, m = divmod(i, 12)
    return f"{2022 + y:04d}-{m + 1:02d}"


def _month_index(month: str) -> int:
    y, m = map(int, month.split("-"))
    return (y - 2022) * 12 + m - 1


def _write_atomic(table: pa.Table, path: str) -> None:
    """Write under a hidden name, then rename: readers never see a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _banded(df):
    from data_ingestion_auto_spark.operators import dedup as D

    return D.band_signature(D.minhash_signature(D.shingles(df, distinct=False)))


def _grid_table(namespace, variables, time, values, units) -> pa.Table:
    ny, nx = values.shape[1:]
    yy, xx = np.meshgrid(np.arange(ny, dtype=float), np.arange(nx, dtype=float), indexing="ij")
    n = ny * nx
    return pa.table({
        "namespace": [namespace] * (n * len(variables)),
        "variable": np.repeat(variables, n),
        "time": pa.array([time] * (n * len(variables)), _TS),
        "level": pa.nulls(n * len(variables), pa.int32()),
        "y": np.tile(yy.ravel(), len(variables)),
        "x": np.tile(xx.ravel(), len(variables)),
        "value": values.reshape(-1),
        "units": [units] * (n * len(variables)),
    })


class Sim:
    """One ingest deployment: its origins, sinks, state file and index."""

    def __init__(self, ctx, base: str, tag: int) -> None:
        from data_ingestion_auto_spark.sources.cds_connector import CdsClient, LocalCdsQueue
        from data_ingestion_auto_spark.state import StateStore

        self.ctx, self.spark, self.seed = ctx, ctx.spark, ctx.seed
        p = {k: os.path.join(base, k) for k in (
            "origin", "landing", "cams_out", "ecmwf_grid", "ecmwf_catalog", "ecmwf_out",
            "chirps_grid", "chirps_normals", "chirps_out", "dedup_src", "dedup_assign",
            "dedup_ckpt", "band_index")}
        for k in ("landing", "ecmwf_grid", "ecmwf_catalog", "chirps_grid", "dedup_src"):
            os.makedirs(p[k])
        os.makedirs(os.path.join(p["origin"], "cams"))
        self.p = p
        self.state = StateStore(os.path.join(base, "state.json"))
        self.client = CdsClient(LocalCdsQueue(p["origin"]))
        self.index = f"perfbench_band_index_{tag}"
        self.published = dict.fromkeys(JOBS, 0)
        self.late: list[float] = []
        self.cams_deleted: list[str] = []
        self.corpus = None

    # ---- generated periods: pure functions of (seed, period) ----
    def _rng(self, k: int, job: int):
        return np.random.default_rng([self.seed, k, job])

    def cams_values(self, k: int) -> dict[str, np.ndarray]:
        rng = self._rng(k, 0)
        return {v: np.round(rng.gamma(2.0, 10.0, CAMS_GRID), 3) for v in ("pm2p5", "pm10")}

    def ecmwf_values(self, k: int) -> np.ndarray:
        rng = self._rng(k, 1)
        base = np.array([285.0, 0.002, 101325.0, 0.0, 0.0])[:, None, None]
        scale = np.array([8.0, 0.001, 900.0, 6.0, 6.0])[:, None, None]
        return np.round(base + scale * rng.standard_normal((5, *ECMWF_GRID)), 4)

    def chirps_values(self, i: int) -> np.ndarray:
        return np.round(self._rng(i, 2).gamma(1.5, 40.0, (1, *CHIRPS_GRID)), 2)

    def dedup_batch(self, k: int) -> pa.Table:
        from data import make_documents

        docs = make_documents(self._rng(k, 3), DEDUP_BATCH, DEDUP_FIRST_ID + k * DEDUP_BATCH,
                              dup_of_pool=self.corpus.column("text").to_pylist())
        return docs.select(["doc_id", "text"])

    def publish(self, job: str, k: int) -> None:
        """Make period ``k`` of ``job`` visible at its origin."""
        from data_ingestion_auto_spark.sources.gribsim import encode_message

        p = self.p
        if job == "cams":
            buf = b"".join(encode_message(v, *CAMS_GRID, a.ravel().tolist())
                           for v, a in self.cams_values(k).items())
            tmp = os.path.join(p["origin"], "cams", f".{k}.tmp")
            with open(tmp, "wb") as f:
                f.write(buf)
            os.replace(tmp, os.path.join(p["origin"], "cams", f"{D0 + dt.timedelta(days=k)}.bin"))
        elif job == "ecmwf":
            t = T0 + k * ECMWF_STEP
            _write_atomic(
                _grid_table("ecmwf_forecast", ECMWF_VARS, t, self.ecmwf_values(k), "si"),
                os.path.join(p["ecmwf_grid"], f"p{k:05d}.parquet"),
            )
            _write_atomic(
                pa.table({"url": [f"origin://ecmwf/{t:%Y%m%d%H}"], "date": pa.array([t], _TS),
                          "available": [True]}),
                os.path.join(p["ecmwf_catalog"], f"p{k:05d}.parquet"),
            )
        elif job == "chirps":
            self._publish_chirps(CHIRPS_HISTORY + k)
        else:
            _write_atomic(self.dedup_batch(k), os.path.join(p["dedup_src"], f"b{k:05d}.parquet"))
        self.published[job] = k + 1

    def _publish_chirps(self, i: int) -> None:
        m = _month(i)
        _write_atomic(
            _grid_table("chirps_rainfall", ("rfe",), dt.datetime.fromisoformat(m + "-01"),
                        self.chirps_values(i), "mm"),
            os.path.join(self.p["chirps_grid"], f"m{m}.parquet"),
        )

    # ---- set-up: history files; warm-up: band index and period 0 ----
    def setup(self, docs: pa.Table) -> None:
        self.corpus = docs.select(["doc_id", "text"])
        for i in range(CHIRPS_HISTORY):
            self._publish_chirps(i)

    def warm_up(self) -> None:
        """Build the band index and ingest period 0. The four period-0
        runs go from four threads at once: the warm-up only has to leave
        every job's code paths compiled, and Spark overlaps their jobs."""
        from concurrent.futures import ThreadPoolExecutor

        from data_ingestion_auto_spark.operators import dedup as D

        def dedup_first():
            corpus_df = self.spark.createDataFrame(self.corpus.to_pandas())
            D.write_band_index(_banded(corpus_df), self.index, buckets=BUCKETS,
                               path=self.p["band_index"])
            self.stream = self.spark.readStream.schema("doc_id long, text string").parquet(
                self.p["dedup_src"])
            return self.dedup()

        for job in JOBS:
            self.publish(job, 0)
        runs = [dedup_first if job == "dedup" else getattr(self, job) for job in JOBS]
        with ThreadPoolExecutor(len(runs)) as pool:
            for job, r in zip(JOBS, pool.map(lambda run: run(), runs)):
                if r.get("status") != "ingested":
                    raise RuntimeError(f"warm-up ingest of period 0 failed for {job}: {r}")

    # ---- the four jobs; each returns the package's result dict ----
    def cams(self) -> dict:
        from data_ingestion_auto_spark import pipelines

        with self.ctx.tracer.span("pipelines.cams"):
            r = pipelines.run_cds_forecast_batch(
                self.spark, self.client, "cams", {"date": D0.isoformat()}, self.state,
                "cams_fc", self.p["landing"], self.p["cams_out"], keep_days=KEEP_DAYS)
        if r["status"] == "ingested":
            r["periods"] = [(dt.date.fromisoformat(r["date"]) - D0).days]
            self.cams_deleted.extend(r["deleted_partitions"])
        return r

    def ecmwf(self) -> dict:
        from data_ingestion_auto_spark import pipelines

        with self.ctx.tracer.span("pipelines.ecmwf"):
            # catalog first: a period's grid lands before its catalog row,
            # so every time step the catalog lists is in the grid listing
            catalog = self.spark.read.parquet(self.p["ecmwf_catalog"])
            grid = self.spark.read.parquet(self.p["ecmwf_grid"])
            r = pipelines.run_forecast_batch(
                grid, catalog, pipelines.ECMWF_FORECAST, self.state, self.p["ecmwf_out"])
        if r["status"] == "ingested":
            k = (dt.datetime.fromisoformat(r["latest"]) - T0) // ECMWF_STEP
            r["periods"] = list(range(k + 1))
        return r

    def chirps(self) -> dict:
        from pyspark.sql import functions as F

        from data_ingestion_auto_spark import pipelines, sinks

        with self.ctx.tracer.span("pipelines.chirps"):
            last = self.state.get("chirps_rainfall", "last_month")
            k = 0 if last is None else _month_index(last) - CHIRPS_HISTORY + 1
            month = _month(CHIRPS_HISTORY + k)
            if not os.path.exists(os.path.join(self.p["chirps_grid"], f"m{month}.parquet")):
                return {"status": "skipped", "month": month}
            grid = self.spark.read.parquet(self.p["chirps_grid"])
            res = pipelines.run_anomaly_batch(
                grid, pipelines.CHIRPS_RAINFALL, self.state, self.p["chirps_normals"], month)
            sinks.overwrite_partitions(res.withColumn("month", F.lit(month)),
                                       self.p["chirps_out"], ["month"])
            self.state.commit("chirps_rainfall", {"last_month": month})
        return {"status": "ingested", "month": month, "periods": [k]}

    def dedup(self) -> dict:
        from data_ingestion_auto_spark.streaming.incremental import start_dedup_ingest_stream

        tr = self.ctx.tracer
        with tr.span("pipelines.dedup") as rec:
            done = int(self.state.get("dedup", "files") or 0)
            if sum(1 for f in os.listdir(self.p["dedup_src"]) if f.startswith("b")) <= done:
                return {"status": "skipped"}
            if rec is not None:
                tr.root = rec["id"]
            with tr.span("streaming.start"):
                q = start_dedup_ingest_stream(
                    self.spark, self.stream, self.index, self.p["dedup_assign"],
                    self.p["dedup_ckpt"], buckets=BUCKETS)
            with tr.span("streaming.run"):
                q.awaitTermination(120)
            tr.root = None
            if q.exception() is not None:
                raise RuntimeError(f"dedup stream failed: {q.exception()}")
            if tr.enabled:
                for prog in q.recentProgress:
                    tr.count("streaming.trigger_ms", prog.durationMs.get("triggerExecution", 0))
                    tr.count("streaming.addBatch_ms", prog.durationMs.get("addBatch", 0))
                    tr.count("streaming.input_rows", prog.numInputRows)
            files = self._landed_files()
            new = sorted(files - set(range(done)))
            self.state.commit("dedup", {"files": str(len(files))})
        return {"status": "ingested", "periods": new}

    def _landed_files(self) -> set[int]:
        """Period numbers of the source files the stream has committed,
        read from Spark's file-source log in the checkpoint."""
        log = os.path.join(self.p["dedup_ckpt"], "sources", "0")
        out = set()
        for name in os.listdir(log):
            if name.startswith("."):
                continue
            with open(os.path.join(log, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        base = os.path.basename(json.loads(line)["path"])
                        out.add(int(base[1:6]))
        return out


def setup(ctx, i: int) -> None:
    from data import make_documents

    ctx.inputs = os.path.join(ctx.run_dir, f"inputs{i}")
    ctx.sim = Sim(ctx, ctx.inputs, i)
    ctx.sim.setup(make_documents(np.random.default_rng(ctx.seed), DEDUP_CORPUS))


def warm_up(ctx) -> None:
    ctx.sim.warm_up()


def run(ctx) -> None:
    from data_ingestion_auto_spark.jobs import Job, JobRegistry

    sim, tr = ctx.sim, ctx.tracer
    # period 0 came with the warm-up
    n_periods = 1 + max(MIN_PERIODS, math.ceil(ctx.seconds / PERIOD_S))
    committed = {j: {0: 0.0} for j in JOBS}  # job -> period -> freshness
    t_start = time.perf_counter() + 0.05
    # job j publishes period k at (k-1)*P + j*P/4: staggered, so a period
    # waits for the loop, not for the other three jobs' periods
    due = {j: [t_start + (k - 1 + i / len(JOBS)) * PERIOD_S for k in range(n_periods)]
           for i, j in enumerate(JOBS)}
    events = sorted((due[j][k], j, k) for j in JOBS for k in range(1, n_periods))

    def generator() -> None:
        for when, job, k in events:
            time.sleep(max(0.0, when - time.perf_counter()))
            sim.late.append(max(0.0, time.perf_counter() - when))
            sim.publish(job, k)

    reg = JobRegistry()
    best = {j: [math.inf, math.inf] for j in JOBS}  # job -> [wall, cpu] per period

    def job_runner(name):
        fn = getattr(sim, name)

        def go() -> dict:
            t0, c0 = time.perf_counter(), ctx.cpu()
            r = fn()
            end = time.perf_counter()
            if r.get("status") == "ingested":
                cpu = ctx.cpu() - c0
                ctx.ops_cpu.append(cpu)
                new = [k for k in r["periods"] if k not in committed[name]]
                for k in new:
                    committed[name][k] = end - due[name][k]
                n = max(1, len(new))
                best[name] = [min(best[name][0], (end - t0) / n), min(best[name][1], cpu / n)]
            return r

        return go

    for name in JOBS:
        reg.register(Job(name, job_runner(name), interval_seconds=0))
    gen = threading.Thread(target=generator, name="perfbench-generator", daemon=True)
    gen.start()
    deadline = events[-1][0] + DRAIN_S
    backlog_max = runs = useful = 0
    while True:
        with tr.span("jobs.run_due"):
            results = reg.run_due()
        for name, r in results.items():
            runs += 1
            ctx.attempted += 1
            if r.get("status") == "error":
                ctx.fail(f"ingest job {name}: {r['error'][:300]}")
            useful += r.get("status") == "ingested"
        backlog_max = max(backlog_max, max(sim.published[j] - len(committed[j]) for j in JOBS))
        if not gen.is_alive() and all(len(committed[j]) == n_periods for j in JOBS):
            break
        if time.perf_counter() > deadline:
            ctx.fail(f"ingest did not drain {n_periods} periods within {DRAIN_S} s of the last publish")
            break
    gen.join()
    for j in JOBS:
        ctx.ops.extend(v for k, v in committed[j].items() if k > 0)
    ctx.work.append(sum(b[0] for b in best.values()))
    ctx.work_cpu.append(sum(b[1] for b in best.values()))
    ctx.extra.update({
        "ingest.gen_late_s": max(sim.late, default=0.0),
        "ingest.backlog_max": float(backlog_max),
        "jobs.useful_ratio": useful / max(1, runs),
        "periods": n_periods - 1,
    })
    check(ctx, sim, n_periods)


def check(ctx, sim: Sim, n: int) -> None:
    """Published tables, dedup assignments, state and retention against a
    recompute of periods 0..n-1."""
    spark = sim.spark
    last = n - 1

    def expect(ok: bool, what: str) -> None:
        ctx.attempted += 1
        if not ok:
            ctx.fail(f"ingest check: {what}")

    st = sim.state
    expect(st.get("cams_fc") == (D0 + dt.timedelta(days=last)).isoformat(), "cams watermark")
    t_last = T0 + last * ECMWF_STEP
    expect(st.get("ecmwf_forecast") == t_last.strftime("%Y-%m-%dT%H:%M:%S"), "ecmwf watermark")
    expect(st.get("chirps_rainfall", "last_month") == _month(CHIRPS_HISTORY + last), "chirps watermark")
    expect(st.get("dedup", "files") == str(n), "dedup watermark")

    # cams: the keep window, each value as generated
    cams = spark.read.parquet(sim.p["cams_out"]).toPandas()
    cams["date"] = cams["date"].astype(str)
    keep = {str(D0 + dt.timedelta(days=k)) for k in range(max(0, last - KEEP_DAYS), last + 1)}
    expect(set(cams["date"]) == keep, f"cams retention kept {sorted(set(cams['date']))}")
    gone = [str(D0 + dt.timedelta(days=k)) for k in range(last - KEEP_DAYS)]
    expect(gone and sorted(sim.cams_deleted) == gone, f"cams retention deleted {sim.cams_deleted}")
    ok = True
    for k in range(max(0, last - KEEP_DAYS), last + 1):
        for var, arr in sim.cams_values(k).items():
            got = cams[(cams["date"] == str(D0 + dt.timedelta(days=k))) & (cams["variable"] == var)]
            got = got.sort_values(["y", "x"])["value"].to_numpy()
            ok &= np.array_equal(got, arr.ravel())
    expect(ok, "cams published values")

    # ecmwf: only the latest time step survives retention, converted per spec
    ec = spark.read.parquet(sim.p["ecmwf_out"]).toPandas()
    expect(set(ec["time_key"].astype(str)) == {t_last.strftime("%Y-%m-%dT%H:%M:%S")},
           "ecmwf retention")
    raw = dict(zip(ECMWF_VARS, sim.ecmwf_values(last)))
    want = {"2t": raw["2t"] - 273.15, "tp": raw["tp"] * 1000.0, "msl": raw["msl"] / 100.0,
            "wind": np.sqrt(raw["u"] * raw["u"] + raw["v"] * raw["v"])}
    ok = set(ec["variable"]) == set(want)
    for var, arr in want.items():
        got = ec[ec["variable"] == var].sort_values(["y", "x"])["value"].to_numpy()
        ok &= np.array_equal(got, arr.ravel())
    expect(ok, "ecmwf published values")

    # chirps: anomaly = value - mean of earlier same-month values, every period
    ch = spark.read.parquet(sim.p["chirps_out"]).toPandas()
    ch["month"] = ch["month"].astype(str)
    ok = set(ch["month"]) == {_month(CHIRPS_HISTORY + k) for k in range(n)}
    for k in range(n):
        i = CHIRPS_HISTORY + k
        hist = [sim.chirps_values(j)[0] for j in range(i) if j % 12 == i % 12]
        want_a = (sim.chirps_values(i)[0] - np.mean(hist, axis=0)).ravel()
        got = ch[ch["month"] == _month(i)].sort_values(["y", "x"])["anomaly"].to_numpy()
        ok &= got.shape == want_a.shape and np.allclose(got, want_a, rtol=1e-12, atol=1e-9)
    expect(ok, "chirps anomalies")

    # dedup: ids grow with every period, so the sequential probe-then-append
    # loop assigns each new document the smallest earlier document sharing
    # a band bucket — one batch self-join over every document ingested
    from pyspark.sql import functions as F

    docs = pa.concat_tables([sim.corpus] + [sim.dedup_batch(k) for k in range(n)])
    banded = _banded(spark.createDataFrame(docs.to_pandas()))
    a, b = banded.alias("a"), banded.alias("b")
    partners = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("b.doc_id") < F.col("a.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id")).agg(F.min("b.doc_id").alias("dup_of"))
    )
    want_d = {r.doc_id: r.dup_of for r in partners.filter(F.col("doc_id") >= DEDUP_FIRST_ID).collect()}
    got_d: dict[int, int] = {}
    for r in spark.read.parquet(sim.p["dedup_assign"]).collect():
        if r.is_dup:
            got_d[r.doc_id] = min(r.dup_of, got_d.get(r.doc_id, r.dup_of))
    seen = {r.doc_id for r in spark.read.parquet(sim.p["dedup_assign"]).select("doc_id").collect()}
    expect(seen == set(range(DEDUP_FIRST_ID, DEDUP_FIRST_ID + n * DEDUP_BATCH)), "dedup coverage")
    expect(got_d == want_d, f"dedup assignments ({len(got_d)} dups vs {len(want_d)} expected)")

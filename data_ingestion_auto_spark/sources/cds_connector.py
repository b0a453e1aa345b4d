"""S14: the CDS/ADS-style QUEUED retrieval connector.

The reference pulls CAMS forecasts through ``cdsapi.Client.retrieve``
(reference ingest/cams_forecast/__init__.py:32 client construction, :72
retrieve call): a retrieval REQUEST (dataset + options) is submitted to
the Climate Data Store, queued server-side, polled until completed, then
the staged result is downloaded — and the reference wraps the whole call
in try/except-skip (:71-75) so an unavailable date leaves state
untouched and the next run retries. cdsapi hides the queue inside one
call; this module makes the protocol explicit (submit / poll / open)
so each leg is testable, then composes them into the same one-call
``retrieve`` surface the reference uses. The date gate and skip live in
the one CDS ingest step, `pipelines.run_cds_forecast_batch`.

`LocalCdsQueue` is the origin stand-in (same class of seam as
LocalHttpStore): datasets live in a local directory, and the task state
machine advances DETERMINISTICALLY per poll (queued → running →
completed) instead of on wall-clock — no sleeps in tests, no flakes.
Pointing at the real CDS is a queue-object swap: submit POSTs the
request, poll GETs task status, open streams the result URL (e.g.
via UrllibHttpStore.open); `retrieve` lands that stream through
`http_connector.land`, the same atomic copy the HTTP connector uses.

Scale note: retrieval is CONTROL PLANE — a handful of driver-side HTTP
calls per scheduled batch, exactly like the reference's scheduler. The
payload only becomes data plane after landing, where the binaryFile +
mapInPandas decode path (sources/gribsim.py) fans it out; the driver
never parses payload bytes.
"""

from __future__ import annotations

import os
from typing import BinaryIO

from .http_connector import land


class CdsRetrievalError(RuntimeError):
    """Terminal task failure — the connector's raise_for_status. The
    caller's skip-without-commit contract rides on this (reference
    cams_forecast/__init__.py:71-75)."""


class LocalCdsQueue:
    """Deterministic CDS backend over a local dataset directory.

    ``{base_dir}/{dataset}/{date}.bin`` is the result a request for
    (dataset, options={"date": date}) stages. Task ids are derived from
    the request, so re-submitting the same request re-uses the task —
    the real CDS caches completed requests the same way. Each poll
    advances queued → running → completed (or → failed when the dataset/
    date doesn't exist: CDS reports unavailability at completion time,
    not submit time)."""

    _STATES = ("queued", "running", "completed")

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        self._polls: dict[str, int] = {}
        self._tasks: dict[str, tuple[str, str]] = {}

    def _result_file(self, dataset: str, date: str) -> str:
        return os.path.join(self.base_dir, dataset, f"{date}.bin")

    def submit(self, dataset: str, options: dict) -> str:
        date = options.get("date", "")
        task_id = f"task-{dataset}-{date}"
        self._tasks[task_id] = (dataset, date)
        self._polls.setdefault(task_id, 0)
        return task_id

    def poll(self, task_id: str) -> str:
        """Advance and report the task state."""
        if task_id not in self._polls:
            raise KeyError(f"unknown task: {task_id}")
        self._polls[task_id] += 1
        n = min(self._polls[task_id], len(self._STATES))
        state = self._STATES[n - 1]
        if state == "completed":
            dataset, date = self._tasks[task_id]
            if not os.path.isfile(self._result_file(dataset, date)):
                return "failed"
        return state

    def open(self, task_id: str) -> BinaryIO:
        """Stream the staged result (the result-URL GET)."""
        dataset, date = self._tasks[task_id]
        return open(self._result_file(dataset, date), "rb")


class CdsClient:
    """The cdsapi.Client.retrieve surface (reference
    cams_forecast/__init__.py:32,:72) over an explicit queue."""

    def __init__(self, queue: LocalCdsQueue, max_polls: int = 10):
        self.queue = queue
        self.max_polls = max_polls

    def retrieve(self, dataset: str, options: dict, target: str) -> str:
        """Submit → poll to completion → land the result at ``target``.
        Raises CdsRetrievalError on a failed task or poll-budget
        exhaustion (the caller decides whether that's skip or abort)."""
        task_id = self.queue.submit(dataset, options)
        for _ in range(self.max_polls):
            state = self.queue.poll(task_id)
            if state == "completed":
                return land(self.queue.open(task_id), target)
            if state == "failed":
                raise CdsRetrievalError(
                    f"retrieval failed: {dataset} {options.get('date', '')}"
                )
        raise CdsRetrievalError(f"poll budget exhausted for {task_id}")


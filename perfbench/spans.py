"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent, run id). Spans nest through a
per-thread stack; a span opened on a thread with an empty stack (a Spark
``foreachBatch`` callback, for instance) adopts the tracer's current
``root`` so callback work stays attributed to the tick that caused it.
Self time is a span's duration minus the part of it its children cover.

Nothing here touches the package: ``patch`` swaps a module or class
attribute for a timing wrapper and ``restore`` puts every original back.
When tracing is off, ``span`` costs one attribute check.
"""

from __future__ import annotations

import collections
import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: collections.Counter = collections.Counter()
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else self.root,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        rec.update(attrs)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def reset(self, keep: tuple[str, ...] = ()) -> None:
        """Forget set-up spans and counts, except those whose names start
        with a prefix in ``keep``."""
        self.spans = [s for s in self.spans if s["name"].startswith(keep)]
        self.counts = collections.Counter(
            {k: v for k, v in self.counts.items() if k.startswith(keep)})

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` in a span; ``after(result)`` may count."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed duration, summed self time and count."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s["name"], {"dur": 0.0, "self": 0.0, "n": 0})
            t["dur"] += s["end"] - s["start"]
            t["self"] += selfs[s["id"]]
            t["n"] += 1
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self=selfs[s["id"]]), default=str) + "\n")

"""Per-process scratch root for derived artifacts (memos, built fixtures).

Optimization round r13: without an explicit ``$SPARK_GRAFT_CC_MEMO_DIR``
the per-corpus memo tables and generated input fixtures used to land in
the host tempdir and SURVIVED across process invocations keyed on the
source-data fingerprint — so a later bench/oracle run could join
precomputed artifacts instead of computing from the parquet inputs.
Every invocation now derives everything it reads: the default root is a
fresh per-process temporary directory, removed at exit. Within one run
the usual amortization still applies (one build, many consumers in the
same program); across runs nothing persists. Memos and built fixtures
publish here through one function, `plans/dedup.py::publish_once`
(source-fingerprint key, private build dir, atomic rename).

Durable cross-run sharing remains available — and documented — as a
DEPLOYMENT decision: set ``$SPARK_GRAFT_CC_MEMO_DIR`` to shared storage
on a real cluster (the ingest-time model-table pattern). The bench never
sets it, so bench runs always pay (and report, via ``memo_builds``)
every build they consume.
"""

from __future__ import annotations

import os

_PROCESS_SCRATCH: list[str] = []


def artifact_root() -> str:
    """Root for derived artifacts (memo tables, built fixtures):
    ``$SPARK_GRAFT_CC_MEMO_DIR`` when a deployment configured shared
    storage, else the per-process scratch dir (created lazily, rmtree'd
    at exit) — never a dir that outlives the invocation by default."""
    root = os.environ.get("SPARK_GRAFT_CC_MEMO_DIR")
    if root:
        return root
    if not _PROCESS_SCRATCH:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix=f"spark_graft_run{os.getpid()}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _PROCESS_SCRATCH.append(d)
    return _PROCESS_SCRATCH[0]

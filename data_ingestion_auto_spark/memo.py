"""The per-corpus memo tier: derived tables and built input fixtures that
are computed once per corpus version and read back thereafter.

One module owns the whole tier:

- the root (`artifact_root`): ``$SPARK_GRAFT_CC_MEMO_DIR`` when a
  deployment configured shared storage (it MUST be a shared filesystem
  on a real cluster), else a fresh per-process temporary directory,
  removed at exit. Without the variable nothing derived from the input
  tables survives the invocation, so every run computes what it reads
  from the parquet inputs and pays (and reports, via `MEMO_BUILD_LOG`)
  every build it consumes; within one run a build is still shared by
  all of its consumers;
- the key (`memo_key` builds it, `match_key` matches a published
  directory against it): ``spark_graft_{name}_{corpus}_{version}_{fp}``
  where ``corpus`` is the sf-dir basename, ``version`` is
  `_MEMO_VERSION` and ``fp`` is the source table's file fingerprint;
- publication (`publish_once`): private build dir, ``_manifest.json``,
  the ``_corpus`` path record, ``_SUCCESS``, atomic rename;
- parquet memo tables (`corpus_memo`) with the per-thread nesting rule
  behind `MEMO_BUILD_LOG`;
- corpus appends: `find_appendable_prior` and the frozen-model memo
  sets (`frozen_model_memo`).

Importing this module imports no plan module.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import re
import shutil
import tempfile
import threading
import time
import uuid

# bump when the canonical shingle→minhash→LSH→CC pipeline (or a built
# fixture's layout) changes so a stale artifact can never serve a
# superseded algorithm's output
_MEMO_VERSION = "v1"

# (memo name, build seconds) for every OUTERMOST memo built in this
# process — bench.py/tools/soak.py read it to surface cold-build cost
# (round-12: the committed bench medians measure warm-memo reads, which
# is the right production accounting, but a build-time regression must
# not be invisible to the ratchet). Builds NEST (components → pairs →
# sig), so only the outermost frame logs — its wall time already
# contains the chain, and summing nested frames would double-count
# (first soak run showed memo_build_sec > total wall time).
MEMO_BUILD_LOG: list[tuple[str, float]] = []

# Nesting depth is PER-THREAD (optimization r13): the bench prebuilds
# independent memo chains from a thread pool (guide §2.6 — overlap
# independent jobs), and a process-global counter would see another
# thread's build as "nested" and skip logging it.
_MEMO_TLS = threading.local()

_PROCESS_SCRATCH: list[str] = []

# the resolved corpus path, recorded in every published memo for
# `clear_corpus`
_CORPUS_RECORD = "_corpus"


def artifact_root() -> str:
    """Root for derived artifacts (memo tables, built fixtures):
    ``$SPARK_GRAFT_CC_MEMO_DIR`` when a deployment configured shared
    storage, else the per-process scratch dir (created lazily, rmtree'd
    at exit) — never a dir that outlives the invocation by default."""
    root = os.environ.get("SPARK_GRAFT_CC_MEMO_DIR")
    if root:
        return root
    if not _PROCESS_SCRATCH:
        d = tempfile.mkdtemp(prefix=f"spark_graft_run{os.getpid()}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _PROCESS_SCRATCH.append(d)
    return _PROCESS_SCRATCH[0]


def build_seconds(log=None) -> dict[str, float]:
    """Build seconds per memo name, summed over ``log`` (default
    `MEMO_BUILD_LOG`): a memo rebuilt after a mid-run clear, or built
    once per corpus under the same name, reports BOTH builds (ADVICE
    r12 — a last-write-wins dict under-reported)."""
    out: dict[str, float] = {}
    for n, t in MEMO_BUILD_LOG if log is None else log:
        out[n] = round(out.get(n, 0.0) + t, 3)
    return out


def _corpus_entries(sf_dir: str, src_file: str) -> list[tuple[str, int, int]]:
    """The fingerprinted file set of a source table: sorted (relpath,
    size, mtime_ns) triples — no corpus bytes read (100 TB-safe)."""
    src = os.path.join(sf_dir, src_file)
    entries = []
    if os.path.isdir(src):
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                s = os.stat(p)
                entries.append((os.path.relpath(p, src), s.st_size, s.st_mtime_ns))
    else:
        s = os.stat(src)
        entries.append((os.path.basename(src), s.st_size, s.st_mtime_ns))
    return sorted(entries)


def _corpus(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def memo_key(name: str, sf_dir: str, entries: list[tuple[str, int, int]]) -> str:
    """The published directory name of memo ``name`` over the source
    file set ``entries`` of corpus ``sf_dir``. Fingerprint = file count
    + sha256 over the sorted (relpath, size, mtime_ns) triples (review
    r12): total-bytes + integer max-mtime let a corpus regenerated in
    place within the same second with equal total size serve stale
    memos; per-file paths + nanosecond mtimes close that hole without
    reading corpus bytes."""
    h = hashlib.sha256()
    for relpath, size, mtime_ns in entries:
        h.update(f"{relpath}|{size}|{mtime_ns};".encode())
    fp = f"{len(entries)}_{h.hexdigest()[:16]}"
    return f"spark_graft_{name}_{_corpus(sf_dir)}_{_MEMO_VERSION}_{fp}"


def match_key(entry: str, sf_dir: str, name: str | None = None) -> str | None:
    """The fingerprint of ``entry`` when it is a published `memo_key`
    of corpus ``sf_dir`` at the current `_MEMO_VERSION` (and of memo
    ``name`` when given), else None. The corpus field is compared
    exactly — ``full`` or ``v1`` never match inside another corpus's
    memo names — and a private ``.building-`` dir never matches. Without
    ``name`` the split between name and corpus is a guess: corpus
    ``sf0.1`` also matches the memos of a corpus ``run_sf0.1``."""
    name_re = re.escape(name) if name is not None else ".+"
    corpus = re.escape(_corpus(sf_dir))
    m = re.fullmatch(rf"spark_graft_{name_re}_{corpus}_{_MEMO_VERSION}_(\d+_[0-9a-f]{{16}})", entry)
    return m.group(1) if m else None


def _recorded_corpus(memo_dir: str) -> str | None:
    """The resolved corpus path `publish_once` recorded in a published
    memo, or None for a memo published before the record existed."""
    try:
        with open(os.path.join(memo_dir, _CORPUS_RECORD)) as f:
            return f.read()
    except OSError:
        return None


def clear_corpus(sf_dir: str) -> int:
    """Drop the published memos of corpus ``sf_dir`` from the memo
    root; returns how many. Scoped by the key's corpus field (ADVICE
    r12): the root is a SHARED filesystem on the documented deployment,
    and other corpora's memos must survive under concurrently-running
    drivers. The key alone cannot split name from corpus (`match_key`),
    so a memo that records its corpus path is dropped only when that
    path is ``sf_dir``'s: corpus ``sf0.1`` keeps ``run_sf0.1``'s memos.
    A memo without the record falls back to the key match."""
    root = artifact_root()
    try:
        entries = os.listdir(root)
    except OSError:
        return 0
    path = os.path.realpath(sf_dir)
    gone = [
        e for e in entries
        if match_key(e, sf_dir) and _recorded_corpus(os.path.join(root, e)) in (None, path)
    ]
    for e in gone:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)
    return len(gone)


def _data_files(entries) -> set:
    # marker/hidden files (_SUCCESS, .crc) are rewritten by an append
    # commit even though no old DATA file changed — they stay in the
    # fingerprint (any change still rebuilds) but must not veto append
    # detection
    return {
        t for t in map(tuple, entries) if not os.path.basename(t[0]).startswith(("_", "."))
    }


def find_appendable_prior(sf_dir: str, name: str, src_file: str = "documents.parquet"):
    """Locate a PUBLISHED sibling memo of ``name`` built from an earlier
    version of this corpus whose file manifest is a STRICT SUBSET of the
    current file set — i.e. the corpus was APPENDED to (every old file
    byte-identical by (path, size, mtime_ns), new files added). Returns
    the prior memo's path, or None when no such prior exists (including
    any in-place regeneration, which changes old files' stats and
    correctly forces a full rebuild). The largest subset wins — the most
    recent link of an append chain.

    This is the memo tier's analogue of `append_to_ivf_index`'s
    frozen-model contract (round-13, verdict #4): an append must not
    force a full retrain of every per-corpus model table. Pre-r13 memos
    carry no _manifest.json and are skipped (their corpora re-train once
    on first append, then chain)."""
    entries = _data_files(_corpus_entries(sf_dir, src_file))
    root_dir = artifact_root()
    best: tuple[int, str] | None = None
    try:
        names = os.listdir(root_dir)
    except OSError:
        return None
    for e in names:
        if not match_key(e, sf_dir, name):
            continue
        p = os.path.join(root_dir, e)
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            continue
        try:
            with open(os.path.join(p, "_manifest.json")) as f:
                prior = _data_files(json.load(f))
        except (OSError, ValueError):
            continue
        if prior and prior < entries and (best is None or len(prior) > best[0]):
            best = (len(prior), p)
    return best[1] if best else None


def publish_once(sf_dir: str, name: str, write, src_file: str = "documents.parquet") -> str:
    """Build-once publication of a derived artifact, shared by the memo
    tables and the built input fixtures, under `memo_key` (so a changed
    ``src_file`` table rebuilds, and a changed _MEMO_VERSION — a changed
    ALGORITHM — rebuilds). Returns the published dir if its ``_SUCCESS``
    exists; otherwise ``write(tmp)`` fills a PRIVATE ``.building-<uuid>``
    dir, which gets ``_manifest.json``, the resolved corpus path
    (``_corpus``, read by `clear_corpus`) and ``_SUCCESS``, and is renamed over
    the published path, so a lost race can never leak straggler files
    into the winner's dir. Location: `artifact_root()`."""
    entries = _corpus_entries(sf_dir, src_file)
    base = os.path.join(artifact_root(), memo_key(name, sf_dir, entries))
    if os.path.exists(os.path.join(base, "_SUCCESS")):
        return base
    tmp = f"{base}.building-{uuid.uuid4().hex}"
    try:
        os.makedirs(tmp)
        write(tmp)
        # the manifest rides inside the artifact (underscore files are
        # invisible to Spark's file index): `find_appendable_prior`
        # needs it to recognize a corpus APPEND and reuse the frozen
        # model instead of retraining (round-13, verdict #4)
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump([list(t) for t in entries], f)
        with open(os.path.join(tmp, _CORPUS_RECORD), "w") as f:
            f.write(os.path.realpath(sf_dir))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
    except BaseException:
        # a build that fails (or is watchdog-cancelled) mid-write must
        # not leak its corpus-sized private dir into the shared root
        # (ADVICE r12)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, base)
    except OSError:
        # lost a concurrent-build race only if the winner actually
        # published (review r12: a bare OSError swallow could return a
        # dir that never materialized — e.g. a permissions failure)
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(base, "_SUCCESS")):
            raise
    return base


def corpus_memo(
    spark,
    sf_dir: str,
    name: str,
    build,
    src_file: str = "documents.parquet",
    partitions: int | None = None,
):
    """A per-corpus-version memo table: ``build()`` returns the
    DataFrame, written as parquet through `publish_once` (keying,
    private build dir, manifest and rename live there) on first call
    and read back thereafter. ``src_file`` picks the fingerprinted
    source table — documents for the text-dedup memos, embeddings for
    the ANN/semdedup model tables (plans/ann_memo.py).
    ``partitions`` guarantees the memo comes back with at least that
    READ parallelism (round-12 soak catch): a small memo collapses to a
    handful of read partitions — AQE coalesces the build to 1-3 files,
    and even a many-file layout is PACKED back into one split by
    maxPartitionBytes — and a consumer whose join EXPANDS the memoized
    rows (the ANN probe joins multiply each list row by its probing
    queries) then runs the whole expansion in 1-3 tasks: the zipf-10×
    soak sat a single 100%-one-core task for >10 min. The build writes
    ``partitions`` files, and the read applies an EXPLICIT repartition
    (which AQE never coalesces) only when the scan came back narrower —
    a no-op at real scale where the memo spans ≥ that many splits, a
    trivial shuffle of small data exactly when small data is the
    problem; content is unchanged either way."""

    def write(tmp: str) -> None:
        t0 = time.perf_counter()
        depth = getattr(_MEMO_TLS, "d", 0)
        _MEMO_TLS.d = depth + 1
        try:
            df = build()
            if partitions:
                df = df.repartition(partitions)
            df.write.mode("overwrite").parquet(tmp)
        finally:
            _MEMO_TLS.d = depth
        if depth == 0:
            MEMO_BUILD_LOG.append((name, time.perf_counter() - t0))

    out = spark.read.parquet(publish_once(sf_dir, name, write, src_file))
    if partitions and out.rdd.getNumPartitions() < partitions:
        out = out.repartition(partitions)
    return out


def frozen_model_memo(spark, sf_dir, names, train, extend, wide, src_file):
    """A set of memo tables that one model produces together (e.g.
    assignments + centroids), returned as one frame per name in
    ``names`` order. The tables named in ``wide`` come back with full
    read parallelism (`corpus_memo(partitions=defaultParallelism)`), for
    tables that feed expansion joins.

    On a cold memo ``train()`` returns one frame per name and runs at
    most once per call, however many of the set's tables need building.
    The frozen-model append contract (round-13, verdict #4): when the
    ``src_file`` corpus has been APPENDED to (old files untouched, new
    files added — `find_appendable_prior`) and EVERY table of the set
    has a prior from the SAME prior corpus version (same key
    fingerprint), the model stays FROZEN: ``extend(prior_tables)`` gets
    the prior tables as frames and returns one frame per name, assigning
    only the new rows. A partial prior set — a crash between publishes —
    retrains."""
    cache = []

    def frames():
        if not cache:
            prior = [find_appendable_prior(sf_dir, n, src_file) for n in names]
            fps = {p and match_key(os.path.basename(p), sf_dir, n) for p, n in zip(prior, names)}
            if None in fps or len(fps) != 1:
                cache.append(train())
            else:
                cache.append(extend([spark.read.parquet(p) for p in prior]))
        return cache[0]

    par = spark.sparkContext.defaultParallelism
    return [
        corpus_memo(spark, sf_dir, n, lambda i=i: frames()[i], src_file, par if n in wide else None)
        for i, n in enumerate(names)
    ]

"""Multi-dimensional data layout: Z-order (Morton) clustering.

The reference's outputs are one-dimensional layouts — time-partitioned
files (`reference/ingest/ecmwf_opendata/__init__.py:306-314`) prune on
time alone. Queries that also filter space (the MVT tile path,
`reference/ingest/raster_vector.py:103-113`) scan every file of the
matching date. Z-ordering interleaves the bits of several columns into
one sort key so parquet row-group min/max stats stay narrow on EVERY
interleaved dimension at once; Spark's scan-level row-group pruning then
skips data for predicates on any of them.

All codegen column expressions — the only driver-side state is one
min/max row per column (same bounded-model pattern as the IVF
centroids). At 100 TB: `repartitionByRange` on the z-key does the global
range shuffle (sampled bounds, no driver sort), and each output task
writes one locality-tight file.

The stored-index table mechanics live here too, once for the four index
lifecycles (band, CDC chunk, IVF, postings): ``write_capped_index`` is
the capped, bucketed writer; ``rewrite_index`` is the one in-place
rewrite behind both retention and compaction, reading the table's
layout from the catalog instead of restating it.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..checkpoints import ckpt


def zorder_key(df: DataFrame, cols: list[str], bits: int = 12) -> Column:
    """Morton-interleaved BIGINT key over ``cols``.

    Each column is affinely scaled to ``[0, 2^bits)`` using its global
    min/max (one scalar aggregate, collected once), then bit ``b`` of
    column ``i`` lands at position ``b * len(cols) + i``. Total key width
    ``bits * len(cols)`` must stay ≤ 63.
    """
    if bits * len(cols) > 63:
        raise ValueError("zorder key wider than 63 bits")
    bounds = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn = float(bounds[f"mn_{c}"])
        span = float(bounds[f"mx_{c}"]) - mn or 1.0
        s = ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(top)).cast("bigint")
        scaled.append(F.least(F.lit(top).cast("bigint"), F.greatest(F.lit(0).cast("bigint"), s)))
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1).cast("bigint"))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list[str], bits: int = 12, files: int = 8
) -> None:
    """Write ``df`` as parquet clustered by the Z-order of ``cols``:
    range-partition on the key (sampled bounds — no global sort on one
    node), sort within each task, one locality-tight file per task. The
    ``_zkey`` column is kept in the output: dropping it after the sort
    would let Catalyst collapse the projection below the sort, and it
    doubles as the clustering metadata."""
    zdf = df.withColumn("_zkey", zorder_key(df, cols, bits))
    (
        zdf.repartitionByRange(files, "_zkey")
        .sortWithinPartitions("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet_dir(
    spark,
    path: str,
    target_mb: int = 128,
    sort_by: list[str] | None = None,
) -> dict:
    """Small-files compaction — the OPTIMIZE primitive every long-lived
    parquet dataset needs: streaming sinks, per-ingest appends, and
    retention rewrites all accrete files far below the row-group sweet
    spot, and at 100 TB the scan's task-scheduling and footer-reading
    overhead becomes file-count-bound instead of byte-bound. Rewrites
    the directory into ceil(total_bytes / target) files (optionally
    sorted within partitions to restore row-group min/max locality —
    compose with ``zorder_key`` for multi-dimensional layouts), then
    atomically swaps the staged result in via FileSystem rename.

    Not a table-catalog operation: this is the path-level sibling of
    ``rewrite_index``. The bucketed index tables must not pass through
    here — compaction would destroy the bucket-file mapping.

    Returns {"files_before", "files_after", "bytes"} for observability.
    At scale: one full read + one ``repartition`` shuffle + one write —
    the same bill as any retention rewrite; schedule it with the
    retention job, never per-ingest."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)

    def _data_files(p):
        out = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isFile() and not name.startswith("_") and not name.startswith("."):
                out.append((name, st.getLen()))
        return out

    before = _data_files(jpath)
    total_bytes = sum(sz for _, sz in before)
    n_out = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_by:
        staged_df = df.repartition(n_out).sortWithinPartitions(*sort_by)
    else:
        staged_df = df.repartition(n_out)
    staged = path.rstrip("/") + "__compact_staging"
    staged_df.write.mode("overwrite").parquet(staged)
    # atomic-enough swap: the staged dir is complete (write committed)
    # before the original disappears; a crash between delete and rename
    # leaves the staging dir intact for manual recovery.
    fs.delete(jpath, True)
    fs.rename(jvm.org.apache.hadoop.fs.Path(staged), jpath)
    after = _data_files(jpath)
    return {
        "files_before": len(before),
        "files_after": len(after),
        "bytes": total_bytes,
    }


def write_capped_index(
    rows: DataFrame,
    table: str,
    *,
    keys: list[str],
    id_col: str,
    cap: int,
    buckets: int,
    mode: str,
    path: str | None,
) -> None:
    """The one writer behind the capped stored indexes (band, CDC chunk):
    ``rows`` land in ``table`` bucketed on ``keys`` and sorted on
    ``keys + [id_col]``, each (key, id) at most once and at most ``cap``
    rows per key, ranked by ``id_col``.

    The cap holds ACROSS appends by induction: ``mode='overwrite'`` caps
    within the write; ``mode='append'`` admits only ``cap - n_existing``
    incoming rows per key, ``n_existing`` being the key's stored rows, so
    a stored key never exceeds ``cap`` however many batches land on it.
    Earlier ingests win; within one batch, the smallest id wins. Both
    modes are IDEMPOTENT on (key, id): a row already stored, or repeated
    within the batch (a re-delivered source file), is dropped before
    ranking, so it neither lands twice nor burns capacity.

    Append admits from the stored rows of the batch's own keys only:
    one scan of the stored table is semi-joined against a broadcast of
    the batch keys and unioned with the batch, which is hash-partitioned exactly as the
    table is bucketed (Murmur3 on ``keys``, ``buckets`` ways), so the
    union keeps the bucketed scan's partitioning and the batch is the
    only side that shuffles. One sort on ``(keys, id)`` then serves two
    window passes: ``lag`` drops every repeat of a (key, id), stored
    rows first, and running sums give each fresh row its rank and its
    key's stored count. No aggregate runs over the stored index, so
    neither its size nor its number of keys sets the append's memory.
    ``saveAsTable`` re-declares the bucket spec, which Spark checks
    against the stored one on append."""
    cols = rows.columns
    rest = [c for c in cols if c not in keys and c != id_col]
    spark = rows.sparkSession
    rows = rows.withColumn("_new", F.lit(1))
    if mode == "append" and spark.catalog.tableExists(table):
        stored = (
            spark.table(table)
            .join(F.broadcast(rows.select(*keys)), keys, "left_semi")
            .select(*cols)
            .withColumn("_new", F.lit(0))
        )
        # the batch goes first: a union keeps its sides' partitioning
        # only when the later sides' map exactly onto the first side's
        # columns, and the semi-join's not-null filter leaves the stored
        # side's columns unequal to its own scan's partitioning
        rows = rows.repartition(buckets, *keys).unionByName(stored)
    w = Window.partitionBy(*keys).orderBy(id_col, "_new", *rest)
    upto_here = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    whole_key = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    capped = (
        rows.withColumn("_prev", F.lag(id_col).over(w))
        .filter(F.coalesce(F.col("_prev") != F.col(id_col), F.lit(True)))
        .withColumn("_rank", F.sum("_new").over(upto_here))
        .withColumn("_stored", F.sum(1 - F.col("_new")).over(whole_key))
        .filter((F.col("_new") == 1) & (F.col("_rank") <= cap - F.col("_stored")))
        .select(*cols)
    )
    writer = (
        capped.write.format("parquet")
        .mode(mode)
        .bucketBy(buckets, keys[0], *keys[1:])
        .sortBy(*keys, id_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _n_files(spark, loc: str) -> int:
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(loc)
    it = jpath.getFileSystem(hconf).listFiles(jpath, True)
    n = 0
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
    return n


def rewrite_index(
    spark, table: str, retired: DataFrame | None = None, key: str = "doc_id"
) -> dict:
    """Rewrite a stored index IN PLACE: retention and compaction in one
    pass, for every index table (band, CDC chunk, IVF, postings and its
    ``_docs`` companion).

    - Retention: rows whose ``key`` appears in ``retired`` leave the
      table (one anti-join against a retirement batch). Probes stop
      returning ghosts, and the capped indexes regain the freed
      capacity, because their append counts stored rows.
    - Compaction: every append writes its own set of bucket files, so
      after N ingests each bucket holds ~N small files and probe scans
      go file-count-bound. The survivors are repartitioned on the bucket
      columns into exactly the stored bucket count — Spark's repartition
      hash and its bucket hash are both Murmur3 on the same columns — so
      each task holds one bucket and the rewrite lands ONE file per
      bucket. An unbucketed table is rewritten as it is partitioned.

    The layout is the catalog's, never the caller's: location, bucket
    count and bucket columns come from one ``DESCRIBE TABLE EXTENDED``,
    and ``insertInto(overwrite=True)`` writes the survivors, re-selected
    in the stored column order (it matches by position), back under the
    stored bucket and sort spec at the stored location — so no file
    holding a retired row survives. The survivors pass through a lineage
    cut (``ckpt``) first, so the overwrite never reads the files it
    replaces.

    Returns {"files_before", "files_after"}. Cost: one index-sized read,
    one shuffle, one write — the amortization contract of the
    reference's nightly retention job: batch retirements and schedule
    compaction with them, never per document or per ingest."""
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    loc = info.get("Location")
    if loc is None:
        raise RuntimeError(
            f"DESCRIBE TABLE EXTENDED {table} reported no Location row; "
            "cannot rewrite a table without a filesystem location"
        )
    files_before = _n_files(spark, loc)
    df = spark.table(table)
    cols = df.columns
    if retired is not None:
        df = df.join(retired.select(key), [key], "left_anti").select(*cols)
    survivors = ckpt(df)
    if "Num Buckets" in info:
        bucket_cols = re.findall(r"`([^`]+)`", info["Bucket Columns"])
        survivors = survivors.repartition(int(info["Num Buckets"]), *bucket_cols)
    survivors.write.insertInto(table, overwrite=True)
    return {"files_before": files_before, "files_after": _n_files(spark, loc)}

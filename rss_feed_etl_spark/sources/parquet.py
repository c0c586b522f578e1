"""Parquet table IO (reference S3/S4 — worksheet read / clear-and-rewrite).

The reference's storage engine is Google Sheets: every load reads the whole
worksheet (S3) and every save clears and rewrites it (S4,
data_loader.py:426-428) — O(history) write amplification per batch.  Here
tables are Parquet directories:

- reads are lazy scans with pushdown/pruning;
- ``write_overwrite`` reproduces the reference's overwrite semantics where
  required (small dimension/output tables);
- ``write_partitioned`` is the scale path: partition by ingest date so the
  date-window queries prune structurally and incremental merges rewrite
  only the touched partitions (dynamic partition overwrite), never the
  whole history.

This module is the only one that knows the stored-table layout:
``read_table`` hides the ``ingest_date`` partition column from readers, and
a new snapshot replaces only the dates its batch touched.  Two sinks apply
that rule and share its two halves (``_touched_dates``, then
``_write_dates``: write, then delete the dates the merge emptied):

- ``upsert_partitioned`` (the streaming SCD1 sink) reads and merges only
  the touched partitions, so a micro-batch costs what it touches;
- ``write_partitioned_incremental`` (the CLI) takes a merge its caller ran
  over the whole history and writes only the touched dates of it.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_table(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """A stored table without its ``ingest_date`` partition column.

    With a ``schema``, a missing table reads as an empty one (the reference
    creates the worksheet with a header row when absent,
    data_loader.py:74-113); without one, a missing table is an error."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    try:
        df = reader.parquet(path)
    except AnalysisException:
        if schema is None:
            raise
        return spark.createDataFrame([], schema)
    return df.drop("ingest_date")


def write_overwrite(df: DataFrame, path: str) -> None:
    """Clear-and-rewrite sink (reference S4)."""
    df.write.mode("overwrite").parquet(path)


def write_partitioned(df: DataFrame, path: str, ts_col: str = "published") -> None:
    """Scale sink: partition by ingest date and overwrite only the
    partitions present in ``df`` (dynamic partition overwrite, a per-write
    option that leaves the session's conf alone).  Rows with a null
    ``ts_col`` land in the default partition."""
    (
        df.withColumn("ingest_date", F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_date")
        .parquet(path)
    )


def write_partitioned_incremental(
    merged: DataFrame,
    batch: DataFrame,
    history: DataFrame,
    path: str,
    ts_col: str = "published",
) -> list:
    """Incremental merge sink for a full merge: rewrite ONLY the ingest
    dates the batch touched, never the whole history (the fix for the
    reference's clear-and-rewrite, data_loader.py:426-428).

    ``merged`` is the merge of ``batch`` into the whole ``history``;
    filtered to the touched dates (``_touched_dates``) it goes to
    ``_write_dates``.  With an empty history every date of ``merged`` is
    touched, so the first write equals ``write_partitioned(merged)``.
    Returns the touched dates, sorted, with ``None`` last when the null
    date is among them.
    """
    dates, emptiable = _touched_dates(batch, history, ts_col=ts_col)
    if not dates:  # empty batch → nothing to rewrite
        return dates
    day = F.to_date(F.col(ts_col))
    keep = day.isin([d for d in dates if d is not None])
    if dates[-1] is None:
        keep = keep | day.isNull()
    _write_dates(merged.filter(keep), path, emptiable, ts_col)
    return dates


def upsert_partitioned(
    batch: DataFrame,
    path: str,
    schema: T.StructType,
    merge,
) -> list:
    """Merge ``batch`` into the stored table at ``path`` reading and
    rewriting ONLY the ingest dates the batch touches: the per-batch cost
    tracks the batch, not the history.

    ``merge(batch, history)`` is an upsert on ``link`` (``merge_scd1``):
    history rows whose key the batch lacks pass through unchanged, a
    matched key takes the batch row's ``published``, and a batch key that
    history lacks is appended.  ``batch`` holds each key once and is
    evaluated several times, so pass it materialized (checkpointed).

    1. ``_touched_dates``: the batch's own dates plus the dates of every
       history row whose key is in the batch (a column-pruned ``(link,
       published)`` scan semi-joined to the broadcast batch keys) — one
       collect, no shuffle.  An empty batch touches nothing: return.
    2. Read only those ``ingest_date`` partition directories.
    3. ``merge`` the batch into that slice and hand it to ``_write_dates``
       unmaterialized: the write job reads the slice while it writes, which
       is safe because dynamic partition overwrite stages its files and
       replaces a date's directory only when the job commits, after every
       task has read its input (a checkpoint of the merge would cost one
       more job and a copy of the slice).

    Why merge(slice) equals the full merge restricted to the touched
    dates: every history row of a batch key lies on a touched date (that
    is how the dates were found), so the slice holds every history version
    a batch row can match, and a batch key missing from the slice is
    missing from the whole history — the same rows are updated and the
    same rows appended.  Rows of other keys pass through, so on a touched
    date the slice contributes exactly what history has there.  Every
    merged row of a batch key carries the batch row's date, which is
    touched; on untouched dates the full merge is history unchanged.
    Writing merge(slice) over the touched dates and deleting those it
    left empty therefore leaves the table equal to the full merge.
    Returns the touched dates as ``write_partitioned_incremental`` does.
    """
    spark = batch.sparkSession
    dates, emptiable = _touched_dates(
        batch, read_table(spark, path, schema)
    )
    if not dates:
        return dates
    merged = merge(batch, _read_dates(spark, path, schema, dates))
    _write_dates(merged, path, emptiable, "published")
    return dates


def _touched_dates(
    batch: DataFrame, history: DataFrame, ts_col: str = "published"
) -> tuple[list, set]:
    """The ingest dates a merge of ``batch`` into ``history`` can change.

    Touched dates = dates of the batch rows ∪ dates of the HISTORY rows of
    keys present in the batch — the second term matters because an
    update can move a row to a new date, and the stale version must vanish
    from its old partition.  One collect of a (date, from-history) row per
    batch row and per matched history row: the history side is a
    column-pruned ``(link, ts_col)`` scan semi-joined to the broadcast batch
    keys, so nothing shuffles (the rows are batch-sized).  A null date (a
    row with no ``ts_col``) is touched like any other and maps to the
    default partition.

    Returns ``(dates, emptiable)``: the touched dates sorted with ``None``
    last, and the dates found only in history — the only ones a merge can
    leave empty, because every batch row reaches the merge with its date.
    """
    day = F.to_date(F.col(ts_col))
    rows = (
        batch.select(day.alias("d"), F.lit(False).alias("old"))
        .unionByName(
            history.select("link", ts_col)
            .join(F.broadcast(batch.select("link")), "link", "left_semi")
            .select(day.alias("d"), F.lit(True).alias("old"))
        )
        .collect()
    )
    found = {r["d"] for r in rows}
    dates = sorted(d for d in found if d is not None)
    if None in found:
        dates.append(None)
    return dates, found - {r["d"] for r in rows if not r["old"]}


def _read_dates(spark: SparkSession, path: str, schema: T.StructType, dates: list) -> DataFrame:
    """The stored rows on ``dates`` (None = the default partition) without
    the partition column.  Only those partition directories are listed and
    scanned — no other date is opened, and no filter (nor its date
    literals) enters the plan; a touched date the table does not have yet
    (a batch's new date) has no directory and reads as nothing."""
    fs, dirs = _partition_dirs(spark, path, dates)
    found = [str(d) for d in dirs if fs.exists(d)]
    if not found:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema).option("basePath", path).parquet(*found).drop("ingest_date")
    )


def _write_dates(merged: DataFrame, path: str, emptiable: set, ts_col: str) -> None:
    """Write ``merged`` — the complete new contents of the touched dates —
    over its dates (dynamic partition overwrite leaves every other date's
    directory alone), then delete each ``emptiable`` date it has no rows
    on (its last row moved to another date).  The deletes run after the
    write succeeds: a crash in between leaves the previous snapshot plus
    rewritten dates, never a lost live row.  Checking the emptiable dates
    is one date-grain job over ``merged``, run only when there are any,
    and before the write, because ``merged`` may read ``path``."""
    if emptiable:
        day = F.to_date(F.col(ts_col)).alias("d")
        emptiable = emptiable - {r["d"] for r in merged.select(day).distinct().collect()}
    write_partitioned(merged, path, ts_col=ts_col)
    if emptiable:
        _delete_partitions(merged.sparkSession, path, emptiable)


def _delete_partitions(spark: SparkSession, path: str, dates) -> None:
    """Remove the ``ingest_date`` partition directories of ``dates``."""
    fs, dirs = _partition_dirs(spark, path, dates)
    for d in dirs:
        fs.delete(d, True)


def _partition_dirs(spark: SparkSession, path: str, dates) -> tuple:
    """The table's Hadoop filesystem and the ``ingest_date`` directory
    path of each of ``dates`` (None = the default partition)."""
    fs_path = spark._jvm.org.apache.hadoop.fs.Path
    root = fs_path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    names = ("__HIVE_DEFAULT_PARTITION__" if d is None else d.isoformat() for d in dates)
    return fs, [fs_path(root, f"ingest_date={n}") for n in names]


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for a streaming-sink table.

    Micro-batch sinks accrete one file per (batch × task) — after a day of
    15-minute triggers a partition holds hundreds of KB-sized files, and
    every later scan pays per-file open/footer costs (the #1 operational
    pathology of streaming parquet sinks).  Rewrite the table with each
    output file sized toward ``target_file_bytes`` using per-partition
    ``repartition`` on the partition column (falls back to a single
    size-based coalesce for unpartitioned tables).  Returns the number of
    files after compaction.

    The rewrite is read-all-then-overwrite, so run it OFFLINE relative to
    writers (on a lakehouse table format this is OPTIMIZE/compaction with
    snapshot isolation; plain Parquet directories have no atomic swap).
    """
    import math
    import pathlib
    import shutil

    df = spark.read.parquet(path)
    total_bytes = sum(
        f.stat().st_size for f in pathlib.Path(path).rglob("*.parquet")
    )
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    if "ingest_date" in df.columns:
        out = df.repartition(n_files, F.col("ingest_date"))
        writer = out.write.mode("overwrite").partitionBy("ingest_date")
    else:
        out = df.repartition(n_files)
        writer = out.write.mode("overwrite")
    # stage to a sibling dir then swap: plain-parquet best effort at
    # not destroying the table if the rewrite dies mid-flight
    staged = path.rstrip("/") + "__compacting"
    writer.parquet(staged)
    shutil.rmtree(path)
    shutil.move(staged, path)
    return sum(1 for _ in pathlib.Path(path).rglob("*.parquet"))


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str = "link",
    buckets: int = 64,
) -> None:
    """Bucketed sink: pre-shuffle the table ONCE at write time so every
    later equi-join / groupBy on ``key`` is exchange-free.

    The reference re-reads and re-merges the whole history table on every
    run (data_loader.py:353-430); its Spark analog probes history on the
    primary key per batch.  Hash-bucketing the stored history by that key
    (+ sorting within buckets) means those probes compile to a
    SortMergeJoin with NO Exchange on the history side — at 100 TB the
    history is written pre-partitioned and never moves again; only the
    small batch side shuffles into the same bucketing.  ``path`` makes the
    table external so storage location is explicit (no warehouse writes).
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def zorder_value(cols: list[Column | str], bits: int = 16) -> Column:
    """Z-order (Morton) interleave of the per-column RANKS — the
    multi-dimensional clustering key.  Each column is first reduced to a
    ``bits``-bit bucket via ``xxhash64``-free percentile-ish quantization
    (min/max scaling is done by the caller via ``ntile`` or plain integer
    columns), then bits interleave so rows close in ANY dimension land
    close in the sort order.

    Pure Catalyst bit arithmetic — no UDF."""
    import functools

    from pyspark.sql import functions as F

    def to_col(c):
        return F.col(c) if isinstance(c, str) else c

    interleaved = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftrightunsigned(to_col(c).cast("long"), b).bitwiseAND(1)
            interleaved = interleaved.bitwiseOR(
                F.shiftleft(bit, b * n + i).cast("long")
            )
    return interleaved


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Write parquet clustered by the Z-order of ``cols`` (integer-valued
    columns; quantize floats/strings to integer buckets first).

    Why: parquet row-group min/max stats prune scans only when values are
    CLUSTERED within files.  A single-column sort clusters one dimension
    and destroys the others; Z-ordering interleaves the dimensions so
    range predicates on ANY of them skip most files/row-groups — the
    standard lakehouse layout trick for multi-dimension query tables.
    ``repartitionByRange`` on the z-value gives ~equal-sized,
    range-disjoint files; the within-partition sort tightens row-group
    stats further.
    """
    z = zorder_value([F.col(c) for c in cols], bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def plan_compaction(
    files: DataFrame,
    partition_col: str,
    file_col: str,
    bytes_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-files compaction plan: assign each partition's files to
    rewrite bins of ~``target_bytes`` so a compactor can merge every bin
    into one output file.  The streaming-sink disease at scale is millions
    of kilobyte files; this emits the rewrite batches that fix it.

    Bin assignment is next-fit over the per-partition cumulative size in
    (bytes desc, file) order: bin = floor((cumsum − bytes) / target) — a
    pure window expression, deterministic, no driver-side bin-packing
    loop.  Next-fit is within 2× of optimal bin count and, unlike
    first-fit-decreasing, needs no sequential state.

    Plan shape (100 TB): file MANIFEST grain (one row per file), windowed
    per partition key — no single global window, so a table with millions
    of files across thousands of partitions spreads evenly.  Output adds
    (bin, bin_bytes, n_bin_files) per file row.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(partition_col)
        .orderBy(F.col(bytes_col).desc(), F.col(file_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = files.withColumn(
        "bin",
        F.floor(
            (F.sum(bytes_col).over(w) - F.col(bytes_col))
            / F.lit(float(target_bytes))
        ).cast("int"),
    )
    wb = Window.partitionBy(partition_col, "bin")
    return staged.select(
        partition_col,
        file_col,
        bytes_col,
        "bin",
        F.sum(bytes_col).over(wb).cast("bigint").alias("bin_bytes"),
        F.count("*").over(wb).cast("bigint").alias("n_bin_files"),
    )


def read_orc(spark, path: str):
    """ORC source — the other columnar lake format this engine reads
    natively (predicate pushdown + column pruning work the same as
    parquet's; Spark ships the reader built-in)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (zlib) — for downstreams
    standardized on Hive/ORC rather than parquet."""
    df.write.mode("overwrite").option("compression", "zlib").orc(path)

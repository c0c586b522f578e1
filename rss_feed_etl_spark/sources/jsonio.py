"""JSON-lines source/sink.

The reference exchanges no JSON files (its only JSON surface is embedded
strings — F14/F15), but JSONL is the lingua franca of training-data
pipelines, so the engine treats it as a first-class format next to
Parquet/CSV.

Scale rules baked in here:

- **Always pass a schema on read.**  Schema inference reads the data once
  just to guess types — at 100 TB that is a full extra pass, and a wrong
  guess (all-null column → string) silently corrupts downstream plans.
  ``read_jsonl`` therefore REQUIRES an explicit ``StructType``; malformed
  lines land in ``_corrupt_record`` under PERMISSIVE mode instead of
  failing the job.
- **JSONL is a wire format, not a table format.**  No predicate pushdown,
  no column pruning, no stats — ``jsonl_to_parquet`` is the one-pass
  converter a pipeline should run before anything query-shaped happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read JSON-lines with an explicit schema (never inferred).

    Default: ``DROPMALFORMED`` silently skips unparseable lines.  With
    ``keep_corrupt=True`` the read runs PERMISSIVE and each failure lands
    verbatim in ``_corrupt_record`` for a quarantine sink.  (The two can't
    share one plan: Spark forbids queries that reference only the corrupt
    column — e.g. ``count()`` after filtering it — so the dropping variant
    must not carry the column at all.)
    """
    if not keep_corrupt:
        return spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)
    # copy — StructType.add mutates the receiver, and the caller's schema
    # must stay corrupt-column-free for later writes
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """Write JSON-lines, gzip-compressed by default (JSONL is 5-10×
    whitespace+keys overhead vs Parquet; never ship it uncompressed)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def jsonl_to_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    schema: T.StructType,
) -> None:
    """One-pass JSONL → Parquet conversion (the ingest step that makes
    every later scan prunable and pushdown-able)."""
    read_jsonl(spark, src, schema).write.mode("overwrite").parquet(dest)


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shard_key: str,
    compression: str | None = "gzip",
) -> DataFrame:
    """Training-export sink: write exactly ``n_shards`` JSONL files,
    hash-sharded on ``shard_key``, plus a ``_manifest.json`` recording
    per-shard row counts and content checksums.

    The manifest is what a downstream trainer actually needs from an
    export: a stable shard list, a row count to size the epoch, and a
    checksum to detect partial/corrupt copies.  The checksum is an
    order-insensitive fold (sum of per-row md5 prefixes mod 2^61) so it is
    reproducible regardless of task scheduling, and it is computed in the
    SAME pass that writes the shards — the data is scanned once.

    Plan shape (100 TB): one hash-partition exchange on the shard key
    (`repartition(n, key)` → each task writes its own file), and the
    manifest aggregate is shard-grain.  Returns the manifest DataFrame.
    """
    import json
    import os

    from ..functions.hashing import md5_bucket

    shard = md5_bucket(F.col(shard_key).cast("string")) % n_shards
    staged = df.withColumn("__shard", shard).repartition(n_shards, "__shard")
    staged = staged.localCheckpoint(eager=True)  # one snapshot: write + manifest

    writer = staged.write.mode("overwrite").partitionBy("__shard")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)

    row_sig = md5_bucket(F.to_json(F.struct(*[c for c in df.columns])))
    manifest = (
        staged.groupBy(F.col("__shard").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            # accumulate in decimal(38,0): a bigint sum of 2^61-scale
            # signatures overflows under ANSI mode
            (
                F.sum((row_sig % F.lit(2**61)).cast("decimal(38,0)"))
                % F.lit(2**61)
            ).cast("bigint").alias("checksum"),
        )
        .orderBy("shard")
    )
    rows = [r.asDict() for r in manifest.collect()]
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump({"n_shards": n_shards, "shards": rows}, f, indent=1)
    return manifest

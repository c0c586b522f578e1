"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen so the
same code is correct on a large multi-executor cluster: AQE owns runtime
partition coalescing and skew-join splitting, shuffle partitions default to
the parallelism of the session rather than Spark's legacy 200, and the
session time zone is pinned to UTC so timestamp semantics match across
engines (the DuckDB oracle is UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def get_spark(app_name: str = "rss-feed-etl-spark", cpus: int | None = None) -> SparkSession:
    """A ``local[cpus]`` session with the static confs set here and the
    runtime SQL confs applied by :func:`tune_session`."""
    cpus = cpus or default_cpus()
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle partitions default to the session's parallelism (NOT
        # Spark's legacy 200, NOT a multiple of it).  An interrupted
        # round-10 session shipped 4×cpus + an 8 MB AQE advisory,
        # justified by ngram-pair hash-agg spill measurements taken
        # BEFORE the operator-level fixes (shared-bucket persist +
        # explicit sizes broadcast in dedup.py) landed; a controlled
        # same-HEAD A/B after those fixes showed the config pair LOSES
        # everywhere: 25-query headline subset 53.0 s at cpus/64m vs
        # 79.7 s at 4×cpus/8m, and the 10× ngram fresh-JVM scale entry
        # 9.6 s vs 16.2 s.  The operator fix removed the oversized
        # aggregate the config was compensating for, so the config
        # reverted to the scale-neutral default (guide §2.2: fix the
        # plan, not the knob).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # Commit and pre-touch the heap up front: with the default tiny
        # -Xms, the first memory-heavy query pays ~10 GB of heap growth +
        # first-touch page faults inside its own runtime (measured on the
        # 10× corpus: cold ngram run 92.8 s → 61.4 s with pre-touch,
        # identical warm runs).  One-time session-startup cost instead of
        # a distortion of whichever query happens to run first.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-terminated stage lines that bury
        # real stdout (the bench's headline JSON was truncated out of the
        # round-4 record by them) — keep driver stdout clean.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return tune_session(builder.getOrCreate())


_PYFILES_ADDED: set[int] = set()


def ensure_executors_can_import(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile.

    Pure-expression operators never run Python on executors, but the
    ``mapInPandas`` operators (RSS fetch, enrichment, multimodal) pickle
    closures that reference this package by module name — if the driver's
    cwd is not the repo root, Spark's python workers cannot import it.
    Zipping the package once per process and ``addPyFile``-ing it makes the
    operators location-independent (works on driver-provided sessions too,
    since addPyFile is a runtime call).
    """
    import os
    import tempfile
    import zipfile

    key = id(spark.sparkContext)
    if key in _PYFILES_ADDED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"rss_feed_etl_spark-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _PYFILES_ADDED.add(key)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session.

    The driver harness hands us an already-built SparkSession; static configs
    (master, memory) are fixed, but these runtime SQL configs are what our
    operator semantics depend on (UTC timestamps for oracle parity, AQE for
    skew/coalesce at scale).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # AQE coalescing target: Spark's 64m default.  The round-10 A/B (see
    # get_spark) also tested 8m globally: it cost 1.3–2× on a dozen
    # mid-size aggregate queries at sf0.1 and bought nothing once the
    # ngram operator fix landed (the Arrow scans it was meant to
    # parallelize are map-only — parquet split sizing, not shuffle
    # sizing, sets their task count).
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    # Timestamp read semantics for the driver's parquet (naive INT64 nanos):
    # read as plain UTC TIMESTAMP (not NTZ) and surface nanos as longs for the
    # explicit nanos→micros conversion in testdata.load_table.  Kept here so
    # EVERY session and read path (not just load_table) agrees — DuckDB
    # applies the same semantics to the same files, so oracle parity holds.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark

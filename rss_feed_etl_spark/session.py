"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen so the
same code is correct on a large multi-executor cluster: AQE owns runtime
partition coalescing and skew-join splitting, shuffle partitions default to
the parallelism of the session rather than Spark's legacy 200, and the
session time zone is pinned to UTC so timestamp semantics match across
engines (the DuckDB oracle is UTC-naive).
"""

from __future__ import annotations

import atexit
import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession


#: ``spark.sql.codegen.cache.maxEntries``: how many Janino-compiled
#: generated classes the JVM keeps.  There is one cache per JVM and the
#: conf is static, so get_spark sets it when it builds the session;
#: Spark's default is 100.  Sized from class counts (the
#: ``CodegenMetrics`` compile counter; 4 cores, pyspark 4.1.2):
#: - one perfbench ``query_catalog`` pass (12 queries and
#:   curation_pipeline, sf0.02) compiles about 450 classes cold.  At the
#:   default size every warm pass recompiled 421-464 of them
#:   (curation_pipeline alone 160-169); at 2000, 0-2.
#: - the largest bench.py child (its 7 heaviest headline entries,
#:   sf0.1, each run twice) compiled 912 classes at the default and 509
#:   at 2000: curation_pipeline's second run recompiled 211 of its 214.
#: - the Tier-1 session (886 tests) compiled 12,376 classes at the
#:   default and 6,849 at 2000.  Most compile once, so no size holds
#:   them all; Metaspace ended at 211 MB and 229 MB.
#: 2000 holds four of the largest working set that comes round again
#: (~500 classes).  Metaspace at the end of a query_catalog run read
#: 174 MB at 2000 and 184 MB at the default.
CODEGEN_CACHE_ENTRIES = 2000


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return tune_session(builder.getOrCreate())


_PYFILES_ADDED: set[int] = set()
_PACKAGE_ZIP: str | None = None


def _package_zip() -> str:
    """Zip this package's ``.py`` files into a new temp file, once per process.

    ``mkstemp`` names the file, so a zip another process left behind (one
    that had this pid before, from another checkout) is never picked up,
    and the file is removed when the interpreter exits.
    """
    global _PACKAGE_ZIP
    if _PACKAGE_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, zip_path = tempfile.mkstemp(prefix="rss_feed_etl_spark-", suffix=".zip")
        atexit.register(pathlib.Path(zip_path).unlink, missing_ok=True)
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        _PACKAGE_ZIP = zip_path
    return _PACKAGE_ZIP


def ensure_executors_can_import(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile.

    Pure-expression operators never run Python on executors, but the
    ``mapInPandas`` operators (RSS fetch, enrichment, multimodal) pickle
    closures that reference this package by module name — if the driver's
    cwd is not the repo root, Spark's python workers cannot import it.
    Zipping the package once per process (:func:`_package_zip`) and
    ``addPyFile``-ing it makes the operators location-independent (works
    on driver-provided sessions too, since addPyFile is a runtime call).
    """
    key = id(spark.sparkContext)
    if key in _PYFILES_ADDED:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _PYFILES_ADDED.add(key)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session.

    The driver harness hands us an already-built SparkSession; static configs
    (master, memory) are fixed, but these runtime SQL configs are what our
    operator semantics depend on (UTC timestamps for oracle parity, AQE for
    skew/coalesce at scale).  The codegen class cache size
    (:data:`CODEGEN_CACHE_ENTRIES`) is a static conf too: a session built
    elsewhere keeps its own size, Spark's default of 100 unless that
    session's own configuration set one.
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
    # A generated class is cached by its source text, and by default that
    # text names the class after its whole-stage codegen id.  The ids AQE
    # hands out depend on the order in which its query stages finish, so
    # the same pipeline came back under another id and compiled again:
    # with the cache sized, warm curation_pipeline runs still compiled
    # 20, 26, 0, 2 and 0 classes, most differing from a cold run's class
    # only in that id.  With the id left out of the name: 2, 2, 0, 0, 0
    # (AQE picking another join shape), and a cold run compiles 151
    # classes instead of 167, as identical stages share one class.  The
    # id stays in the generated source as a comment.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    return spark

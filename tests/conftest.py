import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# Protobuf bootstrap for transformWithStateInPandas (tools/pbshim): wire the
# vendored runtime into THIS process and export the shim on PYTHONPATH so the
# Spark-spawned Python workers (which also need protobuf for the state-server
# protocol) pick it up via sitecustomize.  Must happen before the JVM starts.
_PBSHIM = os.path.join(_REPO, "tools", "pbshim")
sys.path.insert(0, _PBSHIM)
from sitecustomize import ensure_protobuf  # noqa: E402

HAVE_PROTOBUF = ensure_protobuf()
if HAVE_PROTOBUF:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [_PBSHIM] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )

from pyspark.sql import SparkSession  # noqa: E402

from rss_feed_etl_spark.session import CODEGEN_CACHE_ENTRIES  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[8]"))
        .appName("rss-feed-etl-spark-tests")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_TEST_PARTS", "8"))
        .config("spark.sql.adaptive.enabled", os.environ.get("SPARK_GRAFT_TEST_AQE", "true"))
        .config("spark.ui.enabled", "false")
        # Round 11: over ~830 tests the session accumulates orphaned
        # persist/localCheckpoint blocks that clearCache alone cannot
        # reclaim (the ContextCleaner only unpersists them after a
        # driver GC surfaces the dead references, and its built-in
        # periodic GC defaults to every 30 min) — late-alphabet test
        # files were measuring 3-5x their run-alone time purely from
        # that debt (test_wave85.py: 27 s alone vs 152 s at position
        # ~700).  A 2-min periodic GC drains the queue continuously.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # the engine's codegen class cache size (static: set at build)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _module_hygiene(request):
    """Clear cached/persisted frames between test MODULES so one module's
    leaked persists cannot tax every later module (same finding as the
    bench's clean-slate discipline; semantics unaffected — evicted frames
    recompute on demand)."""
    yield
    s = SparkSession.getActiveSession()
    if s is not None:
        try:
            s.catalog.clearCache()
            s.sparkContext._jvm.System.gc()
        except Exception:
            pass


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

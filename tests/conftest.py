import contextlib
import datetime as dt
import hashlib
import io
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

from pyspark.sql import Row, SparkSession  # noqa: E402

from rss_feed_etl_spark.session import CODEGEN_CACHE_ENTRIES  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("rss-feed-etl-spark-tests")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Over the ~900-test session, orphaned persist/localCheckpoint
        # blocks pile up that clearCache alone cannot reclaim: the
        # ContextCleaner only unpersists them after a driver GC surfaces
        # the dead references, and its built-in periodic GC defaults to
        # every 30 min.  Test modules late in the alphabet measured 3-5x
        # their run-alone time purely from that debt (the k-core peeling
        # tests: 27 s alone, 152 s at position ~700 of ~830).  A 2-min
        # periodic GC drains the queue continuously.
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


def skip_without_testdata(table):
    """Skip the calling test when the testdata table is not under SF_DIR."""
    if not os.path.exists(f"{SF_DIR}/{table}.parquet"):
        pytest.skip("testdata not present")


def plan_text(df) -> str:
    """The formatted physical plan of ``df``, as ``explain`` prints it."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def ts(s):
    return dt.datetime.fromisoformat(s)


def docs_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def events_frame(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )


def daily_events(spark, daily, typ="t"):
    """One event of type ``typ`` per unit of ``daily[d]`` on day ``d`` from 2024-01-01."""
    rows, eid = [], 0
    base = dt.datetime(2024, 1, 1)
    for d, n in enumerate(daily):
        for _ in range(n):
            rows.append(Row(event_id=eid, ts=base + dt.timedelta(days=d), event_type=typ))
            eid += 1
    return spark.createDataFrame(rows)


def md5_arm(u):
    """The A/B arm (0 or 1) of unit ``u``, as the experiment operators hash it."""
    return (int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 1_000_000_007) % 2

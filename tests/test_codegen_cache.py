"""The codegen class cache holds what the engine compiles.

Spark compiles every generated class with Janino and keeps it in one
per-JVM cache, 100 entries by default.  The four registered queries below
compile more classes than that at sf0.001, so with the default cache the
first query's classes are gone by the time the round comes back to it: a
second round recompiled 130 classes.  The session sizes the cache from
``session.CODEGEN_CACHE_ENTRIES``; a second round then compiles nothing.
"""

from conftest import SF_DIR, skip_without_testdata

from rss_feed_etl_spark import driver_queries
from rss_feed_etl_spark.session import CODEGEN_CACHE_ENTRIES

QUERIES = ["scd2_merge", "int8_ann_topk", "bm25_search", "session_paths_top"]


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark) -> int:
    """Run every query to the noop sink; the classes it compiled."""
    qs = driver_queries.queries()
    c0 = _compiles(spark)
    for name in QUERIES:
        qs[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
    return _compiles(spark) - c0


def test_second_round_compiles_nothing(spark):
    skip_without_testdata("events")
    conf = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert conf == str(CODEGEN_CACHE_ENTRIES)
    # as tune_session sets it: the class name does not carry the codegen
    # stage id, which AQE may hand out in another order on another run
    key = "spark.sql.codegen.useIdInClassName"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        _round(spark)
        assert _round(spark) == 0
    finally:
        spark.conf.set(key, old)

"""Stateful streaming sessionization (applyInPandasWithState) and the
skew-salted join: semantics match their batch/plain-join equivalents."""

from conftest import ts
from pyspark.sql import functions as F


def _drain_and_stop(q, done, timeout=120):
    """Wait until ``done()`` (the sink holds the expected rows), then stop
    the query.

    ``availableNow`` + ``applyInPandasWithState(ProcessingTimeTimeout)``
    never self-terminates on Spark 4.1 (the processing-time timeout keeps
    scheduling state-maintenance batches), so a bare
    ``awaitTermination(120)`` burned its full 120 s AND left the query
    running micro-batches for the rest of the session - taxing every
    later test in the suite.  Polling the sink asserts the same end state
    in seconds and leaves the session quiet."""
    import time as _t

    deadline = _t.time() + timeout
    while _t.time() < deadline:
        if not q.isActive or done():
            break
        _t.sleep(0.2)
    if q.isActive:
        q.stop()
    q.awaitTermination(30)


def test_sessionize_stream_continues_across_batches(spark, tmp_path):
    from rss_feed_etl_spark.streaming.stateful import sessionize_stream

    landing = tmp_path / "landing"
    schema = "event_id long, user_id long, ts timestamp"
    # batch 1: user 1 has two sessions (gap > 30 min); user 2 one event
    b1 = spark.createDataFrame(
        [
            (1, 1, ts("2024-01-01 10:00:00")),
            (2, 1, ts("2024-01-01 10:10:00")),
            (3, 1, ts("2024-01-01 12:00:00")),
            (4, 2, ts("2024-01-01 10:00:00")),
        ],
        schema,
    )
    # batch 2: event 5 continues user 1's second session (within 30 min of
    # event 3); event 6 opens a third session; user 2 continues session 1
    b2 = spark.createDataFrame(
        [
            (5, 1, ts("2024-01-01 12:20:00")),
            (6, 1, ts("2024-01-01 15:00:00")),
            (7, 2, ts("2024-01-01 10:29:00")),
        ],
        schema,
    )
    b1.coalesce(1).write.parquet(str(landing / "b1"))
    b2.coalesce(1).write.parquet(str(landing / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing / "*"))
    )
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(
        q, lambda: spark.sql("SELECT count(*) FROM sessions_out").collect()[0][0] >= 7
    )
    got = {
        r.event_id: r.session_id
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 5: 2, 6: 3, 7: 1}


def test_salted_join_matches_plain_join(spark):
    from rss_feed_etl_spark.operators.joins import salted_join

    # skewed left: one hot key with most rows
    left = spark.range(1000).select(
        F.when(F.col("id") < 900, 7).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lval"),
    )
    right = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("rval")
    )
    plain = left.join(right, on="k").select("k", "lval", "rval")
    salted = salted_join(left, right, on="k", salt=8).select("k", "lval", "rval")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_running_user_totals_folds_across_batches(spark, tmp_path, request):
    import pytest

    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip(
            "transformWithStateInPandas needs a google.protobuf runtime and "
            "none is importable or vendored on this machine (see tools/pbshim)"
        )
    from pyspark.sql import functions as F

    from rss_feed_etl_spark.streaming.stateful import running_user_totals

    # transformWithState requires a multi-column-family state store
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    def _restore():
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    request.addfinalizer(_restore)
    landing = tmp_path / "landing2"
    schema = "event_id long, user_id long, value double"
    b1 = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (3, 2, 5.0)], schema
    )
    b2 = spark.createDataFrame(
        [(4, 1, 1.5), (5, 3, 7.0)], schema
    )
    b1.coalesce(1).write.parquet(str(landing / "b1"))
    b2.coalesce(1).write.parquet(str(landing / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing / "*"))
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    # update mode emits one row per (batch, touched key): b1 touches
    # users {1, 2}, b2 touches {1, 3} — 4 sink rows when both batches land
    _drain_and_stop(
        q, lambda: spark.sql("SELECT count(*) FROM user_totals").collect()[0][0] >= 4
    )
    # update mode emits one row per (batch, touched key): the LAST row per
    # key is the live profile — and it must equal the batch groupBy fold
    rows = spark.sql(
        "SELECT * FROM user_totals"
    ).collect()
    latest = {}
    for r in rows:  # memory sink appends in batch order
        latest[r.user_id] = (r.n_events, r.total_value, r.last_event_id)
    assert latest[1] == (3, 31.5, 4)
    assert latest[2] == (1, 5.0, 3)
    assert latest[3] == (1, 7.0, 5)
    # batch equivalence: fold == one-shot groupBy over the union
    want = {
        r["user_id"]: (r["n"], r["t"], r["m"])
        for r in b1.unionByName(b2)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("t"),
            F.max("event_id").alias("m"),
        )
        .collect()
    }
    assert {k: v for k, v in latest.items()} == want

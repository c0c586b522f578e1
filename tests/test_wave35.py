"""Wave-35: largest-remainder allocation, trending items, drop-rate report."""

import datetime as dt

from rss_feed_etl_spark.operators import dedup, sampling
from rss_feed_etl_spark.operators import eventanalytics as ea


def test_allocation_sums_exactly_and_tracks_shares(spark):
    wts = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "source string, n long"
    )
    out = {r["source"]: r["alloc"] for r in
           sampling.largest_remainder_allocation(wts, total=100).collect()}
    assert sum(out.values()) == 100
    assert sorted(out.values()) == [33, 33, 34]
    # the extra unit goes to the largest remainder; remainders tie (100/3
    # each), so the lexicographically first group wins the tiebreak
    assert out["a"] == 34


def test_allocation_exact_when_divisible(spark):
    wts = spark.createDataFrame([("x", 3), ("y", 1)], "source string, n long")
    out = {r["source"]: r["alloc"] for r in
           sampling.largest_remainder_allocation(wts, total=40).collect()}
    assert out == {"x": 30, "y": 10}


def test_trending_flags_burst_over_trailing_week(spark):
    rows = []
    base = dt.datetime(2024, 3, 1, 12)
    # item 1: steady 2/day for 10 days; item 2: 2/day then 20 on day 9
    for d in range(10):
        for i in range(2):
            rows.append((len(rows), base + dt.timedelta(days=d), "{\"k\": 1}"))
            rows.append((len(rows), base + dt.timedelta(days=d), "{\"k\": 2}"))
    for i in range(18):
        rows.append((len(rows), base + dt.timedelta(days=9), "{\"k\": 2}"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, props string")
    out = ea.trending_items(ev, top=5)
    top = out.collect()[0]
    assert top["item"] == 2 and top["day"] == "2024-03-10"
    assert top["n"] == 20
    assert top["ratio"] == 10.0  # 20 vs trailing mean of 2/day


def test_drop_rate_by_key_counts(spark):
    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s2"), (4, "s2")], "id long, source string"
    )
    drops = spark.createDataFrame([(2,), (3,)], "id long")
    out = {r["source"]: r for r in
           dedup.drop_rate_by_key(docs, drops, key_col="source").collect()}
    assert out["s1"]["n_dropped"] == 1 and out["s1"]["drop_rate"] == 0.5
    assert out["s2"]["n_docs"] == 2 and out["s2"]["n_dropped"] == 1

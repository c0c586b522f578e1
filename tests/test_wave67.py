"""Wave 67: daily autocorrelation and l-diversity violations."""

from __future__ import annotations

import datetime as dt

from conftest import plan_text
from pyspark.sql import Row

from rss_feed_etl_spark.operators import profiling, timeseries


def _mk_daily(spark, daily_counts, start=dt.datetime(2024, 1, 1)):
    rows = []
    eid = 0
    for d, n in enumerate(daily_counts):
        for _ in range(n):
            rows.append(Row(event_id=eid, ts=start + dt.timedelta(days=d)))
            eid += 1
    return spark.createDataFrame(rows)


def test_acf_detects_weekly_cycle(spark):
    # period-7 sawtooth: lag-7 autocorrelation ~1, lag-3 well below
    daily = [10, 2, 2, 2, 2, 2, 2] * 6
    df = _mk_daily(spark, daily)
    out = {r["lag"]: r["acf"] for r in timeseries.daily_autocorrelation(df).collect()}
    # biased estimator: perfect periodicity gives ~ (n-k)/n, i.e. 35/42
    # at lag 7 and 28/42 at lag 14 on a 42-day series
    assert out[7] > 0.8
    assert out[14] > 0.6
    assert out[3] < 0.2


def test_acf_matches_numpy_definition(spark):
    daily = [5, 8, 3, 9, 4, 7, 6, 2, 9, 5, 4, 8]
    df = _mk_daily(spark, daily)
    out = {r["lag"]: r for r in timeseries.daily_autocorrelation(df, max_lag=3).collect()}
    n = len(daily)
    m = sum(daily) / n
    den = sum((x - m) ** 2 for x in daily)
    for k in (1, 2, 3):
        num = sum((daily[t] - m) * (daily[t + k] - m) for t in range(n - k))
        assert abs(out[k]["acf"] - round(num / den, 6)) < 1e-6
        assert out[k]["n_pairs"] == n - k


def test_acf_pairs_by_calendar_not_row(spark):
    # a missing day must NOT let lag-1 pair across the gap
    rows = []
    eid = 0
    for d, n in [(0, 3), (1, 5), (3, 7), (4, 2)]:  # day 2 missing
        for _ in range(n):
            rows.append(
                Row(event_id=eid, ts=dt.datetime(2024, 1, 1) + dt.timedelta(days=d))
            )
            eid += 1
    df = spark.createDataFrame(rows)
    out = {r["lag"]: r for r in timeseries.daily_autocorrelation(df, max_lag=3).collect()}
    assert out[1]["n_pairs"] == 2  # (d0,d1), (d3,d4)
    assert out[3]["n_pairs"] == 2  # (d0,d3), (d1,d4)
    # lag-2 has ONE calendar pair (d1,d3) -> dropped by the >=2 filter;
    # row-adjacency pairing over days [0,1,3,4] would have found two
    assert 2 not in out


def test_l_diversity_flags_homogeneous_groups(spark):
    rows = (
        # group A: 5 rows, all the same sensitive value -> violation
        [Row(q="A", s=1) for _ in range(5)]
        # group B: 4 rows, 3 distinct values -> diverse enough at l=3
        + [Row(q="B", s=v) for v in (1, 2, 3, 1)]
        # group C: 2 rows, 2 values -> violation at l=3
        + [Row(q="C", s=v) for v in (1, 2)]
    )
    df = spark.createDataFrame(rows)
    out = {
        r["q"]: r
        for r in profiling.l_diversity_violations(df, ["q"], "s", l=3).collect()
    }
    assert set(out) == {"A", "C"}
    assert out["A"]["group_size"] == 5 and out["A"]["n_sensitive"] == 1
    assert out["C"]["group_size"] == 2 and out["C"]["n_sensitive"] == 2


def test_l_diversity_two_level_aggregation_plan(spark):
    df = spark.createDataFrame([Row(q="A", s=i % 3) for i in range(30)])
    s = plan_text(profiling.l_diversity_violations(df, ["q"], "s", l=3))
    # no expand/distinct-aggregate over raw facts: the distinct count is a
    # plain count over the pre-collapsed (quasi, sensitive) table
    assert "Expand" not in s
    assert s.count("Exchange (") <= 2

"""Wave 47: quantile normalization, seasonal-naive MASE, Theil-Sen."""

from __future__ import annotations

import datetime as dt

from rss_feed_etl_spark.operators import textstats, timeseries as ts


def test_quantile_normalize_aligns_distributions(spark):
    # source A values 0..99, source B values 1000..1099: after
    # normalization both map onto the same global boundary set
    rows = [(i, "A", i) for i in range(100)] + [
        (100 + i, "B", 1000 + i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars int")
    out = textstats.quantile_normalize(df, n_bins=10).toPandas()
    a = sorted(out[out.source == "A"].normalized)
    b = sorted(out[out.source == "B"].normalized)
    assert a == b  # identical within-group rank profile -> identical output
    # extremes map to global extremes
    assert min(a) == 0.0
    assert max(b) == 1099.0


def test_quantile_normalize_monotone_within_group(spark):
    rows = [(i, "s", (i * 37) % 101) for i in range(101)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars int")
    out = textstats.quantile_normalize(df, n_bins=5).toPandas()
    o = out.sort_values("n_chars")
    assert list(o.normalized) == sorted(o.normalized)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double"
    )


def test_mase_below_one_for_weekly_pattern(spark):
    d0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(28):
        # strong weekly pattern: value = 100 on weekends, 10 otherwise
        v = 100.0 if day % 7 in (5, 6) else 10.0
        eid += 1
        rows.append((eid, d0 + dt.timedelta(days=day), "a", v))
    r = ts.seasonal_naive_mase(_events(spark, rows), season_days=7).collect()[0]
    assert r["mae_seasonal"] == 0.0  # perfectly periodic
    assert r["mae_naive"] > 0
    assert r["mase"] == 0.0


def test_theil_sen_resists_outlier(spark):
    d0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(15):
        n = 10 + 2 * day  # exact slope 2 events/day
        if day == 7:
            n = 500  # outage/spike day
        for _ in range(n):
            eid += 1
            rows.append((eid, d0 + dt.timedelta(days=day), "a", 1.0))
    r = ts.theil_sen_trend(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 15
    assert abs(r["slope_per_day"] - 2.0) < 0.5  # OLS would be dragged far off

"""Wave 71: Holt forecast and sample-ratio-mismatch check."""

from __future__ import annotations

from conftest import daily_events
from pyspark.sql import Row

from rss_feed_etl_spark.operators import profiling, timeseries


def _holt_py(xs, a=0.3, b_=0.1):
    l, bb, ae, k = float(xs[0]), float(xs[1] - xs[0]), 0.0, 0.0
    for x in xs[2:]:
        fc = l + bb
        l2 = a * x + (1.0 - a) * fc
        b2 = b_ * (l2 - l) + (1.0 - b_) * bb
        ae += abs(x - fc)
        k += 1
        l, bb = l2, b2
    return l, bb, (ae / k if k else None)


def test_holt_matches_textbook_recurrence(spark):
    daily = [10, 12, 15, 11, 14, 18, 16, 20, 19, 23]
    df = daily_events(spark, daily)
    row = timeseries.holt_forecast(df).collect()[0]
    l, b, mae = _holt_py(daily)
    assert abs(row["level"] - round(l, 6)) < 1e-6
    assert abs(row["trend"] - round(b, 6)) < 1e-6
    assert abs(row["forecast_h"] - round(l + 7.0 * b, 6)) < 1e-6
    assert abs(row["mae"] - round(mae, 6)) < 1e-6
    assert row["n_days"] == len(daily)


def test_holt_captures_linear_growth(spark):
    daily = [10 + 3 * d for d in range(20)]  # slope 3/day, no noise
    row = timeseries.holt_forecast(daily_events(spark, daily)).collect()[0]
    assert 2.0 < row["trend"] < 4.0
    # forecast 7 days past the last level continues the climb
    assert row["forecast_h"] > row["level"]
    assert row["mae"] < 1.0  # a pure trend is almost perfectly one-step predictable


def test_holt_short_series_dropped_and_mae_null(spark):
    one = daily_events(spark, [5])
    assert timeseries.holt_forecast(one).count() == 0
    two = daily_events(spark, [5, 9])
    row = timeseries.holt_forecast(two).collect()[0]
    assert row["level"] == 5.0 and row["trend"] == 4.0
    assert row["mae"] is None


def test_srm_balanced_split_passes_biased_split_flags(spark):
    rows = [Row(event_id=i, user_id=i) for i in range(4000)]
    out = profiling.srm_check(spark.createDataFrame(rows)).collect()[0]
    assert out["n_units"] == 4000
    assert out["arm0"] + out["arm1"] == 4000
    # a healthy hash split is within chi-square tolerance
    assert out["srm_flag"] == 0
    # simulate a broken assignment pipeline: 10% of arm-1 users dropped.
    # re-deriving arms locally via the same portable hash keeps the test
    # exact without guessing which users land where
    import hashlib

    def arm(u):
        return (int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 1_000_000_007) % 2

    kept = [u for u in range(4000) if arm(u) == 0 or u % 10 != 0]
    out2 = profiling.srm_check(
        spark.createDataFrame([Row(event_id=i, user_id=u) for i, u in enumerate(kept)])
    ).collect()[0]
    assert out2["srm_flag"] == 1
    assert out2["chi2"] > out["chi2"]

"""Wave 90: Holt forecast interval."""

from __future__ import annotations

from conftest import daily_events

from rss_feed_etl_spark.operators import timeseries


def test_interval_matches_python_residual_quantile(spark):
    daily = [10, 12, 15, 11, 14, 18, 16, 20, 19, 23, 21, 25]
    row = timeseries.holt_forecast_interval(daily_events(spark, daily)).collect()[0]
    # replicate fold
    a, b_ = 0.3, 0.1
    l, bb = float(daily[0]), float(daily[1] - daily[0])
    rs = []
    for x in daily[2:]:
        fc = l + bb
        l2 = a * x + 0.7 * fc
        b2 = b_ * (l2 - l) + 0.9 * bb
        rs.append(abs(x - fc))
        l, bb = l2, b2
    fc7 = l + 7.0 * bb
    # quantile_cont interpolation
    import math
    s = sorted(rs)
    pos = 0.9 * (len(s) - 1)
    lo_i, frac = int(math.floor(pos)), pos - math.floor(pos)
    q90 = s[lo_i] + (s[min(lo_i + 1, len(s) - 1)] - s[lo_i]) * frac
    assert abs(row["forecast_h"] - round(fc7, 6)) < 1e-6
    assert abs(row["resid_q"] - round(q90, 6)) < 1e-6
    assert abs(row["lo"] - round(fc7 - q90, 6)) < 1e-6
    assert abs(row["hi"] - round(fc7 + q90, 6)) < 1e-6


def test_interval_width_tracks_noise(spark):
    smooth = [10 + d for d in range(15)]
    noisy = [10 + d + (7 if d % 2 else -7) for d in range(15)]
    out = {}
    for name, series in (("smooth", smooth), ("noisy", noisy)):
        r = timeseries.holt_forecast_interval(
            daily_events(spark, [max(1, v) for v in series], typ=name)
        ).collect()[0]
        out[name] = r["hi"] - r["lo"]
    assert out["noisy"] > out["smooth"]


def test_interval_requires_three_days(spark):
    assert timeseries.holt_forecast_interval(daily_events(spark, [4, 7])).count() == 0

"""Wave 42: EMA smoothing and WOE binning."""

from __future__ import annotations

import datetime as dt
import math

from rss_feed_etl_spark.operators import eventanalytics as ea, timeseries as ts


def _daily(spark, rows):
    return spark.createDataFrame(rows, "event_type string, day date, total double")


def test_ema_matches_recursive_definition(spark):
    d0 = dt.date(2024, 1, 1)
    vals = [10.0, 20.0, 5.0, 40.0, 15.0, 30.0]
    rows = [("a", d0 + dt.timedelta(days=i), v) for i, v in enumerate(vals)]
    out = {
        r["day"]: r["ema"]
        for r in ts.ema_smoothing(_daily(spark, rows), alpha=0.3).collect()
    }
    s = vals[0]
    expect = {d0: s}
    for i, v in enumerate(vals[1:], start=1):
        s = 0.3 * v + 0.7 * s
        expect[d0 + dt.timedelta(days=i)] = s
    for day, e in expect.items():
        assert math.isclose(out[day], round(e, 4), abs_tol=1e-4), day


def test_ema_per_key_independent(spark):
    d0 = dt.date(2024, 1, 1)
    rows = [("a", d0, 10.0), ("a", d0 + dt.timedelta(days=1), 20.0),
            ("b", d0, 100.0), ("b", d0 + dt.timedelta(days=1), 0.0)]
    out = {(r["event_type"], r["day"]): r["ema"]
           for r in ts.ema_smoothing(_daily(spark, rows), alpha=0.5).collect()}
    assert math.isclose(out[("a", d0 + dt.timedelta(days=1))], 15.0)
    assert math.isclose(out[("b", d0 + dt.timedelta(days=1))], 50.0)


def test_woe_binning_hand_computed(spark):
    # bin 1: 3 pos, 1 neg; bin 2: 1 pos, 3 neg; totals P=4, N=4
    rows = []
    eid = 0
    for v, et in [(10.0, "purchase")] * 3 + [(10.0, "view")] + \
                 [(60.0, "purchase")] + [(60.0, "view")] * 3:
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1), 1, et, float(v), "{}"))
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    out = {r["bucket"]: r for r in ea.woe_binning(
        ev, lo=0.0, hi=100.0, n_bins=2
    ).collect()}
    woe1 = math.log((3.5 / 4) / (1.5 / 4))
    assert math.isclose(out[1]["woe"], round(woe1, 6), abs_tol=1e-6)
    assert out[1]["n_pos"] == 3 and out[1]["n_neg"] == 1
    woe2 = math.log((1.5 / 4) / (3.5 / 4))
    assert math.isclose(out[2]["woe"], round(woe2, 6), abs_tol=1e-6)
    # symmetric setup: IV contributions equal
    assert math.isclose(out[1]["iv_contrib"], out[2]["iv_contrib"], abs_tol=1e-6)
    assert out[1]["iv_contrib"] > 0


def test_woe_underflow_overflow_buckets(spark):
    rows = [(1, dt.datetime(2024, 1, 1), 1, "view", -5.0, "{}"),
            (2, dt.datetime(2024, 1, 1), 1, "purchase", 600.0, "{}")]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    out = {r["bucket"]: r for r in ea.woe_binning(
        ev, lo=0.0, hi=500.0, n_bins=10
    ).collect()}
    assert out[0]["n_neg"] == 1  # underflow
    assert out[11]["n_pos"] == 1  # overflow

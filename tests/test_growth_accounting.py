"""Wave-27 growth-accounting operators: stickiness, churn,
new-vs-returning, basket lift."""

from datetime import datetime

import pytest
from conftest import events_frame

from rss_feed_etl_spark.operators import eventanalytics as ea


def _d(day, hour=0):
    return datetime(2024, 1, day, hour)


def test_daily_stickiness_trailing_window(spark):
    # u1 active days 1 and 3; u2 active day 3 only.
    rows = [(1, _d(1), 1, "v"), (2, _d(3), 1, "v"), (3, _d(3), 2, "v")]
    out = {r["day"]: r for r in ea.daily_stickiness(events_frame(spark, rows), window_days=7).collect()}
    assert out["2024-01-01"]["dau"] == 1 and out["2024-01-01"]["window_active"] == 1
    # day 3's trailing-7 window covers both users
    assert out["2024-01-03"]["dau"] == 2 and out["2024-01-03"]["window_active"] == 2
    assert out["2024-01-03"]["stickiness"] == 1.0
    # only days with activity appear
    assert "2024-01-02" not in out


def test_daily_stickiness_window_expires(spark):
    rows = [(1, _d(1), 1, "v"), (2, _d(10), 2, "v")]
    out = {r["day"]: r for r in ea.daily_stickiness(events_frame(spark, rows), window_days=7).collect()}
    # day 10 is past u1's 7-day contribution (days 1..7)
    assert out["2024-01-10"]["window_active"] == 1


def test_churned_users_threshold(spark):
    rows = [(1, _d(1), 1, "v"), (2, _d(10), 2, "v")]
    out = ea.churned_users(events_frame(spark, rows), inactive_days=5).collect()
    assert len(out) == 1
    assert out[0]["user_id"] == 1 and out[0]["days_inactive"] == 9


def test_new_vs_returning_accounting(spark):
    rows = [
        (1, _d(1), 1, "v"), (2, _d(2), 1, "v"),  # u1: new day1, returns day2
        (3, _d(2), 2, "v"),                       # u2: new day2
    ]
    out = {r["day"]: r for r in ea.new_vs_returning(events_frame(spark, rows)).collect()}
    assert out["2024-01-01"]["new_users"] == 1
    assert out["2024-01-01"]["returning_users"] == 0
    assert out["2024-01-02"]["new_users"] == 1
    assert out["2024-01-02"]["returning_users"] == 1


def test_event_type_lift_perfect_cooccurrence(spark):
    # a and b always co-occur (2 baskets of 2); c alone in 2 baskets.
    rows = [
        (1, _d(1), 1, "a"), (2, _d(1), 1, "b"),
        (3, _d(1), 2, "a"), (4, _d(1), 2, "b"),
        (5, _d(1), 3, "c"), (6, _d(1), 4, "c"),
    ]
    out = {(r["a"], r["b"]): r for r in ea.event_type_lift(events_frame(spark, rows)).collect()}
    # lift(a,b) = n_ab * N / (n_a * n_b) = 2*4/(2*2) = 2
    assert out[("a", "b")]["n_ab"] == 2
    assert out[("a", "b")]["lift"] == pytest.approx(2.0, abs=1e-6)
    assert ("a", "c") not in out  # never co-occur -> no row

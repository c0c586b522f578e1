"""Wave 66: CUSUM changepoints and leave-one-source-out influence."""

from __future__ import annotations

import datetime as dt

from conftest import plan_text
from pyspark.sql import Row
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import profiling, timeseries


def _mk_events(spark, counts_by_type):
    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for typ, daily in counts_by_type.items():
        for d, n in enumerate(daily):
            for _ in range(n):
                rows.append(
                    Row(event_id=eid, ts=base + dt.timedelta(days=d), event_type=typ)
                )
                eid += 1
    return spark.createDataFrame(rows)


def test_cusum_flags_level_shift_not_noise(spark):
    # 'shifted': 20 days at ~10 then 20 days at 16 — a sustained +shift;
    # 'steady': alternates 9/11 around 10 — noise, no drift
    shifted = [10] * 20 + [16] * 20
    steady = [9, 11] * 20
    df = _mk_events(spark, {"shifted": shifted, "steady": steady})
    out = {r["event_type"]: r for r in timeseries.cusum_changepoints(df).collect()}
    assert out["shifted"]["n_alarm_days"] > 0
    assert out["shifted"]["first_alarm_day"] is not None
    # both sides of a level shift deviate from the GLOBAL mean: the low
    # half drives the negative side, the high half the positive side
    assert out["shifted"]["max_cusum_pos"] > 4.0
    assert out["shifted"]["max_cusum_neg"] > 4.0
    assert out["steady"]["n_alarm_days"] == 0
    assert out["steady"]["first_alarm_day"] is None
    assert out["shifted"]["max_cusum_pos"] > out["steady"]["max_cusum_pos"]


def test_cusum_matches_sequential_recurrence(spark):
    # telescoped window formula == the textbook sequential recurrence
    daily = [5, 5, 5, 9, 9, 9, 9, 2, 2, 5]
    df = _mk_events(spark, {"t": daily})
    row = timeseries.cusum_changepoints(df, drift_k=0.5, alarm_h=2.0).collect()[0]
    n = len(daily)
    mean = sum(daily) / n
    var = sum(x * x for x in daily) / n - mean * mean
    std = var**0.5
    sp = sn = mp = mn = 0.0
    alarms = 0
    for x in daily:
        z = (x - mean) / std
        sp = max(0.0, sp + z - 0.5)
        sn = max(0.0, sn - z - 0.5)
        mp, mn = max(mp, sp), max(mn, sn)
        if sp > 2.0 or sn > 2.0:
            alarms += 1
    assert abs(row["max_cusum_pos"] - round(mp, 6)) < 1e-6
    assert abs(row["max_cusum_neg"] - round(mn, 6)) < 1e-6
    assert row["n_alarm_days"] == alarms


def test_cusum_constant_series_dropped(spark):
    df = _mk_events(spark, {"flat": [4] * 15})
    assert timeseries.cusum_changepoints(df).count() == 0


def test_loso_influence_known_values(spark):
    # source a: weights 10, 10; source b: weight 40 -> overall mean 20
    rows = [
        Row(doc_id=1, source="a", w=10),
        Row(doc_id=2, source="a", w=10),
        Row(doc_id=3, source="b", w=40),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["source"]: r
        for r in profiling.loso_source_influence(df, F.col("w")).collect()
    }
    assert out["a"]["mean_overall"] == 20.0
    assert out["a"]["mean_without"] == 40.0 and out["a"]["influence"] == 20.0
    assert out["b"]["mean_without"] == 10.0 and out["b"]["influence"] == -10.0


def test_loso_single_source_is_null(spark):
    df = spark.createDataFrame([Row(doc_id=1, source="only", w=5)])
    row = profiling.loso_source_influence(df, F.col("w")).collect()[0]
    assert row["mean_without"] is None and row["influence"] is None


def test_loso_single_scan_plan(spark):
    rows = [Row(doc_id=i, source=str(i % 3), w=i) for i in range(60)]
    df = spark.createDataFrame(rows)
    s = plan_text(profiling.loso_source_influence(df, F.col("w")))
    # global total is a window over the SOURCE-GRAIN aggregate: the fact
    # relation is scanned exactly once (formatted explain names each node
    # twice — tree + detail)
    assert s.count("Scan ExistingRDD (") == 1
    assert "Join" not in s
    assert "Window (" in s

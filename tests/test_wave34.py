"""Wave-34: bootstrap CI, DP noisy counts, DOW seasonal residuals."""

import datetime as dt

from rss_feed_etl_spark.operators import sketches, timeseries


def test_bootstrap_ci_brackets_the_mean(spark):
    rows = [(i, "a", 10.0 + (i % 5)) for i in range(300)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    r = sketches.bootstrap_ci(
        df, value_col="value", group_col="event_type", id_col="event_id"
    ).collect()[0]
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
    assert r["ci_hi"] - r["ci_lo"] < 1.0  # tight for 300 iid rows
    assert r["n"] == 300


def test_bootstrap_ci_partitioning_invariant(spark):
    rows = [(i, "g", float(i % 13)) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    a = sketches.bootstrap_ci(df, "value", "event_type", "event_id").collect()[0]
    b = sketches.bootstrap_ci(
        df.repartition(11), "value", "event_type", "event_id"
    ).collect()[0]
    assert (a["ci_lo"], a["ci_hi"]) == (b["ci_lo"], b["ci_hi"])


def test_dp_counts_bounded_noise(spark):
    df = spark.createDataFrame(
        [(i, f"t{i % 4}") for i in range(400)], "id long, event_type string"
    )
    out = sketches.dp_noisy_counts(df, "event_type", epsilon=1.0).collect()
    assert len(out) == 4
    for r in out:
        assert r["exact_n"] == 100
        assert r["noisy_n"] != r["exact_n"]  # noise applied
        # Laplace(1) noise beyond ±15 has probability ~3e-7 per group
        assert abs(r["noisy_n"] - r["exact_n"]) < 15.0


def test_dow_residuals_flag_break_from_weekly_rhythm(spark):
    # 4 weeks of a strict weekly profile, then one wild Wednesday
    base = dt.date(2024, 1, 1)  # a Monday
    profile = {0: 50.0, 1: 100.0, 2: 110.0, 3: 120.0, 4: 115.0, 5: 105.0, 6: 55.0}
    rows = []
    for d in range(28):
        day = base + dt.timedelta(days=d)
        rows.append((day, profile[day.weekday() if False else (day.toordinal() % 7)]))
    # overwrite one day with a spike
    rows[16] = (rows[16][0], rows[16][1] + 500.0)
    df = spark.createDataFrame(rows, "day date, total double")
    out = {r["day"]: r for r in timeseries.dow_seasonal_residuals(df).collect()}
    flagged = [d for d, r in out.items() if r["is_anomaly"] == 1]
    assert rows[16][0] in flagged
    assert len(flagged) <= 4  # the spike inflates its own weekday mean a bit

"""Wave 52: cohort LTV and vocabulary drift."""

from __future__ import annotations

import datetime as dt
import math

from conftest import docs_frame

from rss_feed_etl_spark.operators import eventanalytics as ea, textstats


def test_cohort_ltv_cumulative_per_member(spark):
    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    rows = [
        # cohort Jan-1: users 1,2 (user 2 never purchases)
        (1, t(1), 1, "view", 0.0),
        (2, t(1), 2, "view", 0.0),
        (3, t(1, 5), 1, "purchase", 10.0),
        (4, t(3), 1, "purchase", 30.0),
        # cohort Jan-2: user 3
        (5, t(2), 3, "purchase", 8.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    out = {(r["cohort_day"], r["offset_days"]): r for r in ea.cohort_ltv(ev).collect()}
    r0 = out[("2024-01-01", 0)]
    assert r0["cohort_size"] == 2
    assert math.isclose(r0["cum_revenue_per_user"], 5.0)  # 10 / 2 members
    r2 = out[("2024-01-01", 2)]
    assert math.isclose(r2["cum_revenue_per_user"], 20.0)  # (10+30)/2
    r3 = out[("2024-01-02", 0)]
    assert r3["cohort_size"] == 1 and math.isclose(r3["cum_revenue_per_user"], 8.0)


def test_cohort_ltv_monotone_nondecreasing(spark):
    import random

    rng = random.Random(6)
    rows = []
    for eid in range(600):
        rows.append(
            (eid, dt.datetime(2024, 1, 1 + rng.randrange(20)), rng.randrange(30),
             rng.choice(["view", "purchase"]), round(rng.uniform(1, 20), 2))
        )
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    out = ea.cohort_ltv(ev).toPandas()
    for _, grp in out.groupby("cohort_day"):
        vals = list(grp.sort_values("offset_days").cum_revenue_per_user)
        assert all(a <= b + 1e-9 for a, b in zip(vals, vals[1:]))


def test_vocab_drift_flags_mover(spark):
    old = docs_frame(spark, [(i, "stable words here") for i in range(40)])
    new = docs_frame(
        spark,
        [(100 + i, "stable words here newterm") for i in range(40)],
    )
    out = textstats.vocab_drift_terms(old, new, min_df=10, top=5).collect()
    terms = {r["term"]: r for r in out}
    assert "newterm" in terms
    assert terms["newterm"]["df_old"] == 0 and terms["newterm"]["df_new"] == 40
    assert terms["newterm"]["log2_ratio"] > 5
    # stable terms have ~zero ratio and rank below the mover
    assert out[0]["term"] == "newterm"


def test_vocab_drift_symmetric_sign(spark):
    old = docs_frame(spark, [(i, "gone common") for i in range(30)])
    new = docs_frame(spark, [(50 + i, "common") for i in range(30)])
    out = {r["term"]: r["log2_ratio"] for r in textstats.vocab_drift_terms(
        old, new, min_df=10, top=5
    ).collect()}
    assert out["gone"] < -5  # disappeared term: strongly negative
    assert abs(out["common"]) < 0.1

"""Wave 89: Qini uplift curve."""

from __future__ import annotations

import datetime as dt

from conftest import md5_arm
from pyspark.sql import Row

from rss_feed_etl_spark.operators import eventanalytics as ea


def test_qini_front_loads_uplift_for_good_score(spark):
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # score (user value) correlates with responsiveness: among HIGH-value
    # users, treated convert much more than control; among low-value
    # users treatment does nothing.
    for u in range(1200):
        hi = u % 3 == 0
        val = 500.0 if hi else 10.0
        rows.append(Row(event_id=eid, user_id=u, event_type="view",
                        ts=base, value=val)); eid += 1
        responds = hi and md5_arm(u) == 1 and u % 2 == 0
        ctrl_base = u % 10 == 0  # background conversion in both arms
        if responds or ctrl_base:
            rows.append(Row(event_id=eid, user_id=u, event_type="purchase",
                            ts=base, value=0.0)); eid += 1
    out = sorted(
        ea.qini_curve(spark.createDataFrame(rows)).collect(),
        key=lambda r: -r["bucket"],
    )
    # qini is cumulative: the final row holds the total uplift
    total = out[-1]["qini"]
    # uplift exists and most of it is already present in the top buckets
    assert total > 0
    assert out[0]["qini"] > 0.4 * total
    # counts are cumulative and monotone
    nt = [r["n_treat"] for r in out]
    assert nt == sorted(nt)
    assert out[-1]["n_treat"] + out[-1]["n_ctrl"] == 1200


def test_qini_no_effect_hovers_near_zero(spark):
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(1000):
        rows.append(Row(event_id=eid, user_id=u, event_type="view",
                        ts=base, value=float(u % 50))); eid += 1
        if u % 5 == 0:  # same conversion propensity in both arms
            rows.append(Row(event_id=eid, user_id=u, event_type="purchase",
                            ts=base, value=0.0)); eid += 1
    out = ea.qini_curve(spark.createDataFrame(rows)).collect()
    total_users = 1000
    for r in out:
        # |qini| stays small relative to the conversion volume
        assert abs(r["qini"]) < 0.05 * total_users

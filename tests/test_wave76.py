"""Wave 76: exposure Gini and discount elasticity."""

from __future__ import annotations

from pyspark.sql import Row

from rss_feed_etl_spark.operators import decision_support as ds
from rss_feed_etl_spark.operators import profiling


def test_gini_zero_for_uniform_one_for_concentrated(spark):
    rows = []
    eid = 0
    # 'fair': 10 items x 5 each -> gini 0
    for i in range(10):
        for _ in range(5):
            rows.append(Row(event_id=eid, event_type="fair", props='{"k": %d}' % i))
            eid += 1
    # 'skew': item 0 gets 91, items 1..9 get 1 each
    for _ in range(91):
        rows.append(Row(event_id=eid, event_type="skew", props='{"k": 0}')); eid += 1
    for i in range(1, 10):
        rows.append(Row(event_id=eid, event_type="skew", props='{"k": %d}' % i)); eid += 1
    out = {r["event_type"]: r for r in
           profiling.exposure_gini(spark.createDataFrame(rows)).collect()}
    assert out["fair"]["gini"] == 0.0
    assert out["fair"]["n_items"] == 10 and out["fair"]["n_events"] == 50
    # discrete gini for (1x9, 91): 2*(45+10*91)/(10*100) - 11/10 = 0.81
    assert abs(out["skew"]["gini"] - 0.81) < 1e-6


def test_gini_matches_brute_force(spark):
    counts = [3, 7, 1, 12, 5]
    rows, eid = [], 0
    for i, c in enumerate(counts):
        for _ in range(c):
            rows.append(Row(event_id=eid, event_type="t", props='{"k": %d}' % i))
            eid += 1
    out = profiling.exposure_gini(spark.createDataFrame(rows)).collect()[0]
    cs = sorted(counts)
    n, s = len(cs), sum(cs)
    gini = 2.0 * sum((i + 1) * c for i, c in enumerate(cs)) / (n * s) - (n + 1) / n
    assert abs(out["gini"] - round(gini, 6)) < 1e-6


def test_elasticity_recovers_planted_slope(spark):
    # quantity = 40 - 2*discount_pct exactly -> slope -2, r2 = 1
    rows = []
    i = 0
    for pct in range(0, 11):
        for _ in range(10):
            rows.append(
                Row(l_orderkey=i, l_quantity=float(40 - 2 * pct),
                    l_discount=pct / 100.0)
            )
            i += 1
    out = ds.discount_elasticity(spark.createDataFrame(rows)).collect()[0]
    assert abs(out["slope_per_pct"] - (-2.0)) < 1e-6
    assert abs(out["intercept"] - 40.0) < 1e-6
    assert abs(out["r2"] - 1.0) < 1e-6


def test_elasticity_no_relationship_r2_zero(spark):
    rows = []
    for i in range(100):
        rows.append(
            Row(l_orderkey=i, l_quantity=float(10 + (i * 17) % 7),
                l_discount=((i * 31) % 11) / 100.0)
        )
    out = ds.discount_elasticity(spark.createDataFrame(rows)).collect()[0]
    assert abs(out["r2"]) < 0.1

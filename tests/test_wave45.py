"""Wave 45: CDC→SCD2, time-weighted average, triangle counting."""

from __future__ import annotations

import datetime as dt
import math
from itertools import combinations

from rss_feed_etl_spark.operators import graph, merges, timeseries as ts


def _log(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, op string, value double"
    )


def test_cdc_to_scd2_versions_and_delete_close(spark):
    t = lambda s: dt.datetime.fromisoformat(s)
    rows = [
        (1, t("2024-01-01 10:00"), 1, "I", 10.0),
        (1, t("2024-01-02 10:00"), 2, "U", 20.0),
        (1, t("2024-01-03 10:00"), 3, "D", 0.0),
        (2, t("2024-01-01 09:00"), 4, "I", 5.0),
    ]
    out = merges.cdc_to_scd2(_log(spark, rows), key="user_id").collect()
    u1 = sorted(
        [r for r in out if r["user_id"] == 1], key=lambda r: r["effective_start"]
    )
    # two versions; the delete closes the second and emits no row
    assert len(u1) == 2
    assert u1[0]["value"] == 10.0 and u1[0]["effective_end"] == t("2024-01-02 10:00")
    assert u1[0]["current_flag"] == 0
    assert u1[1]["value"] == 20.0 and u1[1]["effective_end"] == t("2024-01-03 10:00")
    assert u1[1]["current_flag"] == 0
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["current_flag"] == 1 and u2[0]["effective_end"] is None


def test_cdc_to_scd2_intervals_partition_time(spark):
    # consecutive versions tile the timeline: each end == next start
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (7, t0 + dt.timedelta(hours=h), h, "U" if h else "I", float(h))
        for h in range(6)
    ]
    out = sorted(
        merges.cdc_to_scd2(_log(spark, rows), key="user_id").collect(),
        key=lambda r: r["effective_start"],
    )
    for a, b in zip(out, out[1:]):
        assert a["effective_end"] == b["effective_start"]
    assert out[-1]["effective_end"] is None


def test_twap_weights_by_holding_time(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # value 10 held 1h, value 100 held 3h, last sample carries no weight
        (1, t0, "a", 10.0, "{}"),
        (2, t0 + dt.timedelta(hours=1), "a", 100.0, "{}"),
        (3, t0 + dt.timedelta(hours=4), "a", 7.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double, props string"
    )
    r = ts.time_weighted_average(ev).collect()[0]
    want = (10.0 * 3600 + 100.0 * 3 * 3600) / (4 * 3600)
    assert math.isclose(r["twap"], round(want, 6))
    assert r["n_intervals"] == 2
    assert math.isclose(r["plain_mean"], round((10 + 100) / 2, 6))


def test_triangle_count_matches_bruteforce(spark):
    import random

    rng = random.Random(3)
    nodes = list(range(12))
    edges = sorted(
        {tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)}
    )
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    r = graph.triangle_count(df).collect()[0]
    es = set(edges)
    want = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if (x, y) in es and (x, z) in es and (y, z) in es
    )
    assert r["n_triangles"] == want
    assert r["n_wedges"] >= want  # every triangle closes one wedge


def test_triangle_count_complete_graph(spark):
    n = 7
    df = spark.createDataFrame(
        [(a, b) for a in range(n) for b in range(a + 1, n)], "a bigint, b bigint"
    )
    r = graph.triangle_count(df).collect()[0]
    assert r["n_triangles"] == n * (n - 1) * (n - 2) // 6

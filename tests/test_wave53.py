"""Wave 53: star-join advisor."""

from __future__ import annotations

import math

from rss_feed_etl_spark.operators import profiling


def test_advisor_reports_sizes_and_match_rates(spark):
    fact = spark.createDataFrame(
        [(i % 10, i % 3, 1.0) for i in range(1000)], "fk1 bigint, fk2 bigint, v double"
    )
    dim_full = spark.createDataFrame(
        [(i, f"name-{i}") for i in range(10)], "k bigint, nm string"
    )
    # dim missing key 0 -> 10% of fact rows orphaned
    dim_partial = spark.createDataFrame(
        [(i, "x" * 100) for i in range(1, 3)], "k bigint, payload string"
    )
    out = {r["dim"]: r for r in profiling.star_join_advisor(
        fact,
        {"full": (dim_full, "fk1", "k"), "partial": (dim_partial, "fk2", "k")},
        broadcast_threshold_mb=0.00001,
    ).collect()}
    f = out["full"]
    assert f["n_rows"] == 10
    assert math.isclose(f["fk_match_rate"], 1.0)
    # 8 bytes key + len("name-N") = 6
    assert math.isclose(f["est_row_bytes"], 14.0)
    p = out["partial"]
    assert p["n_rows"] == 2
    # keys 1,2 of fk2 (values 0,1,2): rows with fk2 in {1,2} ≈ 2/3
    assert abs(p["fk_match_rate"] - 2 / 3) < 0.01
    assert math.isclose(p["est_row_bytes"], 108.0)
    # absurdly low threshold -> nothing broadcastable
    assert f["broadcastable"] == 0 and p["broadcastable"] == 0


def test_advisor_broadcast_flag_threshold(spark):
    fact = spark.createDataFrame([(1,)], "fk bigint")
    dim = spark.createDataFrame([(1, "ab")], "k bigint, s string")
    out = profiling.star_join_advisor(
        fact, {"d": (dim, "fk", "k")}, broadcast_threshold_mb=10.0
    ).collect()[0]
    assert out["broadcastable"] == 1
    assert out["est_total_mb"] < 0.001

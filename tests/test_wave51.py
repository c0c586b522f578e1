"""Wave 51: Benford digit test and sorted-neighborhood blocking."""

from __future__ import annotations

import math
import random

from rss_feed_etl_spark.operators import fuzzy, profiling


def test_benford_conforming_data_low_chi2(spark):
    rng = random.Random(8)
    # log-uniform values follow Benford by construction
    rows = [(math.exp(rng.uniform(0, math.log(10) * 6)),) for _ in range(20000)]
    df = spark.createDataFrame(rows, "o_totalprice double")
    out = profiling.benford_digit_test(df).collect()
    assert {r["digit"] for r in out} == set(range(1, 10))
    chi2 = sum(r["chi2_contrib"] for r in out)
    assert chi2 < 30  # df=8; conforming data stays small
    p1 = next(r for r in out if r["digit"] == 1)
    assert abs(p1["p_observed"] - math.log10(2)) < 0.02


def test_benford_uniform_data_flagged(spark):
    # uniform [1000, 2000): every first digit is 1 -> massive chi2
    rows = [(1000.0 + i / 10.0,) for i in range(10000)]
    df = spark.createDataFrame(rows, "o_totalprice double")
    out = profiling.benford_digit_test(df).collect()
    assert len(out) == 1 and out[0]["digit"] == 1
    assert out[0]["chi2_contrib"] > 1000


def test_benford_skips_zero_and_handles_decimals(spark):
    rows = [(0.0,), (0.042,), (-73.5,)]
    df = spark.createDataFrame(rows, "o_totalprice double")
    out = {r["digit"]: r["n"] for r in profiling.benford_digit_test(df).collect()}
    assert out == {4: 1, 7: 1}  # 0 dropped; 0.042 -> 4; |-73.5| -> 7


def test_sorted_neighborhood_finds_typo_neighbors(spark):
    rows = [
        (1, "smith john"),
        (2, "smith jhon"),   # typo
        (3, "smith joan"),
        (4, "zeta other"),
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    pairs = fuzzy.sorted_neighborhood_pairs(df, window=2).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # the three smith* names are mutual neighbors inside the 'sm' block;
    # zeta is in another block and pairs with nobody
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert not any(4 in p for p in got)
    d = {(r["id_a"], r["id_b"]): r["edit_distance"] for r in pairs}
    assert d[(1, 2)] == 2  # jhon vs john transposition = 2 edits


def test_sorted_neighborhood_window_bounds_pairs(spark):
    rows = [(i, f"aa{i:04d}") for i in range(50)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    w = 3
    pairs = fuzzy.sorted_neighborhood_pairs(df, window=w).count()
    # one block of 50 sorted records: exactly sum over j=1..w of (50-j)
    assert pairs == sum(50 - j for j in range(1, w + 1))

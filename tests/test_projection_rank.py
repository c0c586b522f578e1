"""Wave-28: JL random projection and distributed global percent-rank."""

import math
import random

from conftest import plan_text
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import similarity, sketches


def test_random_projection_shape_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(8)]), (2, [1.0] * 8)],
        "vec_id bigint, embedding array<double>",
    )
    a = similarity.random_projection(df, in_dim=8, out_dim=4).collect()
    b = similarity.random_projection(df, in_dim=8, out_dim=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 8  # 2 vecs x 4 dims
    dims = {r["dim"] for r in a}
    assert dims == {0, 1, 2, 3}


def test_random_projection_preserves_distances_approximately(spark):
    # JL: with out_dim=32 from 64, pairwise distance distortion stays
    # moderate for a handful of random points.
    rng = random.Random(7)
    vecs = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(6)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id bigint, embedding array<double>"
    )
    out = similarity.random_projection(df, in_dim=64, out_dim=32).collect()
    proj = {}
    for r in out:
        proj.setdefault(r["vec_id"], {})[r["dim"]] = r["value"]
    pv = {i: [proj[i][d] for d in sorted(proj[i])] for i in proj}

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ratios = []
    for i in range(6):
        for j in range(i + 1, 6):
            d0 = dist(vecs[i], vecs[j])
            d1 = dist(pv[i], pv[j])
            ratios.append(d1 / d0)
    # all distortion ratios within a generous JL envelope
    assert all(0.5 < r < 1.5 for r in ratios)


def test_global_percent_rank_matches_window_form(spark):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([5, 1, 3, 3, 9])],
        "event_id bigint, value double",
    )
    got = {
        r["event_id"]: r["pct_rank"]
        for r in sketches.global_percent_rank(df).collect()
    }
    # percent_rank over [1,3,3,5,9]: 1->0, 3->0.25 (both), 5->0.75, 9->1
    assert got[1] == 0.0
    assert got[2] == got[3] == 0.25
    assert got[0] == 0.75
    assert got[4] == 1.0


def test_global_percent_rank_plan_never_sorts_facts_globally(spark):
    df = spark.range(1000).select(
        F.col("id").alias("event_id"), (F.col("id") % 37).cast("double").alias("value")
    )
    plan_df = sketches.global_percent_rank(df)
    s = plan_text(plan_df)
    # the facts join the value-grain rank table broadcast — no
    # SortMergeJoin, no fact-side global sort feeding a Window
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s

"""Interval join: the bucketed decomposition must return exactly the pairs
of the naive key-join + range-filter formulation, including window
boundaries that land exactly on bucket edges."""

import datetime

from conftest import SF_DIR
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import joins


def _pairs(df):
    return {(r.user_id, r.click_id, r.r_purchase_id) for r in df.collect()}


def test_interval_join_matches_naive(spark):
    ev = td.load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    got = joins.interval_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        min_delta_s=0, max_delta_s=1800,
    )

    naive = (
        clicks.alias("c")
        .join(purchases.alias("p"), "user_id")
        .filter(
            (F.col("p.ts") >= F.col("c.ts"))
            & (
                F.unix_micros(F.col("p.ts")) - F.unix_micros(F.col("c.ts"))
                <= 1800 * 1_000_000
            )
        )
        .select("user_id", "click_id", F.col("purchase_id").alias("r_purchase_id"))
    )
    assert _pairs(got) == _pairs(naive)
    assert _pairs(got)  # non-empty on the synthetic stream


def test_interval_join_bucket_boundaries(spark):
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    left = spark.createDataFrame([(1, 100, ts(0))], ["user_id", "click_id", "ts"])
    right = spark.createDataFrame(
        [
            (1, 200, ts(0)),     # delta = 0: inclusive lower bound
            (1, 201, ts(1800)),  # delta = window: inclusive upper bound
            (1, 202, ts(1801)),  # just outside
            (2, 203, ts(5)),     # wrong key
        ],
        ["user_id", "purchase_id", "ts"],
    )
    got = joins.interval_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        min_delta_s=0, max_delta_s=1800,
    )
    assert {r.r_purchase_id for r in got.collect()} == {200, 201}

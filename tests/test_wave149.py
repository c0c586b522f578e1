"""Wave 149: salted distinct-set profile — goldens, skew bound, and the
salt plan pin."""

import re

from conftest import plan_text
from pyspark.sql import Row
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators.layout import salted_distinct_profile


def test_profile_golden(spark):
    rows = [Row(k="a", v="x"), Row(k="a", v="y"), Row(k="a", v="x"),
            Row(k="b", v="z")]
    out = {
        r["k"]: r
        for r in salted_distinct_profile(
            spark.createDataFrame(rows), "k", "v", preview_k=2
        ).collect()
    }
    assert out["a"]["n_rows"] == 3 and out["a"]["n_distinct"] == 2
    assert out["a"]["preview"] == "x,y"
    assert out["b"]["n_rows"] == 1 and out["b"]["preview"] == "z"


def test_profile_preview_truncates_sorted(spark):
    rows = [Row(k="a", v=f"v{i:02d}") for i in range(10)]
    out = salted_distinct_profile(
        spark.createDataFrame(rows), "k", "v", preview_k=3
    ).collect()[0]
    assert out["n_distinct"] == 10
    assert out["preview"] == "v00,v01,v02"


def test_profile_one_hot_key_spreads_over_partitions(spark):
    """The skew shape: one key carrying every row.  Stage 1 must produce
    one group per (key, input partition) — i.e. the hot key's rows never
    concentrate into a single aggregation task's state."""
    df = spark.range(0, 20000, 1, 8).select(
        F.lit("hot").alias("k"), (F.col("id") % 50).cast("string").alias("v")
    )
    out = salted_distinct_profile(df, "k", "v", preview_k=4).collect()
    assert len(out) == 1
    assert out[0]["n_rows"] == 20000 and out[0]["n_distinct"] == 50
    # the stage-1 grain really is (key, pid): count the partial groups
    staged = df.select(F.col("k"), F.col("v")).withColumn(
        "__pid", F.spark_partition_id()
    )
    n_groups = staged.groupBy("k", "__pid").count().count()
    assert n_groups == 8  # one bounded group per scan partition


def test_profile_plan_pins_salt(spark):
    df = spark.range(100).select(
        F.lit("k").alias("k"), F.col("id").cast("string").alias("v")
    )
    plan_df = salted_distinct_profile(df, "k", "v")
    s = plan_text(plan_df)
    # the salt must feed the first aggregate: SPARK_PARTITION_ID appears,
    # and the plan carries the two-stage aggregate pair around TWO
    # exchanges (composite-key stage 1, key-grain stage 2)
    assert "SPARK_PARTITION_ID" in s
    assert len(re.findall(r"^\(\d+\) Exchange", s, re.M)) >= 2
    assert "CartesianProduct" not in s

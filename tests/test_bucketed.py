"""Bucketed storage: joins and aggregations on the bucket key must compile
without an Exchange on the bucketed side — the physical property the 100 TB
history layout depends on."""

from conftest import SF_DIR, plan_text
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.sources import parquet as pio


def test_bucketed_agg_and_join_have_no_history_exchange(spark, tmp_path):
    stage = td.load_table(spark, SF_DIR, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("link"),
        F.col("text").alias("summary"),
        "source",
    )
    pio.write_bucketed(stage, "hist_bucketed", str(tmp_path / "hist"), key="link", buckets=8)
    pio.write_bucketed(stage, "batch_bucketed", str(tmp_path / "batch"), key="link", buckets=8)
    hist = spark.table("hist_bucketed")
    batch = spark.table("batch_bucketed")

    try:
        # groupBy on the bucket key: partial+final agg collapse, no shuffle
        agg_plan = plan_text(hist.groupBy("link").agg(F.count(F.lit(1)).alias("n")))
        assert "Exchange" not in agg_plan, agg_plan

        # equi-join of two same-bucketed tables: SMJ with no Exchange at all
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        join_plan = plan_text(hist.join(batch, "link"))
        assert "Exchange" not in join_plan, join_plan
        assert "SortMergeJoin" in join_plan

        joined = hist.join(batch, "link").count()
        assert joined == stage.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS hist_bucketed")
        spark.sql("DROP TABLE IF EXISTS batch_bucketed")


def test_compact_partitions_reduces_file_count(spark, tmp_path):
    from rss_feed_etl_spark.sources.parquet import compact_partitions

    path = str(tmp_path / "frag")
    # simulate a fragmented streaming sink: 20 tiny appends
    for i in range(20):
        spark.range(i * 10, i * 10 + 10).selectExpr(
            "id", "CAST(id % 3 AS STRING) AS ingest_date"
        ).coalesce(1).write.mode("append").partitionBy("ingest_date").parquet(path)

    import pathlib

    before = sum(1 for _ in pathlib.Path(path).rglob("*.parquet"))
    assert before >= 20
    rows_before = sorted(r.id for r in spark.read.parquet(path).collect())

    after = compact_partitions(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert after < before
    rows_after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert rows_after == rows_before  # compaction moves bytes, never data

"""Port of the reference's only behavioral goldens
(reference tests/test_data_loader.py:18-98) to the Spark merge operators,
plus the merge invariants SURVEY §5.2 calls for (idempotence, notes
preservation, ≤1 current row per key).
"""

import pytest
from conftest import ts
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators.dedup import dedup_by_key
from rss_feed_etl_spark.operators.merges import (
    merge_counts,
    merge_scd1,
    merge_scd2,
    merge_upsert,
    sort_output,
)

AS_OF = "2024-06-01 12:00:00"


@pytest.fixture()
def new_batch(spark):
    # links: link1 unchanged, link2 changed (blank notes), link3 new
    rows = [
        ("Eng", "link1", "Job One", ts("2024-05-30 10:00:00"), "feedA", ""),
        ("Eng", "link2", "Job Two v2", ts("2024-05-31 11:00:00"), "feedA", ""),
        ("Eng", "link3", "Job Three", ts("2024-05-31 12:00:00"), "feedB", ""),
    ]
    return spark.createDataFrame(
        rows, "job_title string, link string, entry_title string, published timestamp, feed_title string, notes string"
    )


@pytest.fixture()
def history(spark):
    # links: link1, link2 (old values, notes), link4 (absent from new)
    rows = [
        ("Eng", "link1", "Job One", ts("2024-05-30 10:00:00"), "feedA", "Note 1"),
        ("Eng", "link2", "Job Two", ts("2024-05-29 09:00:00"), "feedA", "Note 2"),
        ("Eng", "link4", "Job Four", ts("2024-05-28 08:00:00"), "feedB", "Note 4"),
    ]
    return spark.createDataFrame(
        rows, "job_title string, link string, entry_title string, published timestamp, feed_title string, notes string"
    )


@pytest.fixture()
def scd2_history(history):
    return (
        history.withColumn("effective_start", F.to_timestamp(F.lit("2024-05-01 00:00:00")))
        .withColumn("effective_end", F.lit(None).cast("timestamp"))
        .withColumn("current_flag", F.lit(1))
    )


def by_link(df):
    return {r["link"]: r.asDict() for r in df.collect()}


class TestMergeUpsert:
    def test_golden(self, new_batch, history):
        out = merge_upsert(new_batch, history)
        rows = by_link(out)
        assert len(rows) == 4  # link1..4
        # changed row takes new values but keeps old notes
        assert rows["link2"]["entry_title"] == "Job Two v2"
        assert rows["link2"]["notes"] == "Note 2"
        # right-only row reconstructed from history
        assert rows["link4"]["entry_title"] == "Job Four"
        assert rows["link3"]["entry_title"] == "Job Three"

    def test_counts(self, new_batch, history):
        counts = merge_counts(new_batch, history).collect()[0]
        assert counts["inserted"] == 1  # link3
        assert counts["updated"] == 1  # link2 changed
        assert counts["removed"] == 1  # link4

    def test_idempotent(self, new_batch, history):
        once = merge_upsert(new_batch, history)
        twice = merge_upsert(new_batch, once)
        assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


class TestMergeScd1:
    def test_golden(self, new_batch, history):
        out = sort_output(merge_scd1(new_batch, history))
        rows = by_link(out)
        assert len(rows) == 4
        # new values win; blank new notes → history notes preserved
        assert rows["link2"]["entry_title"] == "Job Two v2"
        assert rows["link2"]["notes"] == "Note 2"
        assert rows["link1"]["notes"] == "Note 1"
        # history-only row preserved
        assert rows["link4"]["notes"] == "Note 4"
        # sort: published desc, link asc
        ordered = [r["link"] for r in out.collect()]
        assert ordered == ["link3", "link2", "link1", "link4"]

    def test_nonblank_new_notes_win(self, spark, new_batch, history):
        nb = new_batch.withColumn(
            "notes", F.when(F.col("link") == "link2", F.lit("fresh note")).otherwise(F.col("notes"))
        )
        rows = by_link(merge_scd1(nb, history))
        assert rows["link2"]["notes"] == "fresh note"

    def test_dedup_keep_last_then_merge(self, spark, history):
        rows = [
            ("Eng", "link2", "dup-early", ts("2024-05-31 10:00:00"), "feedA", "", 1),
            ("Eng", "link2", "dup-late", ts("2024-05-31 11:00:00"), "feedA", "", 2),
        ]
        batch = spark.createDataFrame(
            rows,
            "job_title string, link string, entry_title string, published timestamp, feed_title string, notes string, arrival bigint",
        )
        deduped = dedup_by_key(batch, "link", ["arrival"], keep="last").drop("arrival")
        out = by_link(merge_scd1(deduped, history))
        assert out["link2"]["entry_title"] == "dup-late"


class TestMergeScd2:
    def test_golden(self, new_batch, scd2_history):
        out = merge_scd2(new_batch, scd2_history, as_of=AS_OF)
        rows = out.collect()
        assert len(rows) == 5  # link1, link2 ×2, link3, link4
        link2 = [r for r in rows if r["link"] == "link2"]
        assert len(link2) == 2
        current = [r for r in link2 if r["current_flag"] == 1]
        assert len(current) == 1
        assert current[0]["entry_title"] == "Job Two v2"
        assert current[0]["notes"] == "Note 2"  # preserved into new version
        assert current[0]["effective_end"] is None
        old = [r for r in link2 if r["current_flag"] == 0][0]
        assert old["effective_end"] == ts(AS_OF)
        # removed key expired
        link4 = [r for r in rows if r["link"] == "link4"][0]
        assert link4["current_flag"] == 0
        assert link4["effective_end"] == ts(AS_OF)
        # unchanged key untouched
        link1 = [r for r in rows if r["link"] == "link1"][0]
        assert link1["current_flag"] == 1
        assert link1["effective_end"] is None
        # new key inserted current
        link3 = [r for r in rows if r["link"] == "link3"][0]
        assert link3["current_flag"] == 1
        assert link3["effective_start"] == ts(AS_OF)

    def test_invariant_one_current_per_key(self, new_batch, scd2_history):
        out = merge_scd2(new_batch, scd2_history, as_of=AS_OF)
        bad = (
            out.filter(F.col("current_flag") == 1)
            .groupBy("link")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert bad == 0

    def test_closed_rows_pass_through(self, new_batch, scd2_history, spark):
        closed = scd2_history.withColumn(
            "effective_end", F.to_timestamp(F.lit("2024-05-15 00:00:00"))
        ).withColumn("current_flag", F.lit(0))
        hist = scd2_history.unionByName(closed)
        out = merge_scd2(new_batch, hist, as_of=AS_OF)
        # 5 merged rows + 3 closed pass-through rows
        assert out.count() == 8

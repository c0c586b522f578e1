"""The partition-pruned SCD1 sink against the whole-history merge.

``sources.parquet.upsert_partitioned`` reads and rewrites only the ingest
dates a batch touches.  Batch by batch, the stored table must equal
``merge_scd1`` of the same deduped batch into the WHOLE previous table, with
every row stored under the date of its ``published``.  The cases are the
ones where a slice could differ from the whole: a row moving to another
date, null ``published`` (the default partition), a table whose only
partition is the default one (the partition column then infers as string),
the first batch into an empty sink, and a key repeated within a batch.
"""

import datetime as dt
import functools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators.dedup import dedup_by_key
from rss_feed_etl_spark.operators.merges import merge_scd1
from rss_feed_etl_spark.schemas import STAGE_SCHEMA
from rss_feed_etl_spark.sources.parquet import _read_dates, read_table, upsert_partitioned
from rss_feed_etl_spark.streaming.incremental import incremental_scd1, read_stage_stream

MERGE = functools.partial(merge_scd1, key="link")


def _row(link, published, title="t", notes=""):
    return ("Eng", link, title, published, "f", "r", "w", "s", notes)


def _day(d, hour=9):
    return dt.datetime(2024, 5, d, hour)


def _rows(df):
    return sorted(map(tuple, df.select(*STAGE_SCHEMA.names).collect()), key=repr)


def _run(spark, path, batches):
    """Upsert each batch; after each one the sink equals the full merge,
    holds each link once, and stores every row under the date of its
    ``published``."""
    for rows in batches:
        before = read_table(spark, path, STAGE_SCHEMA)
        batch = dedup_by_key(
            spark.createDataFrame(rows, STAGE_SCHEMA), "link", ["published"], keep="last"
        ).localCheckpoint(eager=True)
        want = _rows(MERGE(batch, before))
        upsert_partitioned(batch, path, STAGE_SCHEMA, MERGE)
        stored = spark.read.parquet(path).withColumn(
            "part", F.col("ingest_date").cast("string")
        ).withColumn("day", F.to_date("published").cast("string"))
        got = stored.collect()
        assert sorted((tuple(r[c] for c in STAGE_SCHEMA.names) for r in got), key=repr) == want
        assert all(r.part == r.day for r in got), got


def test_upsert_equals_full_merge(spark, tmp_path):
    path = str(tmp_path / "sink")
    _run(spark, path, [
        # first batch into an empty sink; the only partition is the default one
        [_row("L1", None, notes="n1"), _row("L2", None)],
        # repeated key within the batch (keep-last by published); a null
        # row gets a date and leaves the default partition; blank notes
        # keep the stored ones
        [_row("L1", _day(1), "a"), _row("L1", _day(2), "b"), _row("L3", _day(1))],
        # move L1 off 2024-05-02, emptying it; L2 stays null and is updated
        [_row("L1", _day(3), "c"), _row("L2", None, "t2", "n2")],
        # L3 moves back to the default partition, emptying 2024-05-01
        [_row("L3", None, "d")],
    ])
    assert sorted(n for n in os.listdir(path) if n.startswith("ingest_date=")) == [
        "ingest_date=2024-05-03", "ingest_date=__HIVE_DEFAULT_PARTITION__"
    ]
    # the slice lists only the touched dates' directories; a touched date
    # the table lacks (a batch's new date) reads as nothing
    for dates, want in [
        ([dt.date(2024, 5, 1), dt.date(2024, 5, 3)], {"2024-05-03"}),
        ([None], {"__HIVE_DEFAULT_PARTITION__"}),
    ]:
        files = _read_dates(spark, path, STAGE_SCHEMA, dates).inputFiles()
        assert {f.split("ingest_date=")[1].split("/")[0] for f in files} == want

    # then random batches over a small key and date space, so most of them
    # update, move, null out and repeat keys
    rng = random.Random(8)
    days = [None, _day(1), _day(2), _day(3, 20), _day(4), _day(5)]
    _run(spark, path, [
        [
            _row(f"L{rng.randrange(8)}", rng.choice(days), f"t{b}.{i}",
                 rng.choice(["", "nan", f"n{b}.{i}"]))
            for i in range(rng.randrange(2, 7))
        ]
        for b in range(3)
    ])


def _land(spark, landing, rows):
    spark.createDataFrame(rows, STAGE_SCHEMA).write.mode("append").parquet(landing)


def _stream_once(spark, landing, target, ckpt):
    q = incremental_scd1(
        read_stage_stream(spark, landing, STAGE_SCHEMA), target, ckpt, partitioned=True
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    return q


def _jobs(spark, q):
    """The ids of the jobs the query's micro-batches ran (Structured
    Streaming runs them under the query's ``runId`` job group)."""
    return spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))


def _records_written(spark, q) -> int:
    """Rows the query's jobs wrote to files, from the status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = {s for j in _jobs(spark, q) for s in tracker.getJobInfo(j).stageIds}
    return sum(store.lastStageAttempt(s).outputRecords() for s in stages)


def test_micro_batch_jobs_and_empty_batch(spark, tmp_path):
    """A micro-batch into a sink with history runs at most 9 jobs (the
    whole-history merge ran 12).  A zero-row file is then a micro-batch
    with no rows: the query ends cleanly, nothing is written, and the sink
    is left byte for byte, mtime for mtime."""
    landing, target, ckpt = (str(tmp_path / n) for n in ("landing", "target", "ckpt"))
    _land(spark, landing, [_row(f"L{i}", _day(1 + i % 4)) for i in range(40)])
    _stream_once(spark, landing, target, ckpt)
    _land(spark, landing, [_row("L1", _day(2), "v2"), _row("L99", _day(4)), _row("L99", _day(5))])
    q = _stream_once(spark, landing, target, ckpt)
    assert q.lastProgress["numInputRows"] == 3
    assert 0 < len(_jobs(spark, q)) <= 9
    assert _records_written(spark, q) > 0  # the write shows in the status store

    def files():
        out = {}
        for root, _dirs, names in os.walk(target):
            for n in names:
                p = os.path.join(root, n)
                with open(p, "rb") as f:
                    out[p] = (f.read(), os.stat(p).st_mtime_ns)
        return out

    before = files()
    arrow = pa.schema([
        (f.name, pa.timestamp("us") if f.name == "published" else pa.string())
        for f in STAGE_SCHEMA.fields
    ])
    pq.write_table(arrow.empty_table(), os.path.join(landing, "empty.parquet"))
    q = _stream_once(spark, landing, target, ckpt)
    assert q.lastProgress["batchId"] == 2 and q.lastProgress["numInputRows"] == 0
    assert files() == before
    assert _records_written(spark, q) == 0

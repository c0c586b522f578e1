"""The reference's ETL entry point (§3.1, run_etl.py → RSSFeedETL.run) as a
Spark program: feeds config → distributed fetch+parse → clean → validate +
dedup keep-last → SCD1/SCD2/upsert merge into the stage table.

The reference loops feeds sequentially and rewrites the whole Sheets table
per feed (core/etl.py:246, data_loader.py:426-428).  Here ALL feeds fetch in
one distributed stage, and ONE merge runs per batch — write amplification
drops from O(feeds × history) to O(history-touched-partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import dedup_by_key
from ..operators.filters import validate_keys
from ..operators.merges import merge_scd1, merge_scd2, merge_upsert, sort_output
from ..sources.rss import Fetcher, clean_entries, fetch_feeds, read_feeders


def run_etl(
    spark: SparkSession,
    config_df: DataFrame,
    history: DataFrame,
    fetcher: Fetcher | None = None,
    strategy: str = "scd1",
    tz: str | None = None,
    now: str | None = None,
) -> DataFrame:
    """One ETL run: returns the merged stage table (caller persists it).

    ``strategy`` ∈ {scd1, scd2, merge_upsert} — the reference's loading
    modes (data_loader.py:382-413).
    """
    feeders = read_feeders(config_df)
    raw = fetch_feeds(spark, feeders, fetcher)
    batch = clean_entries(raw, tz=tz, now=now)
    batch = validate_keys(batch)
    # keep-last within the batch needs an arrival order; published is the
    # only intrinsic order after the parallel fetch
    batch = dedup_by_key(batch, "link", ["published"], keep="last")
    if strategy == "scd1":
        return sort_output(merge_scd1(batch, history))
    if strategy == "scd2":
        return merge_scd2(batch, history, as_of=now or "1970-01-01 00:00:00")
    if strategy == "merge_upsert":
        return merge_upsert(batch, history)
    raise ValueError(f"unknown strategy: {strategy}")

"""Config-driven CLI: one command runs ETL → filter end-to-end from a YAML
file against a storage root (reference run_etl.py:99-257 + run_job_filter.py
orchestration, minus Google Sheets).

    python -m rss_feed_etl_spark.cli --config pipeline.yaml [--etl] [--filter]
        [--as-of "2024-01-31 00:00:00"] [--dry-run]

Offline by construction: feed URLs are fetched with the injectable fetcher
(``file://`` URLs read pre-fetched XML from disk; pass a real fetcher in
code for network runs).  ``--dry-run`` mirrors the reference's mode
(run_etl.py:181-185, core/etl.py:192-205): run the full plan, report row
counts, write nothing.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .config import PipelineConfig, load_config
from .plans.etl_pipeline import run_etl
from .plans.filter_pipeline import run_filter_pipeline
from .schemas import FEEDS_CONFIG_SCHEMA, SCD2_SCHEMA, STAGE_SCHEMA
from .sources import parquet as pq
from .sources.rss import Fetcher, file_fetcher


def run_etl_from_config(
    spark: SparkSession,
    cfg: PipelineConfig,
    fetcher: Fetcher | None = None,
    as_of: str | None = None,
    dry_run: bool = False,
) -> dict:
    """feeds-config table → fetch/parse/clean → merge into the stage table.

    The stage sink is ``write_partitioned_incremental``: only the ingest
    dates the batch touched are rewritten (on the first run, with no stage
    table yet, that is every date).
    """
    stor = cfg.storage
    config_df = spark.read.schema(FEEDS_CONFIG_SCHEMA).parquet(
        stor.table_path(cfg.etl.config_table)
    )
    stage_path = stor.table_path(cfg.etl.target_table)
    hist_schema = SCD2_SCHEMA if cfg.etl.loading_strategy == "scd2" else STAGE_SCHEMA
    history = pq.read_table(spark, stage_path, hist_schema)
    merged = run_etl(
        spark,
        config_df,
        history,
        fetcher=fetcher or file_fetcher,
        strategy=cfg.etl.loading_strategy,
        tz=cfg.etl.timezone,
        now=as_of,
    )
    # One snapshot for counts, the touched-dates delta, and the write: the
    # lineage reads stage_path (which the write overwrites) and calls the
    # feed fetcher (which may return different content per evaluation).
    merged = merged.localCheckpoint(eager=True)
    summary = {
        "step": "etl",
        "strategy": cfg.etl.loading_strategy,
        "history_rows": history.count(),
        "merged_rows": merged.count(),
        "dry_run": dry_run,
    }
    if dry_run:
        return summary
    # Re-deriving the batch for touched-date pruning would re-fetch feeds;
    # the merged-vs-history delta IS the batch's footprint, so diff keys.
    changed = merged.exceptAll(history.select(*merged.columns))
    dates = pq.write_partitioned_incremental(merged, changed, history, stage_path)
    summary["touched_partitions"] = [str(d) for d in dates]
    return summary


def run_filter_from_config(
    spark: SparkSession,
    cfg: PipelineConfig,
    as_of: str | None = None,
    dry_run: bool = False,
) -> dict:
    """stage table → date/content/keyword filter → output table.

    Append mode unions the new rows with the stored output (new rows win per
    link) and rewrites only the ingest dates that changed; overwrite mode
    replaces the whole output table (reference S4).
    """
    filt = cfg.job_filter
    stor = cfg.storage
    stage = pq.read_table(spark, stor.table_path(filt.source_table))
    out_path = stor.table_path(filt.output_table)
    existing = None
    if filt.loading_mode == "append":
        # the output holds the stage's columns plus the run stamp
        out_schema = T.StructType(
            [*stage.schema.fields, T.StructField("AS_OF_DT", T.TimestampType())]
        )
        existing = pq.read_table(spark, out_path, out_schema)
    result = run_filter_pipeline(
        stage,
        existing=existing,
        as_of=as_of,
        days_back=filt.days_back,
        content_cols=filt.require_content,
        exclude_keywords=filt.exclude_by_column,
    )
    if not filt.add_as_of_dt:
        result = result.drop("AS_OF_DT")
    n_out = result.count()
    summary = {
        "step": "filter",
        "mode": filt.loading_mode,
        "output_rows": n_out,
        "dry_run": dry_run,
    }
    if dry_run:
        return summary
    # Materialize before writing: append mode reads its own previous output
    # (plain parquet has no atomic read-then-overwrite).  localCheckpoint,
    # not cache: cached blocks are evictable and recompute would re-read
    # files the overwrite has already deleted.
    result = result.localCheckpoint(eager=True)
    if existing is None:
        pq.write_overwrite(result, out_path)
        return summary
    changed = result.exceptAll(existing.select(*result.columns))
    dates = pq.write_partitioned_incremental(
        result, changed, existing, out_path, ts_col=filt.date_column
    )
    summary["touched_partitions"] = [str(d) for d in dates]
    return summary


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="Run the RSS-feed ETL/filter pipelines")
    parser.add_argument("--config", required=True, help="Path to pipeline YAML")
    parser.add_argument("--etl", action="store_true", help="Run the ETL step")
    parser.add_argument("--filter", action="store_true", help="Run the filter step")
    parser.add_argument("--as-of", default=None, help="Fixed 'now' (deterministic runs)")
    parser.add_argument("--dry-run", action="store_true", help="Plan + count, write nothing")
    parser.add_argument("--cpus", type=int, default=None, help="local[N] parallelism")
    args = parser.parse_args(argv)

    cfg = load_config(args.config)
    from .session import get_spark

    spark = get_spark(app_name="rss-feed-etl-cli", cpus=args.cpus)
    steps = []
    run_all = not (args.etl or args.filter)
    if args.etl or run_all:
        steps.append(run_etl_from_config(spark, cfg, as_of=args.as_of, dry_run=args.dry_run))
    if args.filter or run_all:
        steps.append(run_filter_from_config(spark, cfg, as_of=args.as_of, dry_run=args.dry_run))
    print(json.dumps(steps))
    return 0


if __name__ == "__main__":
    sys.exit(main())

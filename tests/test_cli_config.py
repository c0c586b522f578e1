"""YAML config + CLI orchestration: one command runs ETL → filter
end-to-end against a storage root, with the stage sink rewriting ONLY the
ingest-date partitions the batch touched."""

import pytest

from rss_feed_etl_spark.cli import run_etl_from_config, run_filter_from_config
from rss_feed_etl_spark.config import load_config, parse_config
from rss_feed_etl_spark.schemas import FEEDS_CONFIG_SCHEMA

RSS_XML = """<?xml version="1.0"?>
<rss version="2.0"><channel><title>{feed}</title>
{items}
</channel></rss>"""

ITEM = """<item><title>{title}</title><link>{link}</link>
<pubDate>{pub}</pubDate><description>{desc}</description></item>"""


def _write_feed(path, feed, items):
    xml = RSS_XML.format(
        feed=feed, items="\n".join(ITEM.format(**i) for i in items)
    )
    path.write_text(xml)


CONFIG_YAML = """
etl:
  loading_strategy: "scd1"
  config_sheet: "feeds_config"          # reference alias keys must work
  target_worksheet: "stage"
job_filter:
  source_worksheet: "stage"
  output_worksheet: "filtered"
  loading_mode: "append"
  date_filter:
    enabled: true
    column: "published"
    days_back: 7
  require_content:
    enabled: true
    columns: ["summary"]
  exclude_by_column:
    entry_title: ["Director", "Manager"]
storage:
  root: "{root}"
  partition_stage: true
"""


@pytest.fixture
def pipeline(spark, tmp_path):
    feeds = tmp_path / "feeds"
    feeds.mkdir()
    _write_feed(
        feeds / "a.xml",
        "Feed A",
        [
            {"title": "Engineer", "link": "http://x/1",
             "pub": "Mon, 20 May 2024 10:00:00 +0000", "desc": "spark role"},
            {"title": "Director of Eng", "link": "http://x/2",
             "pub": "Mon, 20 May 2024 11:00:00 +0000", "desc": "excluded title"},
        ],
    )
    _write_feed(
        feeds / "b.xml",
        "Feed B",
        [
            {"title": "Analyst", "link": "http://y/1",
             "pub": "Tue, 21 May 2024 09:00:00 +0000", "desc": "sql role"},
        ],
    )
    root = tmp_path / "tables"
    root.mkdir()
    rows = [
        ("Feed A", "rss.app", "15min", f"file://{feeds}/a.xml", "StageData", "Eng"),
        ("Feed B", "rss.app", "15min", f"file://{feeds}/b.xml", "StageData", "Analyst"),
    ]
    spark.createDataFrame(rows, FEEDS_CONFIG_SCHEMA).write.parquet(
        str(root / "feeds_config")
    )
    cfg_path = tmp_path / "pipeline.yaml"
    cfg_path.write_text(CONFIG_YAML.format(root=root))
    return cfg_path, root, feeds


def test_yaml_parses_reference_alias_keys(pipeline):
    cfg_path, root, _ = pipeline
    cfg = load_config(str(cfg_path))
    assert cfg.etl.config_table == "feeds_config"
    assert cfg.etl.target_table == "stage"
    assert cfg.job_filter.output_table == "filtered"
    assert cfg.job_filter.exclude_by_column == {"entry_title": ["Director", "Manager"]}
    assert cfg.storage.root == str(root)


def test_parse_config_rejects_bad_strategy():
    with pytest.raises(ValueError, match="loading_strategy"):
        parse_config({"etl": {"loading_strategy": "nope"}})


@pytest.mark.parametrize(
    "section,key,value",
    [
        ("job_filter", "case_sensitive", True),
        ("storage", "partition_stage", False),
        ("storage", "partition_output", False),
    ],
)
def test_parse_config_rejects_removed_keys(section, key, value):
    """Removed keys: the value the engine always applied still parses, any
    other would silently change the config's meaning and is an error."""
    with pytest.raises(ValueError, match=key):
        parse_config({section: {key: value}})
    parse_config({section: {key: not value}})


def test_etl_then_filter_end_to_end(spark, pipeline):
    cfg_path, root, _ = pipeline
    cfg = load_config(str(cfg_path))

    s1 = run_etl_from_config(spark, cfg, as_of="2024-05-22 00:00:00")
    assert s1["merged_rows"] == 3
    stage = spark.read.parquet(str(root / "stage"))
    assert stage.count() == 3
    # partitioned layout: one dir per ingest date
    parts = {p.name for p in (root / "stage").iterdir() if p.name.startswith("ingest_date=")}
    assert parts == {"ingest_date=2024-05-20", "ingest_date=2024-05-21"}

    s2 = run_filter_from_config(spark, cfg, as_of="2024-05-22 00:00:00")
    out = spark.read.parquet(str(root / "filtered"))
    rows = {r.link: r.asDict() for r in out.collect()}
    # Director row excluded by keyword; both others inside the 7d window
    assert set(rows) == {"http://x/1", "http://y/1"}
    assert all(r["AS_OF_DT"] is not None for r in rows.values())
    assert s2["output_rows"] == 2


def test_incremental_stage_write_touches_only_batch_dates(spark, pipeline):
    cfg_path, root, feeds = pipeline
    cfg = load_config(str(cfg_path))
    run_etl_from_config(spark, cfg, as_of="2024-05-22 00:00:00")

    day20 = root / "stage" / "ingest_date=2024-05-20"
    before = {f.name: f.stat().st_mtime_ns for f in day20.glob("*.parquet")}

    # second run: feed B gains one item on a NEW date; feed A unchanged
    _write_feed(
        feeds / "b.xml",
        "Feed B",
        [
            {"title": "Analyst", "link": "http://y/1",
             "pub": "Tue, 21 May 2024 09:00:00 +0000", "desc": "sql role"},
            {"title": "Platform Eng", "link": "http://y/2",
             "pub": "Wed, 22 May 2024 08:00:00 +0000", "desc": "new role"},
        ],
    )
    s = run_etl_from_config(spark, cfg, as_of="2024-05-23 00:00:00")
    assert s["merged_rows"] == 4
    assert s["touched_partitions"] == ["2024-05-22"]

    stage = spark.read.parquet(str(root / "stage"))
    assert stage.count() == 4
    # untouched partition was not rewritten (same files, same mtimes)
    after = {f.name: f.stat().st_mtime_ns for f in day20.glob("*.parquet")}
    assert after == before


def test_filter_append_mode_dedups_across_runs(spark, pipeline):
    cfg_path, root, _ = pipeline
    cfg = load_config(str(cfg_path))
    run_etl_from_config(spark, cfg, as_of="2024-05-22 00:00:00")
    run_filter_from_config(spark, cfg, as_of="2024-05-22 00:00:00")
    first = spark.read.parquet(str(root / "filtered")).count()
    # re-run: same rows arrive again; append-dedup keeps one per link
    run_filter_from_config(spark, cfg, as_of="2024-05-22 12:00:00")
    out = spark.read.parquet(str(root / "filtered"))
    assert out.count() == first
    assert out.select("link").distinct().count() == first


def test_incremental_filter_write_touches_only_changed_dates(spark, pipeline):
    """M4 append path at scale: the filter output is date-partitioned and an
    append rewrites ONLY the partitions holding changed/new rows.  A row that
    fell out of the date window survives via the existing side with its old
    AS_OF_DT — its partition's files must not be rewritten."""
    cfg_path, root, feeds = pipeline
    cfg = load_config(str(cfg_path))
    run_etl_from_config(spark, cfg, as_of="2024-05-22 00:00:00")
    run_filter_from_config(spark, cfg, as_of="2024-05-22 00:00:00")

    day20 = root / "filtered" / "ingest_date=2024-05-20"
    assert day20.exists()  # x/1 published 05-20
    before = {f.name: f.stat().st_mtime_ns for f in day20.glob("*.parquet")}

    # feed B gains an item on 05-22; second filter run at as_of 05-28 keeps
    # x/1 (05-20) only via existing (out of the 7-day window → unchanged)
    _write_feed(
        feeds / "b.xml",
        "Feed B",
        [
            {"title": "Analyst", "link": "http://y/1",
             "pub": "Tue, 21 May 2024 09:00:00 +0000", "desc": "sql role"},
            {"title": "Platform Eng", "link": "http://y/2",
             "pub": "Wed, 22 May 2024 08:00:00 +0000", "desc": "new role"},
        ],
    )
    run_etl_from_config(spark, cfg, as_of="2024-05-28 00:00:00")
    s = run_filter_from_config(spark, cfg, as_of="2024-05-28 00:00:00")
    assert set(s["touched_partitions"]) == {"2024-05-21", "2024-05-22"}

    out = spark.read.parquet(str(root / "filtered"))
    assert {r.link for r in out.collect()} == {"http://x/1", "http://y/1", "http://y/2"}
    after = {f.name: f.stat().st_mtime_ns for f in day20.glob("*.parquet")}
    assert after == before


def test_dry_run_writes_nothing(spark, pipeline):
    cfg_path, root, _ = pipeline
    cfg = load_config(str(cfg_path))
    s = run_etl_from_config(spark, cfg, as_of="2024-05-22 00:00:00", dry_run=True)
    assert s["dry_run"] and s["merged_rows"] == 3
    assert not (root / "stage").exists()


def test_cli_main_dry_run(spark, pipeline, capsys):
    import json as _json

    from rss_feed_etl_spark.cli import main

    cfg_path, root, _ = pipeline
    rc = main(["--config", str(cfg_path), "--etl", "--dry-run",
               "--as-of", "2024-05-22 00:00:00"])
    assert rc == 0
    steps = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert steps[0]["step"] == "etl" and steps[0]["merged_rows"] == 3
    assert not (root / "stage").exists()


def test_filter_overwrite_mode_replaces_whole_output(spark, tmp_path):
    """Overwrite mode replaces the whole output table (reference S4): a row
    the second run no longer selects is gone, even though no row of the
    second run shares its date."""
    import datetime as dt

    from rss_feed_etl_spark.schemas import STAGE_SCHEMA
    from rss_feed_etl_spark.sources.parquet import write_partitioned

    root = tmp_path / "tables"
    rows = [
        ("Eng", "http://x/10", "t10", dt.datetime(2024, 5, 10, 9), "f", "r", "w", "s", ""),
        ("Eng", "http://x/20", "t20", dt.datetime(2024, 5, 20, 9), "f", "r", "w", "s", ""),
    ]
    write_partitioned(spark.createDataFrame(rows, STAGE_SCHEMA), str(root / "stage"))
    cfg = parse_config(
        {
            "job_filter": {
                "loading_mode": "overwrite",
                "date_filter": {"days_back": 7},
            },
            "storage": {"root": str(root)},
        }
    )

    run_filter_from_config(spark, cfg, as_of="2024-05-12 00:00:00")
    first = spark.read.parquet(str(root / "filtered"))
    assert {r.link for r in first.collect()} == {"http://x/10", "http://x/20"}

    s = run_filter_from_config(spark, cfg, as_of="2024-05-22 00:00:00")
    out = spark.read.parquet(str(root / "filtered"))
    assert {r.link for r in out.collect()} == {"http://x/20"}
    assert s["output_rows"] == 1

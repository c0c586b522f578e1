"""Filter-stage semantics (reference P4/P5/P6/P7/P8, run_job_filter.py) and
the composed §3.2 pipeline."""

import pytest
from conftest import ts
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import filters
from rss_feed_etl_spark.operators.dedup import union_dedup_keep_first
from rss_feed_etl_spark.plans.filter_pipeline import run_filter_pipeline


AS_OF = "2024-06-01 00:00:00"


@pytest.fixture()
def stage(spark):
    rows = [
        # link, published, summary, entry_title
        ("a", ts("2024-05-30 10:00:00"), "fine summary", "Data Engineer"),
        ("b", ts("2024-05-20 10:00:00"), "old row", "Data Engineer"),  # outside 7d
        ("c", ts("2024-05-31 10:00:00"), "", "Data Engineer"),  # blank summary
        ("d", ts("2024-05-31 10:00:00"), "nan", "Data Engineer"),  # literal nan
        ("e", ts("2024-05-31 10:00:00"), "   ", "Data Engineer"),  # whitespace
        ("f", ts("2024-05-31 10:00:00"), "ok", "Senior UNPAID intern"),  # keyword
        ("g", None, "no date", "Data Engineer"),  # unparseable date → drop
        ("h", ts("2024-05-31 09:00:00"), "ok too", "C++ (Remote) dev"),  # regex metachars
    ]
    return spark.createDataFrame(rows, "link string, published timestamp, summary string, entry_title string")


def test_filter_by_date(stage):
    out = filters.filter_by_date(stage, "published", AS_OF, 7)
    links = {r["link"] for r in out.collect()}
    assert "b" not in links and "g" not in links
    assert "a" in links


def test_filter_empty_content(stage):
    out = filters.filter_empty_content(stage, ["summary"])
    links = {r["link"] for r in out.collect()}
    assert links.isdisjoint({"c", "d", "e"})
    assert "a" in links


def test_keyword_exclusion_literal_and_case(stage):
    out = filters.filter_keywords(stage, {"entry_title": ["unpaid"]})
    links = {r["link"] for r in out.collect()}
    assert "f" not in links  # case-insensitive
    assert "a" in links


def test_keyword_regex_metachars_are_literal(stage):
    # "(Remote)" must match literally, not as a regex group
    out = filters.filter_keywords(stage, {"entry_title": ["(remote)"]})
    links = {r["link"] for r in out.collect()}
    assert "h" not in links
    assert "a" in links


def test_add_as_of_fixed(stage):
    out = filters.add_as_of(stage, "AS_OF_DT", AS_OF)
    assert out.select("AS_OF_DT").first()[0] == ts(AS_OF)


def test_validate_keys(spark):
    df = spark.createDataFrame(
        [("x", 1), (None, 2), ("  ", 3)], "link string, v int"
    )
    assert filters.validate_keys(df).count() == 1


def test_union_dedup_keep_first(spark):
    new = spark.createDataFrame([("k1", "new"), ("k2", "new")], "link string, v string")
    existing = spark.createDataFrame([("k2", "old"), ("k3", "old")], "link string, v string")
    out = {r["link"]: r["v"] for r in union_dedup_keep_first(new, existing, "link").collect()}
    assert out == {"k1": "new", "k2": "new", "k3": "old"}


def test_pipeline_end_to_end(stage, spark):
    existing = spark.createDataFrame(
        [("z", ts("2024-05-25 00:00:00"), "prior output", "Old Row", ts("2024-05-25 00:00:00"))],
        "link string, published timestamp, summary string, entry_title string, AS_OF_DT timestamp",
    )
    out = run_filter_pipeline(
        stage,
        existing=existing,
        as_of=AS_OF,
        days_back=7,
        content_cols=["summary"],
        exclude_keywords={"entry_title": ["unpaid"]},
        key="link",
    )
    rows = {r["link"] for r in out.collect()}
    assert rows == {"a", "h", "z"}
    assert out.filter(F.col("link") == "a").first()["AS_OF_DT"] == ts(AS_OF)


def test_html_to_text_preserves_link_targets():
    """Reference parity (html_utils.py:12-14, ignore_links=False): link
    TEXT and TARGET both survive cleaning, rendered as 'text (url)'."""
    from rss_feed_etl_spark.functions.text import html_to_text

    raw = (
        '<p>Apply <a class="btn" href="https://example.com/j?id=7">here '
        "now</a> today</p><script>var x=1;</script>"
    )
    out = html_to_text(raw)
    assert out == "Apply here now (https://example.com/j?id=7) today"
    # anchor without href falls through to the plain tag strip (text kept)
    assert html_to_text("<a name='x'>anchor text</a>") == "anchor text"
    # nested emphasis inside the anchor is stripped, url kept
    assert html_to_text('<a href="u"><b>bold link</b></a>') == "bold link (u)"

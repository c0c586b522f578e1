"""Wave-25 corpus-hygiene operators: OOV rate, token entropy, Zipf fit,
and boilerplate span removal."""

import math

import pytest
from conftest import docs_frame, plan_text

from rss_feed_etl_spark.operators import textstats


def test_oov_rate_against_budgeted_vocab(spark):
    # "a b" dominate; "rare" appears once -> OOV under min_count=2.
    rows = [(i, "a b a b") for i in range(5)] + [(99, "a b rare")]
    out = {
        r["doc_id"]: r
        for r in textstats.oov_rate(docs_frame(spark, rows), min_count=2).collect()
    }
    assert out[0]["n_oov"] == 0 and out[0]["oov_rate"] == 0.0
    assert out[99]["n_tokens"] == 3 and out[99]["n_oov"] == 1
    assert out[99]["oov_rate"] == pytest.approx(1 / 3, abs=1e-6)


def test_oov_vocab_size_cap_deterministic_ties(spark):
    # four tokens each freq 2; vocab_size=2 keeps lexicographically first
    # two ("a", "b") on the count-tie.
    rows = [(1, "a b c d"), (2, "a b c d")]
    out = textstats.oov_rate(
        docs_frame(spark, rows), min_count=1, vocab_size=2
    ).collect()
    for r in out:
        assert r["n_oov"] == 2  # c, d fell outside the size cap


def test_token_entropy_extremes(spark):
    rows = [(1, "x x x x"), (2, "a b c d")]
    out = {r["doc_id"]: r for r in textstats.token_entropy(docs_frame(spark, rows)).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["ttr"] == 0.25
    assert out[2]["entropy"] == pytest.approx(math.log(4), abs=1e-6)
    assert out[2]["ttr"] == 1.0


def test_zipf_fit_recovers_planted_slope(spark):
    # Plant freq(rank) = round(1000 * rank^-1): OLS slope on the log-log
    # points must come out near -1.
    rows, doc = [], 0
    for rank in range(1, 21):
        n = round(1000 / rank)
        for _ in range(n):
            rows.append((doc, f"tok{rank:02d}"))
            doc += 1
    df = docs_frame(spark, rows)
    out = textstats.zipf_fit(df, top=20).collect()[0]
    assert out["n_terms"] == 20
    assert out["slope"] == pytest.approx(-1.0, abs=0.02)


def test_hot_shingles_and_removal(spark):
    banner = "subscribe to our newsletter"
    rows = [(i, f"{banner} body{i} text{i} unique{i}") for i in range(10)]
    rows.append((100, "totally organic content here"))
    df = docs_frame(spark, rows)

    hot = textstats.hot_shingles(df, k=3, min_docs=10)
    shingles = {r["shingle"] for r in hot.collect()}
    assert "subscribe to our" in shingles and "to our newsletter" in shingles
    # per-doc unique tails never repeat
    assert all("unique" not in s for s in shingles)

    out = {
        r["doc_id"]: r
        for r in textstats.remove_boilerplate(df, k=3, min_docs=10).collect()
    }
    # the two overlapping hot shingles cover the first 4 tokens
    assert out[0]["clean_text"] == "body0 text0 unique0"
    assert out[0]["n_removed"] == 4
    assert out[100]["clean_text"] == "totally organic content here"
    assert out[100]["n_removed"] == 0


def test_remove_boilerplate_can_empty_a_document(spark):
    rows = [(i, "the same exact text") for i in range(5)]
    out = textstats.remove_boilerplate(
        docs_frame(spark, rows), k=3, min_docs=5
    ).collect()
    for r in out:
        assert r["clean_text"] == "" and r["n_removed"] == 4


def test_remove_boilerplate_universal_template(spark):
    """VERDICT r6 #3 degenerate guard: a template present in EVERY
    document (the worst case for the old shingle-grain occurrence array)
    must be stripped from every document with per-record state bounded at
    (shingle, doc) grain — the plan reads the cached grain twice and
    broadcast-semi-joins the template-grain hot set."""
    tmpl = "sign up for the daily newsletter today"
    rows = [(i, f"{tmpl} body{i} tail{i}") for i in range(40)]
    df = docs_frame(spark, rows)
    out = {
        r["doc_id"]: r
        for r in textstats.remove_boilerplate(df, k=3, min_docs=40).collect()
    }
    assert len(out) == 40
    for i in range(40):
        assert out[i]["clean_text"] == f"body{i} tail{i}"
        assert out[i]["n_removed"] == 7  # the whole template, nothing else

    # plan shape: cached (shingle,id) grain + broadcast LEFT-SEMI hot set
    plan = plan_text(textstats.remove_boilerplate(df, k=3, min_docs=40))
    assert "InMemoryTableScan" in plan
    assert "LeftSemi" in plan and "Broadcast" in plan

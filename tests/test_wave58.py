"""Wave 58: Gopher-style quality flags and repetition metrics."""

from __future__ import annotations

from conftest import plan_text
from pyspark.sql import Row

from rss_feed_etl_spark.operators import textstats


def test_gopher_flags_on_known_docs(spark):
    prose = "the quick brown fox jumps over and over with the lazy dog " * 5
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=prose),  # 60 words, prose-like
            Row(doc_id=2, text="x " * 10),  # too short
            Row(doc_id=3, text="12 34 !! ## " * 20),  # no alpha, no stopwords
        ]
    )
    out = {r["doc_id"]: r for r in textstats.gopher_quality_flags(df).collect()}
    assert out[1]["n_words"] == 60
    assert out[1]["flag_word_count"] == 1
    assert out[1]["flag_stopwords"] == 1  # 'the', 'and', 'with' present
    assert out[1]["flag_alpha"] == 1 and out[1]["keep"] == 1
    assert out[2]["flag_word_count"] == 0 and out[2]["keep"] == 0
    assert out[3]["alpha_frac"] == 0.0
    assert out[3]["flag_alpha"] == 0 and out[3]["flag_stopwords"] == 0
    # metrics are exact integer-ratio arithmetic
    assert out[2]["n_words"] == 10 and out[2]["mean_word_len"] == 1.0


def test_gopher_flags_plan_is_map_only(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    s = plan_text(textstats.gopher_quality_flags(df))
    assert "Exchange" not in s and "Join" not in s
    assert "ArrowEvalPython" not in s and "BatchEvalPython" not in s


def test_repeated_ngram_stats_detects_loops(spark):
    df = spark.createDataFrame(
        [
            # "a b c" repeated 4x -> 10 trigrams, "a b c" occurs 4 times
            Row(doc_id=1, text="a b c " * 4),
            Row(doc_id=2, text="all distinct words here today friend"),
            Row(doc_id=3, text="too short"),  # < 3 words: excluded
        ]
    )
    out = {r["doc_id"]: r for r in textstats.repeated_ngram_stats(df).collect()}
    assert out[1]["total_ngrams"] == 10
    # distinct trigrams of the loop: abc, bca, cab -> dup_frac = 7/10
    assert out[1]["dup_frac"] == 0.7
    assert out[1]["top_frac"] == 0.4  # "a b c" 4/10
    assert out[2]["dup_frac"] == 0.0 and out[2]["top_frac"] == 0.25
    assert 3 not in out

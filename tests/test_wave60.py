"""Wave 60: exact-substring contamination and DSIR importance weights."""

from __future__ import annotations

from conftest import plan_text
from pyspark.sql import Row
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import sampling


def _corpus(spark):
    prefix = "x" * 64
    return spark.createDataFrame(
        [
            Row(id=1, split="train", text=prefix + " plus trailing content"),
            Row(id=2, split="test", text=prefix + " different ending"),
            Row(id=3, split="train", text="totally unrelated training text " * 4),
            Row(id=4, split="test", text="short"),  # < needle_len: no needle
        ]
    )


def test_exact_contamination_finds_planted_prefix(spark):
    out = sampling.exact_substring_contamination(_corpus(spark), needle_len=64)
    assert sorted(map(tuple, out.collect())) == [(1, 2)]


def test_exact_contamination_plan_broadcasts_needles(spark):
    s = plan_text(sampling.exact_substring_contamination(_corpus(spark)))
    assert "BroadcastNestedLoopJoin" in s
    assert "SortMergeJoin" not in s


def test_dsir_weights_prefer_target_like_docs(spark):
    target_phrase = "machine learning models train on curated corpora "
    rows = (
        [Row(doc_id=i, lang="en", text=target_phrase * 3) for i in range(10)]
        + [Row(doc_id=100, lang="xx", text=target_phrase * 3)]  # target-like text
        + [
            Row(doc_id=200 + i, lang="xx", text="buy cheap pills now click here " * 3)
            for i in range(10)
        ]
    )
    out = {
        r["doc_id"]: r["log_weight"]
        for r in sampling.dsir_importance_weights(
            spark.createDataFrame(rows), target=F.col("lang") == "en"
        ).collect()
    }
    # a doc whose bigrams match the target distribution scores higher than
    # one drawn from the off-target mass
    assert out[100] > out[200]
    # identical text -> identical weight regardless of label
    assert out[100] == out[0]

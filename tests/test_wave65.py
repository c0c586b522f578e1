"""Wave 65: target encoding and hashing-trick features."""

from __future__ import annotations

from conftest import plan_text
from pyspark.sql import Row

from rss_feed_etl_spark.operators import features


def test_target_encode_loo_known_values(spark):
    # cat 'a': targets 1, 3 -> LOO for row1 = (3 + m*g) / (1 + m)
    rows = [
        Row(id=1, cat="a", y=1.0),
        Row(id=2, cat="a", y=3.0),
        Row(id=3, cat="b", y=10.0),
    ]
    df = spark.createDataFrame(rows)
    m, g = 10.0, (1.0 + 3.0 + 10.0) / 3.0
    out = {
        r["id"]: r["enc"]
        for r in features.target_encode_loo(df, "id", "cat", "y", m).collect()
    }
    assert abs(out[1] - (3.0 + m * g) / (1 + m)) < 1e-6
    assert abs(out[2] - (1.0 + m * g) / (1 + m)) < 1e-6
    # singleton category: numerator has no sibling signal -> pure prior
    assert abs(out[3] - (0.0 + m * g) / (0 + m)) < 1e-6


def test_target_encode_never_sees_own_label(spark):
    # one extreme outlier: its own encoding must NOT reflect its label
    rows = [Row(id=i, cat="a", y=1.0) for i in range(10)]
    rows.append(Row(id=99, cat="a", y=1000.0))
    df = spark.createDataFrame(rows)
    out = {
        r["id"]: r["enc"]
        for r in features.target_encode_loo(df, "id", "cat", "y", 0.001).collect()
    }
    # outlier's own encode ~ mean of the other ten (≈1); siblings see it
    assert out[99] < 2.0
    assert out[0] > 50.0


def test_target_encode_plan_broadcasts(spark):
    rows = [Row(id=i, cat=str(i % 3), y=float(i)) for i in range(100)]
    df = spark.createDataFrame(rows)
    s = plan_text(features.target_encode_loo(df, "id", "cat", "y"))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_feature_hash_properties(spark):
    rows = [
        Row(doc_id=1, text="alpha beta gamma alpha"),
        Row(doc_id=2, text="alpha beta gamma alpha"),  # identical bag
        Row(doc_id=3, text=""),
    ]
    df = spark.createDataFrame(rows)
    out = features.feature_hash_encode(df, "doc_id", "text", n_buckets=16).collect()
    by_doc = {}
    for r in out:
        assert 0 <= r["bucket"] < 16
        by_doc.setdefault(r["id"], {})[r["bucket"]] = r["weight"]
    # identical token bags -> identical sparse vectors (determinism)
    assert by_doc[1] == by_doc[2]
    # blank doc contributes nothing
    assert 3 not in by_doc
    # repeated token doubles its signed weight
    assert any(abs(w) == 2 for w in by_doc[1].values())
    # total signed mass = sum of per-token signs, magnitude <= token count
    assert sum(abs(w) for w in by_doc[1].values()) <= 4


def test_feature_hash_single_shuffle(spark):
    rows = [Row(doc_id=i, text="a b c d e") for i in range(50)]
    df = spark.createDataFrame(rows)
    s = plan_text(features.feature_hash_encode(df, "doc_id", "text"))
    # one exchange (to (doc, bucket) grain), no join, no python —
    # formatted explain names each node twice (tree + detail section)
    assert s.count("Exchange (") == 1
    assert "Join" not in s
    assert "ArrowEvalPython" not in s and "BatchEvalPython" not in s

"""Wave 143: Kendall-τ ranker agreement + kNN label confusion matrix."""

from __future__ import annotations

import pytest
from conftest import SF_DIR
from pyspark.sql import Row

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import similarity
from rss_feed_etl_spark.operators.retrieval import kendall_tau_rankings


def _ranking(spark, ids_scores):
    return spark.createDataFrame(
        [Row(doc_id=i, score=float(s)) for i, s in ids_scores]
    )


def test_kendall_identical_lists_is_one(spark):
    a = _ranking(spark, [(1, 9.0), (2, 8.0), (3, 7.0), (4, 6.0)])
    r = kendall_tau_rankings(a, a, depth=10).collect()[0]
    assert r["n_common"] == 4
    assert r["n_pairs"] == 6
    assert r["concordant"] == 6 and r["discordant"] == 0
    assert r["kendall_tau"] == pytest.approx(1.0)


def test_kendall_reversed_lists_is_minus_one(spark):
    a = _ranking(spark, [(1, 9.0), (2, 8.0), (3, 7.0)])
    b = _ranking(spark, [(1, 1.0), (2, 2.0), (3, 3.0)])
    r = kendall_tau_rankings(a, b, depth=10).collect()[0]
    assert r["kendall_tau"] == pytest.approx(-1.0)
    assert r["concordant"] == 0 and r["discordant"] == 3


def test_kendall_one_swap_hand_golden(spark):
    # b swaps the top two of a: 1 discordant pair of 3 -> tau = (2-1)/3
    a = _ranking(spark, [(1, 9.0), (2, 8.0), (3, 7.0)])
    b = _ranking(spark, [(2, 9.0), (1, 8.0), (3, 7.0)])
    r = kendall_tau_rankings(a, b, depth=10).collect()[0]
    assert r["kendall_tau"] == pytest.approx((2 - 1) / 3, abs=1e-6)


def test_kendall_intersection_only_and_null_tau(spark):
    # one shared doc -> m=1, no pairs, tau NULL
    a = _ranking(spark, [(1, 9.0), (2, 8.0)])
    b = _ranking(spark, [(1, 9.0), (9, 8.0)])
    r = kendall_tau_rankings(a, b, depth=10).collect()[0]
    assert r["n_common"] == 1
    assert r["n_pairs"] == 0
    assert r["kendall_tau"] is None


def test_confusion_matrix_matches_accuracy_diagonal(spark):
    emb = td.load_table(spark, SF_DIR, "embeddings")
    acc = {
        r["label"]: r
        for r in similarity.label_knn_accuracy(emb, k=5, n_queries=50).collect()
    }
    conf = similarity.label_knn_confusion(emb, k=5, n_queries=50).collect()
    # diagonal cells reproduce n_correct; rows sum to n_queries
    diag = {r["true_label"]: r["n"] for r in conf if r["true_label"] == r["pred_label"]}
    rowsum: dict = {}
    for r in conf:
        rowsum[r["true_label"]] = rowsum.get(r["true_label"], 0) + r["n"]
    for lab, a in acc.items():
        assert rowsum[lab] == a["n_queries"]
        assert diag.get(lab, 0) == a["n_correct"]
    # row_share is n / row total
    for r in conf:
        assert r["row_share"] == pytest.approx(
            r["n"] / rowsum[r["true_label"]], abs=1e-6
        )


def test_confusion_hand_golden(spark):
    # 3 queries (ids 0-2), labels A,A,B; far cluster of label B dominates
    # everyone's neighbor list -> predictions all B
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label="A"),
        Row(vec_id=1, embedding=[0.99, 0.01], label="A"),
        Row(vec_id=2, embedding=[0.98, 0.02], label="B"),
    ] + [
        Row(vec_id=10 + i, embedding=[0.97, 0.03], label="B") for i in range(5)
    ]
    emb = spark.createDataFrame(rows)
    out = {
        (r["true_label"], r["pred_label"]): r
        for r in similarity.label_knn_confusion(emb, k=3, n_queries=3).collect()
    }
    assert out[("A", "B")]["n"] == 2
    assert out[("B", "B")]["n"] == 1
    assert out[("A", "B")]["row_share"] == pytest.approx(1.0)

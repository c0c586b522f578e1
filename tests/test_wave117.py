"""Wave 117: alignment/uniformity and kNN label accuracy."""

from __future__ import annotations

from pyspark.sql import Row

from rss_feed_etl_spark.operators import linalg, similarity


def _clustered_embeddings(spark, per_label=8):
    # two tight clusters on (nearly) orthogonal directions, one per label
    rows = []
    for i in range(per_label):
        rows.append(
            Row(vec_id=i, embedding=[10.0, 0.01 * i, 0.0, 0.0], label=0)
        )
        rows.append(
            Row(
                vec_id=per_label + i,
                embedding=[0.0, 0.01 * i, 10.0, 0.0],
                label=1,
            )
        )
    return spark.createDataFrame(rows)


def _collapsed_embeddings(spark, n=16):
    # every vector nearly identical regardless of label: great alignment,
    # terrible uniformity (the collapse failure mode the metric exists for)
    rows = [
        Row(vec_id=i, embedding=[10.0, 0.001 * i, 0.0, 0.0], label=i % 2)
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_alignment_uniformity_separates_collapse(spark):
    good = linalg.alignment_uniformity(_clustered_embeddings(spark)).collect()[0]
    bad = linalg.alignment_uniformity(_collapsed_embeddings(spark)).collect()[0]
    # both spaces align positives tightly...
    assert good["alignment"] < 0.01
    assert bad["alignment"] < 0.01
    # ...but the collapsed space has FAR worse (higher) uniformity
    assert good["uniformity"] < bad["uniformity"] - 0.5
    # collapsed: every pair distance ~0 -> exp(-t*0)=1 -> log(1)=0
    assert abs(bad["uniformity"]) < 1e-3
    assert good["n_align_pairs"] == 8
    assert good["n_unif_pairs"] == 8


def test_alignment_uniformity_pair_counts_with_odd_groups(spark):
    rows = [
        Row(vec_id=i, embedding=[1.0, float(i), 0.0, 0.0], label=0)
        for i in range(5)  # odd group: 2 pairs, one vector unpaired
    ]
    out = linalg.alignment_uniformity(spark.createDataFrame(rows)).collect()[0]
    assert out["n_align_pairs"] == 2
    assert out["n_unif_pairs"] == 2


def test_knn_accuracy_perfect_on_separated_clusters(spark):
    emb = _clustered_embeddings(spark)
    out = {
        r["label"]: r
        for r in similarity.label_knn_accuracy(
            emb, k=3, n_queries=16
        ).collect()
    }
    assert set(out) == {0, 1}
    for r in out.values():
        assert r["accuracy"] == 1.0
        assert r["n_correct"] == r["n_queries"]
    assert sum(r["n_queries"] for r in out.values()) == 16


def test_knn_accuracy_shuffled_labels_fail(spark):
    # same geometry, labels assigned against the clusters: neighbors are
    # geometric, so votes follow geometry and accuracy collapses
    rows = []
    for i in range(8):
        rows.append(Row(vec_id=i, embedding=[10.0, 0.01 * i, 0.0, 0.0],
                        label=i % 2))
        rows.append(Row(vec_id=8 + i, embedding=[0.0, 0.01 * i, 10.0, 0.0],
                        label=(i + 1) % 2))
    emb = spark.createDataFrame(rows)
    out = similarity.label_knn_accuracy(emb, k=3, n_queries=16).collect()
    overall = sum(r["n_correct"] for r in out) / sum(
        r["n_queries"] for r in out
    )
    assert overall < 0.8  # ~chance, far below the clustered case

"""Wave 104: product-quantization ANN (ADC shortlist + exact rerank)."""

from __future__ import annotations

from conftest import SF_DIR, skip_without_testdata
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import similarity, vecmath
from rss_feed_etl_spark.operators.clustering import _prep


def _exact_top10(spark, emb, qid=0):
    prepped = _prep(emb, "vec_id", "embedding")
    q = prepped.filter(F.col("id") == qid).collect()[0]["vec"]
    return {
        r["id"]
        for r in prepped.filter(F.col("id") != qid)
        .select("id", vecmath.sqdist("vec", list(q)).alias("d"))
        .orderBy(F.asc("d"), F.asc("id"))
        .limit(10)
        .collect()
    }


def test_pq_ann_recall_bound_vs_exact(spark):
    """The ADC shortlist must put at least half the true top-10 in front
    of the exact rerank even at a tight candidate budget; a
    corpus-covering budget recovers the exact answer (rerank == exact)."""
    skip_without_testdata("embeddings")
    emb = td.load_table(spark, SF_DIR, "embeddings")
    exact = _exact_top10(spark, emb)
    tight = {
        r["vec_id"]
        for r in similarity.pq_ann_topk(emb, query_id=0, k_top=10, candidates=50).collect()
    }
    assert len(tight & exact) / 10 >= 0.5, f"tight-budget recall {tight & exact}"
    full = {
        r["vec_id"]
        for r in similarity.pq_ann_topk(
            emb, query_id=0, k_top=10, candidates=10_000
        ).collect()
    }
    assert full == exact  # shortlist covers corpus -> rerank IS exact


def test_batched_codebooks_match_per_subspace_loop(spark):
    """The batched trainer (one seed collect + one update collect per
    iteration over the union of subspace slices) must walk the EXACT
    trajectory of the per-subspace seed_rank Lloyd loop — the oracle
    CTEs replay the per-subspace form, so any divergence is a parity
    break."""
    skip_without_testdata("embeddings")
    from rss_feed_etl_spark.operators.clustering import _kmeans_centroids_prepped
    from rss_feed_etl_spark.operators.similarity import (
        _pq_codebooks,
        _pq_training_sample,
    )

    emb = _prep(td.load_table(spark, SF_DIR, "embeddings"), "vec_id", "embedding")
    m, w, k, iters, dec = 4, 16, 16, 2, 6  # two iterations: exercise the loop
    train = _pq_training_sample(emb, 256, "pq-train-v1").localCheckpoint(eager=True)
    old = [
        _kmeans_centroids_prepped(
            train.select("id", F.slice("vec", s * w + 1, w).alias("vec")),
            k, iters, dec, seed_rank=True,
        )
        for s in range(m)
    ]
    new = _pq_codebooks(train, m, w, k, iters, dec)
    assert new == old


def test_pq_ann_output_contract(spark):
    skip_without_testdata("embeddings")
    emb = td.load_table(spark, SF_DIR, "embeddings")
    rows = similarity.pq_ann_topk(emb, query_id=0, k_top=5).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    dists = [r["sqdist"] for r in rows]
    assert dists == sorted(dists)
    assert all(r["vec_id"] != 0 for r in rows)  # query excluded


def test_pq_ann_pretrained_codebooks_bit_identical(spark):
    """The codebooks= injection path (train once, serve many — the
    production FAISS flow; VERDICT r8 #3) must reproduce the
    self-training path bit for bit, since pq_train_codebooks runs the
    identical sample + Lloyd trajectory."""
    emb = td.load_table(spark, SF_DIR, "embeddings")
    books = similarity.pq_train_codebooks(emb)
    cold = similarity.pq_ann_topk(emb, query_id=0, k_top=10).collect()
    warm = similarity.pq_ann_topk(
        emb, query_id=0, k_top=10, codebooks=books
    ).collect()
    assert warm == cold

"""Wave 96: binary sign ANN and shard source entropy."""

from __future__ import annotations

import math

from conftest import SF_DIR
from pyspark.sql import Row
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import layout, similarity


def test_binary_ann_recall_and_invariants(spark):
    emb = td.load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    got = similarity.binary_sign_ann_topk(
        emb, queries, k=5, candidates=100
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
        assert 0 <= r.hamming <= 64
    for q, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    got_set = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact_set & got_set) / len(exact_set)
    # 100 hamming candidates out of 500 vectors: sign bits carry enough
    # signal that the rerank recovers a solid majority of true top-5
    assert recall >= 0.4, f"recall@5 = {recall}"


def test_binary_ann_identical_vectors_hamming_zero(spark):
    vec = [float(i % 5) - 2.0 for i in range(64)]
    rows = [Row(vec_id=i, embedding=vec) for i in range(3)]
    rows.append(Row(vec_id=9, embedding=[-v for v in vec]))
    df = spark.createDataFrame(rows)
    out = similarity.binary_sign_ann_topk(
        df, df.filter("vec_id = 0"), k=3, candidates=4
    ).collect()
    ham = {r.neighbor_id: r.hamming for r in out}
    assert ham[1] == 0 and ham[2] == 0
    # the negated vector flips every strictly-signed bit; zeros stay >= 0
    n_zero_dims = sum(1 for v in vec if v == 0.0)
    assert ham[9] == 64 - n_zero_dims


def test_shard_source_entropy_balanced_mix(spark):
    # 4 sources in contiguous doc_id BLOCKS of 40 identical-weight docs:
    # round-robin dealing (rank = doc_id on equal weights) interleaves the
    # blocks so every shard gets an equal source mix -> entropy = ln(4);
    # a single-source corpus -> entropy 0
    rows = [
        Row(doc_id=i, source=f"s{i // 40}", text="ten words " * 5) for i in range(160)
    ]
    out = layout.shard_source_entropy(
        spark.createDataFrame(rows), n_shards=4
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r.n_docs == 40 and r.n_sources == 4
        assert abs(r.entropy - math.log(4)) < 1e-5
    solo = [Row(doc_id=i, source="only", text="w " * 3) for i in range(20)]
    out2 = layout.shard_source_entropy(spark.createDataFrame(solo), n_shards=4).collect()
    assert all(r.entropy == 0.0 and r.n_sources == 1 for r in out2)

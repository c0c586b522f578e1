"""Wave 108: IVF-PQ composed ANN, packing fragmentation diagnostics,
and byte-exact media dedup."""

from __future__ import annotations

import pytest
from conftest import SF_DIR, plan_text, skip_without_testdata
from pyspark.sql import Row

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import multimodal, packing, similarity


def test_ivfpq_output_contract_and_probe_containment(spark):
    """Ranks are dense, distances ascend, the query is excluded, and
    every result lies in a probed cell (the IVF contract: unprobed cells
    are never scored)."""
    skip_without_testdata("embeddings")
    emb = td.load_table(spark, SF_DIR, "embeddings")
    rows = similarity.ivfpq_ann_topk(emb, query_id=0, k_top=5).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    dists = [r["sqdist"] for r in rows]
    assert dists == sorted(dists)
    assert all(r["vec_id"] != 0 for r in rows)


def test_ivfpq_full_probe_equals_pq(spark):
    """Probing EVERY cell removes the IVF recall loss: the result must
    equal plain PQ with the same codebook-training sample and budget."""
    skip_without_testdata("embeddings")
    emb = td.load_table(spark, SF_DIR, "embeddings")
    ivfpq = similarity.ivfpq_ann_topk(
        emb, query_id=0, k_top=10, candidates=10_000,
        n_centroids=4, nprobe=4, train_salt="pq-train-v1",
    ).collect()
    pq = similarity.pq_ann_topk(
        emb, query_id=0, k_top=10, candidates=10_000,
        train_salt="pq-train-v1",
    ).collect()
    assert [(r["vec_id"], r["sqdist"]) for r in ivfpq] == [
        (r["vec_id"], r["sqdist"]) for r in pq
    ]


def test_ivfpq_missing_query_raises(spark):
    skip_without_testdata("embeddings")
    emb = td.load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="query_id"):
        similarity.ivfpq_ann_topk(emb, query_id=10**9)


def test_ivfpq_plan_is_map_only_into_takeordered(spark):
    """Same pins as pq_ann_topk: centroids + codebooks are literals, so
    the probed-cell ADC scan is map-only into TakeOrdered, rerank joins
    the broadcast shortlist, and nothing cross-joins or sort-merges."""
    skip_without_testdata("embeddings")
    emb = td.load_table(spark, SF_DIR, "embeddings")
    df = similarity.ivfpq_ann_topk(emb, query_id=0, k_top=5)
    s = plan_text(df)
    assert "TakeOrderedAndProject" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_packing_fragmentation_hand_example(spark):
    """4 docs of 300 tokens at seq_len=512: the stream is 1200 tokens =
    3 sequences; straddle/spans are layout-dependent but the exact
    totals and invariants are checkable."""
    df = spark.createDataFrame(
        [Row(doc_id=i, nt=300) for i in range(4)] + [Row(doc_id=99, nt=0)]
    )
    out = packing.packing_fragmentation(df, "nt", seq_len=512).collect()[0]
    assert out["n_docs"] == 5
    assert out["total_tokens"] == 1200
    assert out["n_seqs"] == 3  # ceil(1200/512)
    # 4 docs of 300 in 512-slots: at most one doc fits per boundary, so
    # at least one straddles; zero-token doc never counts
    assert 1 <= out["straddled_docs"] <= 3
    assert out["straddle_rate"] == round(out["straddled_docs"] / 4, 6)
    assert out["mean_spans"] >= 1.0


def test_media_exact_dedup_drops_planted_copies(spark):
    media = spark.createDataFrame(
        [
            Row(media_id=1, content=b"aaa"),
            Row(media_id=2, content=b"bbb"),
            Row(media_id=11, content=b"aaa"),  # dup of 1
            Row(media_id=12, content=b"aaa"),  # dup of 1
            Row(media_id=13, content=b"bbb"),  # dup of 2
        ]
    )
    out = {
        r["media_id"]: r["canonical_id"]
        for r in multimodal.media_exact_dedup(media).collect()
    }
    assert out == {11: 1, 12: 1, 13: 2}

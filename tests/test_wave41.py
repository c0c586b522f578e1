"""Wave 41: bloom-filter join pruning, prefix-clone pairs, multi-query
BM25 + ranking metrics."""

from __future__ import annotations

import math

from conftest import docs_frame
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import dedup, joins, retrieval


# --- bloom_prune_join -------------------------------------------------------


def test_bloom_join_matches_plain_join(spark):
    fact = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    dim = spark.range(0, 5000, 50).select(
        F.col("id").alias("dk"), (F.col("id") * 2).alias("dv")
    )
    out = joins.bloom_prune_join(fact, dim, fact_key="k", dim_key="dk")
    got = sorted((r["k"], r["dv"]) for r in out.collect())
    want = sorted(
        (r["k"], r["dv"])
        for r in fact.join(dim, fact.k == dim.dk).collect()
    )
    assert got == want  # bloom false positives cleared by the exact join


def test_bloom_build_sets_expected_bits(spark):
    keys = spark.range(100).select(F.col("id").alias("k"))
    bf = joins.bloom_build(keys, "k", num_bits=1 << 16, num_hashes=3).collect()[0]
    assert len(bf["__bloom"]) == (1 << 16) // 64
    popcount = sum(bin(w & (2**64 - 1)).count("1") for w in bf["__bloom"])
    # ≤ k*n bits set, and at least half that (collisions only reduce it)
    assert 150 <= popcount <= 300


def test_bloom_membership_no_false_negatives(spark):
    keys = spark.range(0, 2000, 7).select(F.col("id").alias("k"))
    bf = joins.bloom_build(keys, "k", num_bits=1 << 18)
    probe = spark.range(2000).select(F.col("id").alias("k")).join(F.broadcast(bf))
    hits = probe.filter(joins.bloom_might_contain("k", m=1 << 18)).select("k")
    got = {r["k"] for r in hits.collect()}
    member = set(range(0, 2000, 7))
    assert member <= got  # a bloom can over-approximate, never miss


def test_bloom_membership_negative_word_bit_zero(spark):
    # regression: with a saturated bitmap every word has bit 63 set (the
    # long is negative) and bit 0 set; a probe landing on bit position 0
    # must still test true — `shiftrightunsigned(w, 0) % 2` returned -1
    # there and silently produced false negatives
    # 30k keys × 3 hashes over 4096 bits: P(any bit unset) < 1e-6, so the
    # bitmap is saturated — every word is -1 (bit 63 set) with certainty
    keys = spark.range(30000).select(F.col("id").alias("k"))
    bf = joins.bloom_build(keys, "k", num_bits=1 << 12, num_hashes=3)
    words = bf.collect()[0]["__bloom"]
    assert all(w == -1 for w in words)  # fully saturated: all bits set
    probe = keys.join(F.broadcast(bf))
    n_hit = probe.filter(
        joins.bloom_might_contain("k", m=1 << 12)
    ).count()
    assert n_hit == 30000  # every probe true on a saturated filter


def test_bloom_non_multiple_of_64_bits_keeps_final_word(spark):
    # regression: range(m // 64) dropped the final partial word for
    # num_bits % 64 != 0, so a probe whose bit lands there read past the
    # array end — ANSI runtime error, or NULL (a silent false negative)
    m = 100  # words 0..1 needed; old code densified only word 0
    keys = spark.range(500).select(F.col("id").alias("k"))
    bf = joins.bloom_build(keys, "k", num_bits=m, num_hashes=3)
    assert len(bf.collect()[0]["__bloom"]) == 2
    probe = keys.join(F.broadcast(bf))
    n_hit = probe.filter(joins.bloom_might_contain("k", m=m)).count()
    assert n_hit == 500  # no false negative, no out-of-bounds probe


def test_bloom_prune_filter_runs_before_join_exchange(spark):
    fact = spark.range(10000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    dim = spark.range(0, 10000, 100).select(F.col("id").alias("dk"))
    plan = joins.bloom_prune_join(
        fact, dim, fact_key="k", dim_key="dk"
    )._jdf.queryExecution().executedPlan().toString()
    # the membership filter must appear in the plan (pre-join prune), and
    # the bitmap must arrive via a broadcast, not a shuffle
    assert "shiftrightunsigned" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# --- prefix_clone_pairs -----------------------------------------------------


def test_prefix_clones_found(spark):
    head = "a b c d e f g h i j"
    df = docs_frame(
        spark,
        [
            (1, head + " unique tail one"),
            (2, head + " another different ending"),
            (3, "totally different text with enough tokens here to pass"),
            (4, "short doc"),  # < k tokens: excluded
        ],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.prefix_clone_pairs(
        df, k=10
    ).collect()}
    assert pairs == {(1, 2)}


def test_prefix_clones_max_bucket_guard(spark):
    head = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    df = docs_frame(spark, [(i, f"{head} tail{i}") for i in range(30)])
    capped = dedup.prefix_clone_pairs(df, k=10, max_bucket=10).count()
    full = dedup.prefix_clone_pairs(df, k=10, max_bucket=None).count()
    assert capped == 0  # hot head dropped by the guard
    assert full == 30 * 29 // 2


# --- bm25_multi_topk / rank_metrics ----------------------------------------


def test_bm25_multi_matches_single_query(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark window merge spark"),
            (2, "vector window batch"),
            (3, "spark batch batch merge"),
            (4, "nothing relevant here"),
        ],
        "doc_id bigint, text string",
    )
    multi = retrieval.bm25_multi_topk(
        docs, {"q0": ["spark", "merge"]}, topk=10
    ).collect()
    single = retrieval.bm25_topk(docs, ["spark", "merge"], topk=10).collect()
    got = {(r["doc_id"], r["score"]) for r in multi}
    want = {(r["doc_id"], r["score"]) for r in single}
    assert got == want


def test_rank_metrics_hand_computed(spark):
    # one query, 3 ranked docs with rel (3, 0, 2) at ranks 1..3
    ranked = spark.createDataFrame(
        [("q", 10, 1, 1.0, 3), ("q", 11, 2, 0.9, 0), ("q", 12, 3, 0.8, 2)],
        "query_id string, doc_id bigint, rnk int, score double, rel int",
    )
    r = retrieval.rank_metrics(ranked).collect()[0]
    dcg = 7 / math.log2(2) + 0 + 3 / math.log2(4)
    idcg = 7 / math.log2(2) + 3 / math.log2(3) + 0
    assert math.isclose(r["ndcg"], round(dcg / idcg, 6), abs_tol=1e-6)
    assert r["mrr"] == 1.0  # rel>=2 at rank 1
    assert r["n_ranked"] == 3


def test_rank_metrics_no_relevant_docs(spark):
    ranked = spark.createDataFrame(
        [("q", 1, 1, 1.0, 0), ("q", 2, 2, 0.5, 0)],
        "query_id string, doc_id bigint, rnk int, score double, rel int",
    )
    r = retrieval.rank_metrics(ranked).collect()[0]
    assert r["mrr"] == 0.0
    assert r["ndcg"] == 0.0  # zero gain everywhere -> idcg = 0 -> defined 0

"""Wave-23 operators: semantic dedup cells, canonical survivor per
component, and blocked edit-distance matching — structural invariants plus
agreement with hand-computable fixtures."""

from conftest import SF_DIR
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import dedup, fuzzy, similarity


def test_semantic_dedup_finds_planted_neardups(spark):
    emb = td.load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    # plant exact duplicates: id+1000000 is a copy -> cosine 1.0, same cell
    dup = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), F.col("embedding")
    )
    pairs = similarity.semantic_dedup_pairs(
        emb.unionByName(dup), k=4, threshold=0.999
    ).collect()
    n_base = emb.count()
    found = {(r.id_a, r.id_b) for r in pairs}
    planted = {(i, i + 1_000_000) for i in range(n_base)}
    # an exact copy always lands in the same argmax cell, so recall is 1.0
    assert planted <= found
    for r in pairs:
        assert r.id_a < r.id_b
        assert r.cosine_sim >= 0.999


def test_semantic_dedup_max_cell_guard(spark):
    emb = td.load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    dup = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), F.col("embedding")
    )
    # every cell exceeds a tiny cap -> guarded output is empty, plan completes
    out = similarity.semantic_dedup_pairs(
        emb.unionByName(dup), k=2, threshold=0.999, max_cell=3
    )
    assert out.count() == 0


def test_canonical_per_component_picks_best_quality(spark):
    comps = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (7, 7), (9, 7)], ["id", "component_id"]
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5), (9, 99), (42, 1000)], ["id", "len"]
    )
    rows = {
        r.component_id: r
        for r in dedup.canonical_per_component(
            comps, docs, id_col="id", score_col="len"
        ).collect()
    }
    assert set(rows) == {100, 7}  # doc 42 is in no component
    # ties on score break toward the smallest id
    assert rows[100].canonical_id == 2 and rows[100].n_members == 3
    assert rows[100].best_score == 50
    assert rows[7].canonical_id == 9 and rows[7].best_score == 99


def test_levenshtein_blocked_pairs_fixture(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha", "a"),
            (2, "alphb", "a"),   # dist 1 to alpha
            (3, "alZZa", "a"),   # dist 2 to alpha
            (4, "alpha", "b"),   # identical text, different block -> no pair
        ],
        ["id", "nm", "blk"],
    )
    out = fuzzy.levenshtein_blocked_pairs(
        df, block=F.col("blk"), id_col="id", text_col="nm", max_dist=1
    ).collect()
    assert {(r.id_a, r.id_b, r.dist) for r in out} == {(1, 2, 1)}


def test_levenshtein_blocked_pairs_customers(spark):
    cust = td.load_table(spark, SF_DIR, "customer")
    out = fuzzy.levenshtein_blocked_pairs(
        cust,
        block=F.substring("c_name", 1, 16),
        id_col="c_custkey",
        text_col="c_name",
        max_dist=1,
    )
    rows = out.collect()
    assert len(rows) > 0
    # dist-1 on zero-padded sequential names means exactly one of the last
    # two digits differs -> key difference is < 100 and never 0
    for r in rows[:200]:
        assert r.id_a < r.id_b
        d = r.id_b - r.id_a
        assert 0 < d < 100 and (d % 10 == 0 or d < 10)

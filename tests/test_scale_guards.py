"""Scale guards on the near-dup operators: the registered defaults must
(a) leave results unchanged on a normal corpus and (b) keep degenerate
corpora — the 100 TB failure mode — from generating quadratic pair lists."""

from conftest import SF_DIR
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import dedup, similarity


def _identical_corpus(spark, n=500):
    return spark.range(n).select(
        F.col("id"),
        F.lit("the same boilerplate text repeated in every single document here").alias(
            "text"
        ),
    )


def test_minhash_max_bucket_drops_degenerate_bucket(spark):
    corpus = _identical_corpus(spark)
    # identical docs → one bucket per band, size 500 > cap → dropped
    pairs = dedup.minhash_lsh_pairs(
        corpus, id_col="id", text_col="text", max_bucket=100
    )
    assert pairs.count() == 0
    # unguarded exact form on the same corpus: quadratic but correct
    exact = dedup.minhash_lsh_pairs(
        corpus.limit(50), id_col="id", text_col="text", max_bucket=None
    )
    assert exact.count() == 50 * 49 // 2


def test_minhash_default_guard_preserves_normal_results(spark):
    docs = td.load_table(spark, SF_DIR, "documents").limit(100)
    aug = docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.select((F.col("doc_id") + 10000).alias("id"), "text")
    )
    with_guard = dedup.minhash_lsh_pairs(aug, id_col="id", text_col="text", threshold=0.25)
    no_guard = dedup.minhash_lsh_pairs(
        aug, id_col="id", text_col="text", threshold=0.25, max_bucket=None
    )
    assert sorted(map(tuple, with_guard.collect())) == sorted(
        map(tuple, no_guard.collect())
    )


def test_ngram_max_df_drops_boilerplate_shingles(spark):
    corpus = _identical_corpus(spark, n=300)
    # every shingle appears in 300 docs > max_df → reduced sets are empty
    pairs = dedup.ngram_jaccard_pairs(
        corpus, id_col="id", text_col="text", max_df=100
    )
    assert pairs.count() == 0


def test_ngram_default_guard_preserves_normal_results(spark):
    docs = td.load_table(spark, SF_DIR, "documents").limit(100)
    aug = docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.select((F.col("doc_id") + 10000).alias("id"), "text")
    )
    with_guard = dedup.ngram_jaccard_pairs(aug, id_col="id", text_col="text")
    no_guard = dedup.ngram_jaccard_pairs(aug, id_col="id", text_col="text", max_df=None)
    assert sorted(map(tuple, with_guard.collect())) == sorted(
        map(tuple, no_guard.collect())
    )


def test_embedding_lsh_matches_exact_on_neardup_corpus(spark):
    emb = td.load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(200)
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(1), F.lit(64)),
            lambda v, i: v + (F.lit(0.01) * (((i * 7) % 5) - 2)).cast("float"),
        ).alias("embedding"),
    )
    aug = emb.unionByName(pert)
    exact = similarity.embedding_neardup_pairs(aug, threshold=0.99)
    lsh = similarity.embedding_neardup_pairs_lsh(aug, threshold=0.99)
    exact_rows = set(map(tuple, exact.collect()))
    lsh_rows = set(map(tuple, lsh.collect()))
    # LSH may only MISS candidates, never invent them
    assert lsh_rows <= exact_rows
    # banded 6×8 recall at cosine≥0.99 is ~99.9%: allow at most 1 miss in 200
    assert len(lsh_rows) >= len(exact_rows) - 1


def test_embedding_lsh_max_bucket_guard(spark):
    # identical vectors → every band bucket holds all rows → guard drops them
    base = td.load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") == 0)
    clones = (
        spark.range(300)
        .crossJoin(base.select("embedding"))
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    guarded = similarity.embedding_neardup_pairs_lsh(
        clones, threshold=0.99, max_bucket=50
    )
    assert guarded.count() == 0

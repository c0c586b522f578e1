"""Round-9 ADVICE regression tests: filtered_ann_recall's achievable-set
denominator, the textstats persisted-frame release pool (MI count table,
DSIR stream, curation corpus), the query_clarity_score degenerate-corpus
shape (one row, both engines), and the KMV kth-hash == 0 guard.
"""

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import rss_feed_etl_spark.functions.hashing as hashing
from rss_feed_etl_spark.operators import textstats
from rss_feed_etl_spark.operators.retrieval import query_clarity_score
from rss_feed_etl_spark.operators.sampling import dsir_importance_weights
from rss_feed_etl_spark.operators.similarity import filtered_ann_recall
from rss_feed_etl_spark.operators.sketches import kmv_distinct_estimate
from rss_feed_etl_spark.plans.curation_pipeline import curation_pipeline


def _emb(label, *vals):
    return [float(v) for v in vals], label


def test_filtered_ann_recall_sparse_label_reaches_one(spark):
    # query 0 has label 'rare' with only TWO same-label neighbors (ids 5, 6)
    # in the corpus; both sit in the unfiltered top-prefetch, so the
    # post-filter path recovers the ENTIRE achievable exact set.  With the
    # old fixed-k denominator (k=5) recall could never exceed 2/5.
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label="rare"),
        Row(vec_id=5, embedding=[0.9, 0.1], label="rare"),
        Row(vec_id=6, embedding=[0.8, 0.2], label="rare"),
    ] + [
        Row(vec_id=10 + i, embedding=[0.5, 0.5], label="common") for i in range(8)
    ]
    emb = spark.createDataFrame(rows)
    out = {
        r["query_id"]: r
        for r in filtered_ann_recall(emb, n_queries=1, k=5, prefetch=10).collect()
    }
    assert set(out) == {0}
    assert out[0]["n_exact"] == 2
    assert out[0]["n_postfilter"] == 2
    assert out[0]["recall_at_k"] == pytest.approx(1.0)


def test_textstats_release_persisted_pool(spark):
    docs = spark.createDataFrame(
        [
            Row(source="a", text="alpha beta gamma delta epsilon"),
            Row(source="b", text="zeta eta theta iota kappa"),
            Row(source="a", text="alpha beta gamma lambda mu"),
        ]
    )
    res = textstats.source_token_mutual_info(docs)
    first = res.collect()
    # the MI count table registered itself for release
    assert textstats.release_persisted() >= 1
    # pool is drained — a second release is a no-op
    assert textstats.release_persisted() == 0
    # the returned frame stays valid after release (lineage recompute)
    assert res.collect() == first


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_dsir_stream_joins_release_pool(spark):
    textstats.release_persisted()
    start = _persistent_rdd_ids(spark)
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, lang="en" if i % 2 else "xx", text=f"alpha beta gamma w{i % 5} delta")
            for i in range(20)
        ]
    )
    res = dsir_importance_weights(docs, target=F.col("lang") == "en")
    first = sorted(res.collect())
    # the hashed (id, tgt, b) stream is cached while the result is built ...
    assert _persistent_rdd_ids(spark) - start
    # ... and registered, so a release frees it
    assert textstats.release_persisted() == 1
    assert not _persistent_rdd_ids(spark) - start
    assert sorted(res.collect()) == first


def test_curation_corpus_joins_release_pool(spark):
    textstats.release_persisted()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    words = ["river", "stone", "market", "garden", "window", "silver", "harbor", "letter"]
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, source=f"s{i % 2}",
                text=" ".join(words[(i + j) % 8] + str(j % (3 + i)) for j in range(60)))
            for i in range(12)
        ]
    )
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + j) % 5) for j in range(64)]) for i in range(12)]
    )
    card = curation_pipeline(docs, emb, min_stopwords=0)
    first = sorted(card.collect())
    assert not cache.isEmpty()  # the (id, text, source) projection
    assert textstats.release_persisted() >= 1
    assert cache.isEmpty()
    assert sorted(card.collect()) == first


def test_query_clarity_degenerate_corpus_one_row_both_engines(spark):
    # every doc is shorter than 3 tokens -> zero trigrams anywhere; the
    # Spark global agg returns ONE all-null row (plus the n_fb_docs
    # literal) and the reworked oracle (global aggregate, no GROUP BY)
    # must produce the identical single row.
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="spark"), Row(doc_id=1, text="vector ok")]
    )
    out = query_clarity_score(docs, ["spark", "vector"], fb_docs=10).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_fb_docs"] == 10
    assert r["fb_types"] is None
    assert r["fb_tokens"] is None
    assert r["clarity_nats"] is None
    # the oracle's final-select shape on an empty term set: one row too
    con = duckdb.connect()
    orow = con.execute(
        """
        WITH terms AS (SELECT 1.0 AS term, 1 AS fb_types, 1 AS fb_tokens
                       WHERE false)
        SELECT CAST(10 AS BIGINT) AS n_fb_docs,
               CAST(max(fb_types) AS BIGINT) AS fb_types,
               CAST(max(fb_tokens) AS BIGINT) AS fb_tokens,
               round(CAST(sum(CAST(term AS DECIMAL(30,10))) AS DOUBLE), 6)
                 AS clarity_nats
        FROM terms
        """
    ).fetchall()
    assert orow == [(10, None, None, None)]
    con.close()


def test_kmv_kth_hash_zero_guard(spark, monkeypatch):
    # force every key's hash to 0: with k=1 each group's kth-minimum hash
    # IS 0 and the estimate must be NULL (guarded), never a div-by-zero
    # artifact.  nd == 1 == k, so the small-cardinality exact mode does
    # not mask the edge.
    monkeypatch.setattr(
        hashing, "md5_bucket", lambda c: F.lit(0).cast("long")
    )
    ev = spark.createDataFrame(
        [Row(event_type="x", user_id=i) for i in range(5)]
        + [Row(event_type="y", user_id=i) for i in range(3)]
    )
    out = {
        r["scope"]: r
        for r in kmv_distinct_estimate(
            ev, key_col="user_id", group_col="event_type", k=1
        ).collect()
    }
    assert set(out) == {"x", "y", "__union__"}
    for r in out.values():
        assert r["exact_distinct"] == 1  # all hashes collapsed
        assert r["kmv_estimate"] is None
        assert r["rel_err"] is None
    # and DuckDB's CASE WHEN renders the same NULL for the hk=0 edge
    con = duckdb.connect()
    assert con.execute(
        "SELECT CASE WHEN 5 < 1 THEN 5.0 WHEN 0 > 0 THEN 1.0/0 END"
    ).fetchone() == (None,)
    con.close()


def test_kmv_normal_path_unchanged(spark):
    # sanity: with the real hash and k below the distinct count, the
    # estimation path still yields a finite non-null estimate
    ev = spark.createDataFrame(
        [Row(event_type="x", user_id=i) for i in range(40)]
    )
    out = {
        r["scope"]: r
        for r in kmv_distinct_estimate(
            ev, key_col="user_id", group_col="event_type", k=4
        ).collect()
    }
    assert out["x"]["exact_distinct"] == 40
    assert out["x"]["kmv_estimate"] is not None and out["x"]["kmv_estimate"] > 0

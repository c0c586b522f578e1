"""Wave-9 operators: inverted index, BM25, gap-fill LOCF, weighted
priority sampling, and train/holdout decontamination."""

import datetime

from pyspark.sql import Row

from rss_feed_etl_spark.operators import retrieval, sampling, timeseries


def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="spark engine spark shuffle join"),
            Row(doc_id=2, text="join order and join keys"),
            Row(doc_id=3, text="vector search with spark"),
            Row(doc_id=4, text="nothing relevant here"),
        ]
    )


def test_inverted_index_df_and_truncation(spark):
    out = retrieval.inverted_index(
        _docs(spark), min_df=2, max_postings=2
    ).collect()
    by_term = {r["term"]: r for r in out}
    # 'spark' is in docs 1 and 3; 'join' in 1 and 2; df counts DISTINCT docs
    assert by_term["spark"]["dfreq"] == 2
    assert by_term["spark"]["postings"] == "1,3"
    assert by_term["join"]["dfreq"] == 2
    # hapax terms dropped by min_df
    assert "vector" not in by_term
    # truncation: lower max_postings than df still keeps exact dfreq
    wide = retrieval.inverted_index(_docs(spark), min_df=1, max_postings=1)
    row = {r["term"]: r for r in wide.collect()}["join"]
    assert row["dfreq"] == 2 and row["postings"] == "1"


def test_bm25_ranks_matches_and_drops_nonmatches(spark):
    out = retrieval.bm25_topk(_docs(spark), ["spark", "join"], topk=10).collect()
    ids = [r["doc_id"] for r in out]
    # doc 4 has no query term — excluded entirely
    assert 4 not in ids
    # doc 1 contains both terms with repeats → must rank first
    assert ids[0] == 1
    assert all(out[i]["score"] >= out[i + 1]["score"] for i in range(len(out) - 1))


def test_gapfill_locf_fills_gaps_per_key(spark):
    d = datetime.date
    daily = spark.createDataFrame(
        [
            Row(event_type="a", day=d(2024, 1, 1), total=10.0),
            Row(event_type="a", day=d(2024, 1, 4), total=40.0),
            Row(event_type="b", day=d(2024, 1, 2), total=20.0),
        ]
    )
    out = timeseries.gapfill_locf(daily).orderBy("event_type", "day").collect()
    a = [r for r in out if r["event_type"] == "a"]
    # dense spine over a's own [min, max]
    assert [r["day"] for r in a] == [d(2024, 1, 1), d(2024, 1, 2), d(2024, 1, 3), d(2024, 1, 4)]
    assert [r["filled_total"] for r in a] == [10.0, 10.0, 10.0, 40.0]
    assert [r["is_gap"] for r in a] == [False, True, True, False]
    # key b contributes exactly its own single day — no cross-key spine
    b = [r for r in out if r["event_type"] == "b"]
    assert len(b) == 1 and not b[0]["is_gap"]


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    rows = [Row(doc_id=i, w=(1000 if i % 10 == 0 else 1)) for i in range(1000)]
    df = spark.createDataFrame(rows)
    s1 = sampling.weighted_priority_sample(df, k=100, weight_col="w")
    s2 = sampling.weighted_priority_sample(df, k=100, weight_col="w")
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    assert ids1 == sorted(r["doc_id"] for r in s2.collect())
    # the 10% of keys with 1000× weight must dominate the sample
    heavy = sum(1 for i in ids1 if i % 10 == 0)
    assert heavy > 80


def test_decontamination_finds_planted_overlap(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            Row(id=1, split="train", text=shared + " trailing words here"),
            Row(id=2, split="test", text=shared + " other suffix tokens"),
            Row(id=3, split="train", text="completely unrelated content words only"),
            Row(id=4, split="test", text="more disjoint vocabulary again entirely"),
        ]
    )
    out = sampling.cross_split_contamination(docs, min_shared=3)
    rows = out.collect()
    assert [(r["train_id"], r["holdout_id"]) for r in rows] == [(1, 2)]
    # 8 shared leading tokens → 6 shared 3-gram shingles
    assert rows[0]["shared_shingles"] == 6
    # broadcast plan is result-identical
    bc = sampling.cross_split_contamination(
        docs, min_shared=3, broadcast_holdout=True
    )
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, rows))


def test_bm25_plan_broadcasts_stats(spark):
    plan = retrieval.bm25_topk(_docs(spark), ["spark"], topk=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_top_bigrams_counts_adjacent_only(spark):
    from pyspark.sql import Row
    from rss_feed_etl_spark.operators import textstats

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b c"), Row(doc_id=2, text="a b")]
    )
    out = {(r["term_a"], r["term_b"]): r["n"] for r in textstats.top_bigrams(df, top=10).collect()}
    # 'a b' occurs 3 times (twice in doc1, once in doc2); 'a c' never (not adjacent)
    assert out[("a", "b")] == 3
    assert out[("b", "a")] == 1 and out[("b", "c")] == 1
    assert ("a", "c") not in out

"""Wave 148: cross-encoder reranker — hand-computed goldens on a tiny
frame, the injectable-scorer hook, and the candidate-only plan shape."""

from conftest import plan_text
from pyspark.sql import Row

from rss_feed_etl_spark.operators import retrieval


def _docs(spark):
    rows = [
        # doc 1: both query terms, early, plus the bigram "hash join"
        Row(doc_id=1, text="hash join hash join fast"),
        # doc 2: both terms but late and never adjacent
        Row(doc_id=2, text="slow scan slow hash slow join"),
        # doc 3: one term only
        Row(doc_id=3, text="merge sort merge join merge"),
        # doc 4: no query terms (must not be a candidate)
        Row(doc_id=4, text="vector window batch"),
    ]
    return spark.createDataFrame(rows)


def test_rerank_golden_scores(spark):
    out = retrieval.cross_encoder_rerank(
        _docs(spark), {"q": ["hash", "join"]}, k_first=4, k_final=4
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert 4 not in by_id  # never a candidate
    # doc 1: cov 2/2, bigrams {hash join} matched -> 1, first pos 1
    assert by_id[1]["ce_score"] == round(0.6 * 1.0 + 0.25 * 1.0 + 0.15 * 1.0, 6)
    # doc 2: cov 1.0, bigram 0, first q-term position 4
    assert by_id[2]["ce_score"] == round(0.6 * 1.0 + 0.25 * 0.0 + 0.15 / 4, 6)
    # doc 3: cov 1/2, bigram 0, first pos 4 ("join")
    assert by_id[3]["ce_score"] == round(0.6 * 0.5 + 0.25 * 0.0 + 0.15 / 4, 6)
    # final order: ce_score desc
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert ranks[1] == 1 and ranks[2] == 2 and ranks[3] == 3


def test_rerank_single_term_query_bigram_zero(spark):
    out = retrieval.cross_encoder_rerank(
        _docs(spark), {"q1": ["merge"]}, k_first=4, k_final=4
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # doc 3 starts with "merge": cov 1, bigram branch 0, earliness 1
    assert by_id[3]["ce_score"] == round(0.6 + 0.15, 6)


def test_rerank_injectable_scorer(spark):
    """A custom scorer (the real-model drop-in point) flows through the
    Arrow pass; here: negated bm25 rank so the order flips."""
    import numpy as np

    def reverse_scorer(qterms, dtexts):
        return np.array([-len((t or "").split()) for t in dtexts], dtype=float)

    out = retrieval.cross_encoder_rerank(
        _docs(spark), {"q": ["hash", "join"]}, k_first=4, k_final=1,
        scorer=reverse_scorer,
    ).collect()
    # shortest candidate text wins under the custom scorer
    assert out[0]["doc_id"] == 1  # 5 tokens vs 6 and 5... tie -> bm25/doc order


def test_rerank_k_final_truncates(spark):
    out = retrieval.cross_encoder_rerank(
        _docs(spark), {"q": ["hash", "join"]}, k_first=4, k_final=2
    ).collect()
    assert sorted(r["rank"] for r in out) == [1, 2]


def test_rerank_plan_candidate_only(spark):
    """The Arrow scoring pass must consume a BROADCAST candidate join —
    the corpus is scanned, never exchanged, before the mapInPandas."""
    import re

    df = retrieval.cross_encoder_rerank(
        _docs(spark), {"q": ["hash", "join"]}, k_first=4, k_final=2
    )
    s = plan_text(df)
    assert len(re.findall(r"^\(\d+\) MapInPandas", s, re.M)) == 1
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s

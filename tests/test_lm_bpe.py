"""Wave-24 LM tooling: bigram stupid-backoff perplexity against a
hand-computed fixture, and BPE merge-candidate mining invariants."""

import math

from conftest import SF_DIR
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import textstats


def test_bigram_logppl_hand_fixture(spark):
    model = spark.createDataFrame([(0, "a b a c")], ["doc_id", "text"])
    score = spark.createDataFrame([(1, "a b x")], ["doc_id", "text"])
    # model: C2={(a,b):1,(b,a):1,(a,c):1}, C1={a:2,b:1,c:1}, total=4, V=3
    # doc bigrams: (a,b) seen -> p=1/2 ; (b,x) unseen -> 0.4*(0+1)/(4+3)
    rows = textstats.bigram_logppl(score, model=model).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_bigrams == 2
    expect = round(
        (round(-math.log(0.5), 9) + round(-math.log(0.4 / 7.0), 9)) / 2, 6
    )
    assert abs(r.logppl - expect) < 1e-9


def test_bigram_logppl_self_trained_no_backoff(spark):
    docs = td.load_table(spark, SF_DIR, "documents")
    out = textstats.bigram_logppl(docs)
    # self-trained: every doc bigram is in the model, so every nll is
    # -ln(p) with p <= 1 -> logppl >= 0; docs with >= 2 tokens all present
    n_multi = docs.filter(
        F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 2
    ).count()
    rows = out.collect()
    assert len(rows) == n_multi
    assert all(r.logppl >= 0 for r in rows)


def test_bpe_merge_candidates_fixture(spark):
    df = spark.createDataFrame([("aa aa ab",)], ["text"])
    rows = textstats.bpe_merge_candidates(df, top=10).collect()
    assert [(r.sym_a, r.sym_b, r.freq) for r in rows] == [("a", "a", 2), ("a", "b", 1)]


def test_bpe_merge_candidates_corpus_deterministic(spark):
    docs = td.load_table(spark, SF_DIR, "documents")
    a = textstats.bpe_merge_candidates(docs, top=20).collect()
    b = textstats.bpe_merge_candidates(docs, top=20).collect()
    assert a == b
    assert len(a) == 20
    freqs = [r.freq for r in a]
    assert freqs == sorted(freqs, reverse=True)

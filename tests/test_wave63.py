"""Wave 63: token-length histogram and langid confusion matrix."""

from __future__ import annotations

def test_token_length_histogram_buckets(spark):
    from rss_feed_etl_spark import driver_queries as dq
    import rss_feed_etl_spark.testdata as td

    # drive through the registered query at the smallest SF: buckets are
    # multiples of 50 and doc counts sum to the corpus size
    out = dq.QUERIES["token_length_histogram"](spark, "/root/testdata/sf0.001").collect()
    assert all(r["len_bucket"] % 50 == 0 for r in out)
    n_docs = td.load_table(spark, "/root/testdata/sf0.001", "documents").count()
    assert sum(r["n_docs"] for r in out) == n_docs


def test_langid_confusion_diagonal_dominates(spark):
    from rss_feed_etl_spark import driver_queries as dq

    rows = dq.QUERIES["langid_confusion"](spark, "/root/testdata/sf0.001").collect()
    n = {(r["true_lang"], r["pred_lang"]): r["n_docs"] for r in rows}
    # the corpus is majority-en with en-like text: en→en must dominate
    # every en misclassification
    en_correct = n.get(("en", "en"), 0)
    en_wrong = sum(v for (t, p), v in n.items() if t == "en" and p != "en")
    assert en_correct > en_wrong

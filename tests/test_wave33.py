"""Wave-33: ANN recall@k, Cohen's kappa, unicode normalization."""

from rss_feed_etl_spark.functions.text import normalize_unicode
from rss_feed_etl_spark.operators import clustering, similarity


def test_topk_recall_counts_hits(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    out = {r["query_id"]: r for r in similarity.topk_recall(exact, approx, k=2).collect()}
    assert out[1]["n_hits"] == 1 and out[1]["recall"] == 0.5
    assert out[2]["n_hits"] == 2 and out[2]["recall"] == 1.0


def test_cohens_kappa_known_matrix(spark):
    # classic worked example: po=0.7, pe=0.5 -> kappa=0.4
    conf = spark.createDataFrame(
        [("y", "y", 20), ("y", "n", 5), ("n", "y", 10), ("n", "n", 15)],
        "true_label string, predicted_label string, n long",
    )
    r = clustering.cohens_kappa(conf).collect()[0]
    assert r["n_items"] == 50
    assert r["po"] == 0.7
    assert r["pe"] == 0.5
    assert r["kappa"] == 0.4


def test_cohens_kappa_perfect_agreement(spark):
    conf = spark.createDataFrame(
        [("a", "a", 30), ("b", "b", 10)],
        "true_label string, predicted_label string, n long",
    )
    assert clustering.cohens_kappa(conf).collect()[0]["kappa"] == 1.0


def test_normalize_unicode_rules(spark):
    df = spark.createDataFrame(
        [("“quote” — dash… a b \x07bell   ws",)],
        "text string",
    )
    got = df.select(normalize_unicode("text").alias("n")).collect()[0]["n"]
    assert got == '"quote" - dash... a b bell ws'


def test_normalize_unicode_ascii_fixed_point(spark):
    df = spark.createDataFrame([("plain ascii text",)], "text string")
    got = df.select(normalize_unicode("text").alias("n")).collect()[0]["n"]
    assert got == "plain ascii text"

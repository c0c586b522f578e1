"""Wave 55: containment dedup and per-source KL divergence."""

from __future__ import annotations

from conftest import docs_frame

from rss_feed_etl_spark.operators import dedup, textstats


def test_containment_catches_excerpt_jaccard_misses(spark):
    body = " ".join(f"w{i}" for i in range(200))
    excerpt = " ".join(f"w{i}" for i in range(40, 60))  # 20 tokens of body
    df = docs_frame(spark, [(1, body), (2, excerpt)])
    cont = {(r["src"], r["dst"]): r["containment"]
            for r in dedup.ngram_containment_pairs(df, threshold=0.8).collect()}
    # the excerpt is ~fully contained in the body...
    assert cont[(2, 1)] >= 0.9
    # ...but not vice versa
    assert (1, 2) not in cont
    # and symmetric jaccard at the same bar sees nothing
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.5).count()
    assert jac == 0


def test_containment_direction_and_threshold(spark):
    a = " ".join(f"t{i}" for i in range(30))
    df = docs_frame(spark, [(1, a), (2, a)])  # identical docs: both directions
    cont = {(r["src"], r["dst"]) for r in dedup.ngram_containment_pairs(
        df, threshold=0.99
    ).collect()}
    assert cont == {(1, 2), (2, 1)}


def test_source_kl_flags_divergent_source(spark):
    rows = []
    i = 0
    common = "alpha beta gamma delta epsilon"
    for _ in range(30):
        i += 1
        rows.append((i, "normal_a", common))
        i += 1
        rows.append((i, "normal_b", common))
        i += 1
        rows.append((i, "weird", "zzz qqq xxx vvv kkk"))
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {r["source"]: r["kl_bits_nat"] for r in textstats.source_kl_divergence(
        df, vocab_size=50
    ).collect()}
    assert out["weird"] > out["normal_a"] * 2
    assert out["weird"] > 0.1
    assert abs(out["normal_a"] - out["normal_b"]) < 1e-6

"""Wave 61: bitext mining and k-anonymity audit."""

from __future__ import annotations

from conftest import SF_DIR, skip_without_testdata
from pyspark.sql import Row

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import profiling, similarity


def test_bitext_mining_finds_planted_translation(spark):
    # group 0 vector 1 has an exact copy in group 1 (vector 101); other
    # group-1 vectors are near-orthogonal noise.  The brute sweep is the
    # exact ground truth; since round 6 the registered surface
    # (bitext_mining_pairs) runs the banded plan, so both are driven here.
    base = [1.0, 0.0, 0.5, 0.2]
    rows = (
        [Row(vec_id=1, embedding=base, label=0)]
        + [Row(vec_id=2, embedding=[0.0, 1.0, -0.5, 0.1], label=0)]
        + [Row(vec_id=101, embedding=base, label=1)]
        + [
            Row(vec_id=102 + i, embedding=[0.1 * i, -1.0, 0.3, 0.9], label=1)
            for i in range(4)
        ]
    )
    emb = spark.createDataFrame(rows)
    out = {
        r["a_id"]: r
        for r in similarity.bitext_mining_pairs_brute(
            emb, label_a=0, label_b=1, k=2, margin_threshold=1.0
        ).collect()
    }
    assert out[1]["b_id"] == 101  # the planted copy wins for vector 1
    assert out[1]["margin"] > 1.0
    # the banded surface finds the planted copy too (an exact duplicate
    # collides with itself in every band).  Threshold relaxed below 1.0:
    # when a vector's ONLY candidate is its exact copy, both candidate
    # neighborhoods are that single pair, so the margin degenerates to
    # exactly 1.0 — the full-pool brute margin has noise neighbors to
    # divide by, the candidate-grain one here does not.
    banded = {
        r["a_id"]: r
        for r in similarity.bitext_mining_pairs(
            emb, label_a=0, label_b=1, k=2, margin_threshold=0.9, dim=4
        ).collect()
    }
    assert banded[1]["b_id"] == 101


def test_bitext_banded_recalls_planted_translations(spark):
    """Recall bound for the registered banded surface (VERDICT r5 #2).

    LSH banding promises recall on TRUE translation pairs (high cosine —
    the pairs the CCMatrix pipeline exists to find), not on best-of-noise
    matches: moderate-cosine sign collisions are exactly what the (band,
    sig) selectivity prunes to stay sub-quadratic.  So the bound plants a
    perturbed copy of every A vector into the B pool (cos ~ 0.999) on top
    of the real label-1 noise and requires the banded miner to map >=85%
    of A ids to their planted translation; the brute sweep is the exact
    baseline and must find them all."""
    skip_without_testdata("embeddings")
    from pyspark.sql import functions as F

    emb = td.load_table(spark, SF_DIR, "embeddings")
    a = emb.filter(F.col("label") == 0).select("vec_id", "embedding", "label")
    planted = a.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x + 0.001 * ((i % 3) - 1) as float))"
        ).alias("embedding"),
        F.lit(1).alias("label"),
    )
    noise = emb.filter(F.col("label") == 1).select("vec_id", "embedding", "label")
    pool = a.unionByName(planted).unionByName(noise)
    n_a = a.count()
    banded = {
        r["a_id"]: r["b_id"]
        for r in similarity.bitext_mining_pairs(
            pool, label_a=0, label_b=1, k=4, margin_threshold=1.05
        ).collect()
    }
    hit = sum(1 for aid, bid in banded.items() if bid == aid + 100000)
    assert hit / n_a >= 0.85, f"banded planted recall {hit}/{n_a}"
    brute = {
        r["a_id"]: r["b_id"]
        for r in similarity.bitext_mining_pairs_brute(
            pool, label_a=0, label_b=1, k=4, margin_threshold=1.05
        ).collect()
    }
    bh = sum(1 for aid, bid in brute.items() if bid == aid + 100000)
    assert bh == n_a, f"brute exact baseline missed planted pairs: {bh}/{n_a}"


def test_k_anonymity_flags_small_groups_only(spark):
    rows = [Row(qa="a", qb=1) for _ in range(10)] + [
        Row(qa="b", qb=2),
        Row(qa="b", qb=2),
        Row(qa="c", qb=3),
    ]
    out = {
        (r["qa"], r["qb"]): r["group_size"]
        for r in profiling.k_anonymity_violations(
            spark.createDataFrame(rows), ["qa", "qb"], k=5
        ).collect()
    }
    assert out == {("b", 2): 2, ("c", 3): 1}


def test_ccnet_buckets_tiers_by_language(spark):
    from pyspark.sql import Row

    from rss_feed_etl_spark.operators import textstats

    # language A: three docs with increasingly rare vocabulary; language B:
    # one doc (degenerate partition -> percent_rank 0 -> head)
    rows = [
        Row(doc_id=1, lang="en", text="common common common common"),
        Row(doc_id=2, lang="en", text="common common rare1 rare2"),
        Row(doc_id=3, lang="en", text="rare3 rare4 rare5 rare6"),
        Row(doc_id=4, lang="de", text="einzig artig"),
    ]
    out = {r["doc_id"]: r for r in textstats.ccnet_ppl_buckets(spark.createDataFrame(rows)).collect()}
    assert out[1]["bucket"] == "head"      # most common vocabulary
    assert out[2]["bucket"] == "middle"
    assert out[3]["bucket"] == "tail"      # rarest vocabulary
    assert out[4]["bucket"] == "head"      # singleton language partition
    assert out[1]["logppl"] < out[3]["logppl"]

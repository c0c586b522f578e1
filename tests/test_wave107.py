"""Wave 107: the capstone curation pipeline — funnel semantics, planted
leak families dying at their designated stages, and the plan-shape pins
(persisted single corpus scan, checkpointed stage id frames, no
cartesian products)."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.queries.dedup import _aug_curation
from rss_feed_etl_spark.plans.curation_pipeline import curation_pipeline

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _skip_without_testdata():
    if not os.path.exists(f"{SF_DIR}/documents.parquet"):
        pytest.skip("testdata not present")


@pytest.fixture(scope="module")
def funnel(spark):
    _skip_without_testdata()
    docs_aug, emb_aug = _aug_curation(spark, SF_DIR)
    scorecard, stages = curation_pipeline(
        docs_aug, emb_aug, id_col="id", min_stopwords=0, return_stages=True
    )
    rows = scorecard.collect()
    ids = {k: {r["id"] for r in v.select("id").collect()} for k, v in stages.items() if k != "packed"}
    return rows, ids, stages


def test_funnel_is_monotone_per_source(funnel):
    rows, _, _ = funnel
    assert len(rows) > 0
    for r in rows:
        seq = [r["n_raw"], r["n_quality"], r["n_exact"], r["n_near"], r["n_train"], r["n_clean"]]
        assert seq == sorted(seq, reverse=True), f"non-monotone funnel for {r['source']}: {seq}"
        assert r["n_seqs"] <= max(r["n_clean"], 1)  # packs never exceed docs
    total_w = sum(r["mix_weight"] for r in rows)
    assert abs(total_w - 1.0) < 1e-3  # weights normalize over sources


def test_exact_plants_die_at_dedup(funnel):
    """Every +2M exact copy whose original survived the quality gate must
    be dropped by the fingerprint dedup (min id keeps the original)."""
    _, ids, _ = funnel
    q, ex = ids["quality"], ids["exact"]
    plants = {i for i in q if 2000000 <= i < 3000000}
    assert plants, "no exact plants passed quality — fixture broken"
    survivors = plants & ex
    # a +2M plant survives dedup ONLY if its original failed quality
    for p in survivors:
        assert (p - 2000000) not in q, f"exact plant {p} survived beside its original"


def test_near_plants_die_at_minhash(funnel):
    """+1M token-replaced plants (true Jaccard ~0.7) that reach the
    near-dup stage beside their original must mostly be dropped there."""
    _, ids, _ = funnel
    ex, near = ids["exact"], ids["near"]
    candidates = {i for i in ex if 1000000 <= i < 2000000 and (i - 1000000) in ex}
    assert candidates, "no near plants reached the minhash stage"
    caught = {i for i in candidates if i not in near}
    # banded LSH at j~0.7 collides with p≈0.9 — demand over half caught
    assert len(caught) / len(candidates) >= 0.5, (len(caught), len(candidates))


def test_contamination_plants_die_at_decontam(funnel):
    """+3M plants share >= 3 shingles with an EVAL original: any that
    reach the split stage in the train split must not survive it."""
    _, ids, _ = funnel
    from rss_feed_etl_spark.functions.hashing import md5_bucket  # noqa: F401

    near, train = ids["near"], ids["train"]
    plants = {i for i in near if 3000000 <= i < 4000000}
    assert plants, "no contamination plants reached the split stage"
    # plants whose own id lands in the eval split are removed as eval,
    # not as contamination — exclude them from the assertion
    reached_train = plants & _train_split_ids(plants)
    assert reached_train, "all contamination plants landed eval (salt fluke)"
    leaked = {
        p for p in reached_train
        if p in train and (p - 3000000) in ids["near"]
    }
    assert not leaked, f"contamination plants survived decontam: {sorted(leaked)[:5]}"


def _train_split_ids(plant_ids):
    import hashlib

    out = set()
    for i in plant_ids:
        h = hashlib.md5(f"cur-split-v1:{i}".encode()).hexdigest()[:15]
        if int(h, 16) % 100 >= 10:
            out.add(i)
    return out


def test_semantic_plants_die_at_semantic_stage(funnel):
    """+4M plants are textually unique (they pass every shingle stage)
    but embedding-identical to an eval original: any that reach the
    semantic stage while their eval original is still in the corpus must
    be dropped there."""
    _, ids, _ = funnel
    train, clean = ids["train"], ids["clean"]
    plants = {i for i in train if i >= 4000000}
    assert plants, "no semantic plants reached the semantic stage"
    leaked = {
        p for p in plants
        if p in clean and (p - 4000000) in ids["near"]
    }
    assert not leaked, f"semantic plants survived: {sorted(leaked)[:5]}"


def test_pipeline_plan_shape(spark, funnel):
    """Corpus persisted once (InMemoryTableScan), stage decisions read
    from checkpointed id frames (Scan ExistingRDD), no cartesian
    products anywhere in the composed plan."""
    _skip_without_testdata()
    docs_aug, emb_aug = _aug_curation(spark, SF_DIR)
    df = curation_pipeline(docs_aug, emb_aug, id_col="id", min_stopwords=0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "InMemoryTableScan" in plan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan

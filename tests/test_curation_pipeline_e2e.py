"""Capstone end-to-end: the full corpus-curation pipeline composed from
the engine's operators — exact dedup → paragraph dedup → near-dup
clustering with quality survivorship → quality gate → split assignment —
run over the real sf0.001 documents table, asserting the invariants each
stage must preserve for the next one."""

from __future__ import annotations

import pytest
from conftest import SF_DIR, skip_without_testdata
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    from rss_feed_etl_spark import testdata as td

    skip_without_testdata("documents")
    return td.load_table(spark, SF_DIR, "documents")


def test_full_curation_pipeline(spark, docs):
    from rss_feed_etl_spark.operators import dedup, sampling, textstats

    n0 = docs.count()

    # 1. exact dedup (order-sensitive) — survivors keyed by smallest id
    exact = dedup.dedup_exact(docs, text_col="text", id_col="doc_id")
    n1 = exact.count()
    assert 0 < n1 <= n0
    assert exact.select("doc_id").distinct().count() == n1

    # 2. paragraph-grain dedup on the survivors: token mass only shrinks
    paras = dedup.paragraph_dedup(exact, id_col="doc_id", text_col="text")
    shrink = paras.select(
        F.sum("n_paras").alias("p"), F.sum("n_kept").alias("k")
    ).collect()[0]
    assert shrink["k"] <= shrink["p"]
    cleaned = paras.select(
        "doc_id", F.col("clean_text").alias("text")
    ).filter(F.trim("text") != "")

    # 3. near-dup clustering + quality survivorship
    pairs = dedup.minhash_lsh_pairs(
        cleaned, id_col="doc_id", text_col="text", n=3, threshold=0.25
    )
    comp = dedup.neardup_components(pairs, id_a="id_a", id_b="id_b")
    scored = textstats.text_stats(cleaned, id_col="doc_id", text_col="text")
    survivors = dedup.canonical_per_component(
        comp.withColumnRenamed("id", "id"),
        scored.select(F.col("doc_id").alias("id"), F.col("quality").alias("score")),
        id_col="id",
        score_col="score",
    )
    # one survivor per component
    assert survivors.select("component_id").distinct().count() == survivors.count()

    # drop every cluster member except its canonical survivor
    drop_ids = comp.join(
        survivors.select(F.col("canonical_id").alias("id")), "id", "left_anti"
    )
    kept = cleaned.join(
        drop_ids.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    )
    n3 = kept.count()
    assert 0 < n3 <= cleaned.count()

    # 4. quality gate keeps a sane fraction and never invents rows
    gated = kept.join(
        scored.select("doc_id", "quality"), "doc_id"
    ).filter(F.col("quality") >= 0.2)
    n4 = gated.count()
    assert 0 < n4 <= n3

    # 5. content-addressed split: partitioning the gated set exactly
    split = sampling.deterministic_split(
        gated, key_col="doc_id", salt="e2e-v1"
    )
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(
        F.count("*").alias("n")
    ).collect()}
    assert sum(counts.values()) == n4
    assert counts.get("train", 0) > counts.get("test", 0)

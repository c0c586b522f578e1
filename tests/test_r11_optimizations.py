"""Round-11 optimization pins: the changed operator internals keep their
values and the plans keep the optimized shapes.

- alignment_uniformity's ring rank is a two-stage distributed rank (no
  corpus-scale SinglePartition exchange) and is bit-identical to the
  naive unpartitioned-window formulation it replaced.
- The kNN/triplet scorers run the 64-wide unrolled codegen kernels (the
  guarded CASE), not bare interpreted folds.
- The LM scorers attach a distinct-grain nll back to the occurrence
  stream (values pinned vs a direct per-occurrence reimplementation).
"""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from rss_feed_etl_spark.functions.text import tokens
from rss_feed_etl_spark.operators import linalg, similarity, textstats


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _emb_frame(spark, n=46, dim=64, labels=3):
    rows = [
        Row(
            vec_id=i,
            label=f"l{i % labels}",
            embedding=[float((i * 31 + j * 7) % 13) / 13.0 for j in range(dim)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_alignment_plan_has_no_corpus_single_partition(spark):
    s = _plan(linalg.alignment_uniformity(_emb_frame(spark)))
    # every SinglePartition exchange must carry only scalar-aggregate or
    # bucket-count rows, never an embedding/vec column
    lines = s.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            window = "\n".join(lines[max(0, i - 3) : i + 1])
            assert "vec" not in window and "embedding" not in window, window


def test_alignment_matches_naive_window_rank(spark):
    # odd label sizes + an odd total exercise the unpaired-last-row path
    emb = _emb_frame(spark, n=45, labels=4)
    out = linalg.alignment_uniformity(emb).collect()[0]

    # naive reference: the pre-round-11 unpartitioned-window formulation
    from rss_feed_etl_spark.functions.hashing import md5_bucket

    e = emb.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("lab"),
        F.transform("embedding", lambda v: v.cast("double")).alias("raw"),
    )
    norm = F.sqrt(F.aggregate(F.col("raw"), F.lit(0.0), lambda a, v: a + v * v))
    e = e.select(
        "id",
        "lab",
        F.transform("raw", lambda v: v / norm).alias("vec"),
        md5_bucket(F.concat(F.lit("au-v1:"), F.col("id").cast("string"))).alias("hk"),
    )

    def pairs(df, part):
        w = (
            Window.partitionBy(*part).orderBy("hk", "id")
            if part
            else Window.orderBy("hk", "id")
        )
        r = df.withColumn("rn", F.row_number().over(w))
        left = r.filter(F.col("rn") % 2 == 1).select(
            *part, ((F.col("rn") - 1) / 2).cast("long").alias("p"),
            F.col("vec").alias("va"),
        )
        right = r.filter(F.col("rn") % 2 == 0).select(
            *part, ((F.col("rn") - 2) / 2).cast("long").alias("p"),
            F.col("vec").alias("vb"),
        )
        return left.join(right, [*part, "p"])

    d2 = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    align = pairs(e, ["lab"]).select(F.round(d2, 9).alias("d2")).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("d2").cast("decimal(30,10)")).cast("double") / F.count("*"),
            6,
        ).alias("alignment"),
    ).collect()[0]
    unif = pairs(e, []).select(
        F.round(F.exp(F.lit(-2.0) * F.round(d2, 9)), 9).alias("x")
    ).agg(
        F.count("*").alias("n"),
        F.round(
            F.log(
                F.sum(F.col("x").cast("decimal(30,10)")).cast("double")
                / F.count("*")
            ),
            6,
        ).alias("uniformity"),
    ).collect()[0]

    assert out["n_align_pairs"] == align["n"]
    assert out["alignment"] == align["alignment"]
    assert out["n_unif_pairs"] == unif["n"]
    assert out["uniformity"] == unif["uniformity"]


def test_knn_scorer_uses_codegen_kernel(spark):
    emb = _emb_frame(spark)
    s = _plan(similarity.label_knn_accuracy(emb, k=3, n_queries=5))
    # the guarded unrolled kernel references element 63 explicitly; the
    # interpreted fold never does
    assert "[63]" in s
    assert "CASE WHEN" in s


def test_triplet_and_recall_use_codegen_kernel(spark):
    emb = _emb_frame(spark)
    for df in (
        similarity.triplet_margin_stats(emb, n_anchors=5),
        similarity.filtered_ann_recall(emb, n_queries=5, k=3, prefetch=6),
    ):
        s = _plan(df)
        assert "[63]" in s


def test_bigram_logppl_distinct_grain_matches_direct(spark):
    rows = [
        Row(doc_id=i, text=" ".join(f"w{(i * 3 + j) % 7}" for j in range(12)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows)
    out = {
        r["doc_id"]: (r["n_bigrams"], r["logppl"])
        for r in textstats.bigram_logppl(docs).collect()
    }
    # direct per-occurrence reference (the pre-round-11 shape)
    big = textstats._ngram_rows(docs, "doc_id", 2)
    c2 = textstats._ngram_rows(docs, "doc_id", 2).groupBy("a", "b").agg(
        F.count("*").alias("n2")
    )
    c1 = (
        docs.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n1"))
    )
    totals = c1.agg(F.sum("n1").alias("total"), F.count("*").alias("vocab"))
    pbi = c2.join(c1.withColumnRenamed("tok", "a"), "a").select(
        "a", "b", (F.col("n2") / F.col("n1")).alias("pb")
    )
    ref = (
        big.join(pbi, ["a", "b"], "left")
        .join(c1.select(F.col("tok").alias("b"), F.col("n1").alias("nb")), "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            F.round(
                -F.log(
                    F.when(F.col("pb").isNotNull(), F.col("pb")).otherwise(
                        F.lit(0.4)
                        * (F.coalesce(F.col("nb"), F.lit(0)) + F.lit(1.0))
                        / (F.col("total") + F.col("vocab"))
                    )
                ),
                9,
            ).alias("nll"),
        )
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("logppl"),
        )
    )
    ref_out = {r["doc_id"]: (r["n_bigrams"], r["logppl"]) for r in ref.collect()}
    assert out == ref_out

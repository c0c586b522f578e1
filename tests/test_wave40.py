"""Wave 40: embedding covariance / PCA and fractional-epoch upsampling,
plus the JSONL shard-export sink."""

from __future__ import annotations

import json
import math
import os

import numpy as np
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import linalg, sampling
from rss_feed_etl_spark.sources import jsonio


def _emb(spark, n=120, d=8, seed=3):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, d))
    base[:, 0] *= 5.0  # dominant direction for PCA ordering checks
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>"), base


def test_covariance_matches_numpy(spark):
    df, X = _emb(spark)
    out = linalg.embedding_covariance(df, dim=8).collect()
    C = np.cov(X, rowvar=False, bias=True)
    assert len(out) == 8 * 9 // 2
    for r in out:
        assert math.isclose(r["cov"], round(C[r["i"], r["j"]], 6), abs_tol=1e-6)


def test_covariance_stable_under_repartition(spark):
    df, _ = _emb(spark)
    a = sorted(map(tuple, linalg.embedding_covariance(df, dim=8).collect()))
    b = sorted(
        map(tuple, linalg.embedding_covariance(df.repartition(7), dim=8).collect())
    )
    assert a == b


def test_pca_variance_ordering_and_numpy_agreement(spark):
    df, X = _emb(spark)
    out = linalg.pca_project(df, k=3, dim=8).toPandas()
    per_pc = out.groupby("pc")["coord"].var()
    assert per_pc[0] >= per_pc[1] >= per_pc[2]
    # agreement with numpy reference (same sign convention)
    C = np.cov(X, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:3]
    V = vecs[:, order]
    flip = np.sign(V[np.abs(V).argmax(axis=0), np.arange(3)])
    V = V * flip
    P = X @ V
    got = out.pivot(index="vec_id", columns="pc", values="coord").sort_index().to_numpy()
    assert np.allclose(got, P, atol=1e-5)


def test_epoch_upsample_counts(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(400)], "doc_id bigint, source string"
    )
    out = sampling.epoch_upsample(
        df, group_col="source", weights={"a": 2.0, "b": 0.5}
    )
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["a"] == 400  # exactly 2 epochs of the 200 'a' docs
    # b: ~50% of 200 docs, deterministic hash choice
    assert 60 <= counts["b"] <= 140
    # epochs are 0..n-1 per doc
    mx = out.filter(F.col("source") == "a").agg(F.max("epoch")).collect()[0][0]
    assert mx == 1


def test_epoch_upsample_deterministic_and_monotone(spark):
    df = spark.createDataFrame(
        [(i, "w") for i in range(300)], "doc_id bigint, source string"
    )
    lo = sampling.epoch_upsample(df, "source", {"w": 1.3})
    hi = sampling.epoch_upsample(df, "source", {"w": 1.8})
    lo_ids = {(r["doc_id"], r["epoch"]) for r in lo.collect()}
    hi_ids = {(r["doc_id"], r["epoch"]) for r in hi.collect()}
    # raising the weight only ADDS copies (same hash, higher threshold)
    assert lo_ids <= hi_ids
    again = {(r["doc_id"], r["epoch"]) for r in sampling.epoch_upsample(
        df.repartition(11), "source", {"w": 1.3}
    ).collect()}
    assert again == lo_ids


def test_write_jsonl_shards_manifest(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id bigint, text string"
    )
    path = str(tmp_path / "export")
    manifest = jsonio.write_jsonl_shards(
        df, path, n_shards=4, shard_key="doc_id", compression=None
    ).collect()
    meta = json.load(open(os.path.join(path, "_manifest.json")))
    assert meta["n_shards"] == 4
    assert sum(s["n_rows"] for s in meta["shards"]) == 200
    assert len({s["checksum"] for s in meta["shards"]}) >= 3  # shards differ
    # shard dirs exist and rows round-trip
    back = spark.read.schema("doc_id long, text string").json(path + "/__shard=*")
    assert back.count() == 200
    assert {r["shard"] for r in manifest} == {0, 1, 2, 3}

"""Round 10: the Arrow assignment scans and the driver-side PQ codebook
trainer must replay the EXACT trajectory of the expression-tree
implementations they replaced (bit-identical doubles, same argmin, same
rounding) — this is the optimization's correctness contract, pinned on
the real fixture data.
"""

from __future__ import annotations

from conftest import SF_DIR, skip_without_testdata
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import clustering, similarity, vecmath
from rss_feed_etl_spark.operators.clustering import (
    _assign,
    _assign_scan_arrow,
    _kmeans_centroids_prepped,
    _prep,
)


def _emb(spark):
    skip_without_testdata("embeddings")
    return _prep(td.load_table(spark, SF_DIR, "embeddings"), "vec_id", "embedding")


def test_arrow_assignment_matches_expression_assign(spark):
    """Per-row (cid, dist) from the Arrow scan == the _assign expression
    struct, row for row, on real embeddings (both tie-break (dist, cid);
    the distances are the identical sequential fold)."""
    emb = _emb(spark)
    cents = _kmeans_centroids_prepped(emb, 8, 1, 6)
    via_expr = {
        (r["id"]): (r["b"]["cid"], r["b"]["dist"])
        for r in emb.select("id", _assign("vec", cents).alias("b")).collect()
    }
    # Arrow scan drops id (it ships only vec); zip back via a parallel
    # id scan with the same partitioning for the comparison
    via_arrow = [
        (r["cid"], r["dist"])
        for r in _assign_scan_arrow(emb, cents, "cid_dist").collect()
    ]
    ids = [r["id"] for r in emb.select("id").collect()]
    assert len(ids) == len(via_arrow)
    for i, pair in zip(ids, via_arrow):
        assert via_expr[i][0] == pair[0], f"cid mismatch at id {i}"
        assert via_expr[i][1] == pair[1], f"dist mismatch at id {i}"


def test_arrow_d0_d1_matches_array_sort(spark):
    """(d0, d1) from the silhouette scan == elements 0/1 of array_sort
    over (dist, cid) structs — nearest and second-nearest with cid
    tie-breaks."""
    emb = _emb(spark)
    cents = _kmeans_centroids_prepped(emb, 8, 1, 6)
    dists = F.array_sort(
        F.array(
            *[
                F.struct(vecmath.sqdist("vec", cv).alias("dist"), F.lit(c).alias("cid"))
                for c, cv in sorted(cents.items())
            ]
        )
    )
    via_expr = [
        (r["a"]["cid"], r["a"]["dist"], r["b"]["dist"])
        for r in emb.select(dists[0].alias("a"), dists[1].alias("b")).collect()
    ]
    via_arrow = [
        (r["cid"], r["d0"], r["d1"])
        for r in _assign_scan_arrow(emb, cents, "cid_d0_d1").collect()
    ]
    assert via_expr == via_arrow


def test_pq_codebooks_driver_side_matches_in_engine_loop(spark):
    """The numpy codebook trainer must reproduce the in-engine batched
    Lloyd loop EXACTLY (same seeds, same assignments, same HALF_UP
    rounding of the member means) — multiple shapes, real sample."""
    emb = _emb(spark)
    train = similarity._pq_training_sample(emb, 1024, "pq-train-v1").localCheckpoint(
        eager=True
    )

    def in_engine(train, m, w, k_codes, iters, decimals):
        # the pre-round-10 implementation, verbatim (the reference
        # trajectory the driver-side trainer must replay)
        seed_rows = (
            train.orderBy("id")
            .limit(k_codes)
            .select(
                "id",
                F.transform("vec", lambda v: F.round(v, decimals)).alias("cvec"),
            )
            .collect()
        )
        books = [
            {int(r["id"]): list(r["cvec"])[s * w : (s + 1) * w] for r in seed_rows}
            for s in range(m)
        ]
        if iters <= 0:
            return books
        subs = None
        for s in range(m):
            part = train.select(
                F.lit(s).alias("sub"), "id", F.slice("vec", s * w + 1, w).alias("vec")
            )
            subs = part if subs is None else subs.unionByName(part)
        for _ in range(iters):
            cid = None
            for s in range(m):
                a = _assign("vec", books[s])["cid"]
                cid = (
                    F.when(F.col("sub") == s, a)
                    if cid is None
                    else cid.when(F.col("sub") == s, a)
                )
            new = (
                subs.withColumn("cid", cid)
                .select("sub", "cid", F.posexplode("vec").alias("pos", "v"))
                .groupBy("sub", "cid", "pos")
                .agg(F.round(F.avg("v"), decimals).alias("cv"))
                .groupBy("sub", "cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                        lambda x: x["cv"],
                    ).alias("cvec")
                )
                .collect()
            )
            books = [{} for _ in range(m)]
            for r in new:
                books[r["sub"]][int(r["cid"])] = list(r["cvec"])
        return books

    for m, k_codes, iters in [(4, 16, 1), (4, 16, 2), (8, 8, 1)]:
        w = 64 // m
        assert similarity._pq_codebooks(train, m, w, k_codes, iters, 6) == in_engine(
            train, m, w, k_codes, iters, 6
        ), f"codebook trajectory diverged for m={m} k={k_codes} iters={iters}"


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up == F.round on doubles, including boundary and
    negative cases."""
    vals = [
        0.1234565,
        0.1234575,
        -0.1234565,
        1.0000005,
        -1.0000005,
        0.0,
        -0.0,
        123.4567891234,
        1e-7,
        -1e-7,
        0.9999995,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r["r"] for r in df.select(F.round("v", 6).alias("r")).collect()]
    want = [similarity._round_half_up(v, 6) for v in vals]
    assert got == want


def test_kmeans_lloyd_output_types_and_determinism(spark):
    """cluster_id stays int; two runs produce identical rows (the Arrow
    scan is deterministic)."""
    emb = td.load_table(spark, SF_DIR, "embeddings")
    a = sorted(map(tuple, clustering.kmeans_lloyd(emb, k=8, iters=1).collect()))
    b = sorted(map(tuple, clustering.kmeans_lloyd(emb, k=8, iters=1).collect()))
    assert a == b
    schema = dict(clustering.kmeans_lloyd(emb, k=8, iters=1).dtypes)
    assert schema["cluster_id"] == "int"

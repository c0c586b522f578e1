"""Distributed linear algebra over embedding columns: covariance and PCA.

The split mirrors how a 100 TB pipeline has to do it: the only pass over
the data computes MERGEABLE sufficient statistics (count, per-dimension
sums, Gram upper triangle) as one numpy GEMM per Arrow batch; everything
O(d²) and beyond — the eigendecomposition — happens on the driver where
d×d is trivially small, and the resulting basis rides back to executors
inside the projection closure (map-only, no second wide pass).

Extends the reference's vector math (its TF-IDF cosine in
src/utils/ats_matcher.py:21-36 is the only linear algebra it has) to the
embedding-column operations a training-data pipeline needs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import ensure_executors_can_import
from . import vecmath

_PARTIAL_SCHEMA = (
    "i int, j int, g double, si double, sj double, n bigint"
)


def _gram_partials(vec_col: str, dim: int):
    iu, ju = None, None

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nonlocal iu, ju
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if iu is None:
                iu, ju = np.triu_indices(M.shape[1])
            G = M.T @ M
            s = M.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "g": G[iu, ju],
                    "si": s[iu],
                    "sj": s[ju],
                    "n": np.full(len(iu), len(M), dtype=np.int64),
                }
            )

    return fn


def embedding_covariance(
    emb: DataFrame,
    dim: int = 64,
) -> DataFrame:
    """Population covariance matrix of an embedding column, as upper-
    triangle entries (i, j, cov) with i ≤ j.

    Plan shape (100 TB): ONE pass over the vectors — each Arrow batch
    contributes a d×d Gram + sum + count via a single float64 GEMM — then
    a groupBy on (i, j) merges the partials with map-side combine, so the
    only exchange carries ~partitions × d(d+1)/2 tiny rows, never a
    vector.  cov = E[xy] − E[x]E[y] is computed from the merged
    statistics, exactly associative across any partitioning.
    """
    ensure_executors_can_import(emb.sparkSession)
    parts = emb.select("embedding").mapInPandas(
        _gram_partials("embedding", dim), _PARTIAL_SCHEMA
    )
    merged = parts.groupBy("i", "j").agg(
        F.sum("g").alias("g"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("n").alias("n"),
    )
    cov = (
        F.col("g") / F.col("n")
        - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n"))
    )
    # + 0.0 folds IEEE -0.0 to +0.0: a tiny negative covariance rounds to
    # -0.0, which string-canonicalizers ('-0.0' vs '0.0') treat as a diff
    return merged.select(
        "i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov")
    )


def _covariance_matrix(emb: DataFrame, vec_col: str, dim: int) -> np.ndarray:
    ensure_executors_can_import(emb.sparkSession)
    rows = (
        emb.select(vec_col)
        .mapInPandas(_gram_partials(vec_col, dim), _PARTIAL_SCHEMA)
        .groupBy("i", "j")
        .agg(
            F.sum("g").alias("g"),
            F.sum("si").alias("si"),
            F.sum("sj").alias("sj"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    C = np.zeros((dim, dim))
    for r in rows:
        c = r["g"] / r["n"] - (r["si"] / r["n"]) * (r["sj"] / r["n"])
        C[r["i"], r["j"]] = c
        C[r["j"], r["i"]] = c
    return C


def pca_project(
    emb: DataFrame,
    k: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components.
    Output is long-form (id, pc, coord) — hashable, no array column.

    Signs are fixed deterministically (each eigenvector's
    largest-|component| entry is made positive), so the output is a pure
    function of the input corpus — stable across partitionings and runs.

    Plan shape (100 TB): the covariance pass above (one GEMM scan, tiny
    merged exchange) + an eigh on the DRIVER (d×d, microseconds) + a
    map-only projection pass with the d×k basis shipped in the closure —
    the second pass shuffles nothing.  This is the standard two-pass
    distributed PCA; an iterative/sketched variant is only needed once d
    itself is large, not at embedding widths.
    """
    C = _covariance_matrix(emb, "embedding", dim)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:k]
    V = vecs[:, order]
    flip = np.sign(V[np.abs(V).argmax(axis=0), np.arange(V.shape[1])])
    flip[flip == 0] = 1.0
    V = V * flip

    def project(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            P = np.round(M @ V, 6)
            n, kk = P.shape
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["vec_id"].to_numpy(), kk),
                    "pc": np.tile(np.arange(kk, dtype=np.int32), n),
                    "coord": P.ravel(),
                }
            )

    ensure_executors_can_import(emb.sparkSession)
    out = emb.select("vec_id", "embedding").mapInPandas(
        project, f"id bigint, pc int, coord double"
    )
    return out.withColumnRenamed("id", "vec_id")


def alignment_uniformity(
    embeddings: DataFrame,
    t: float = 2.0,
    salt: str = "au-v1",
) -> DataFrame:
    """Alignment & uniformity (Wang & Isola 2020) — the two-number
    health check of a contrastive embedding space: *alignment* = mean
    squared distance between positive (same-label) pairs, lower is
    better; *uniformity* = log mean exp(-t·d²) over arbitrary pairs,
    lower means the space spreads over the hypersphere instead of
    collapsing.  Vectors are L2-normalized first (both metrics are
    defined on the sphere).

    The published estimators sample pairs; the deterministic stand-in
    pairs each vector with its md5-rank RING NEIGHBOR — within its label
    for alignment, across the whole corpus for uniformity — so the pair
    count is n/2 per metric (LINEAR, never the O(n²) all-pairs sum) and
    both engines derive identical pairs from the data alone.

    Output: one row — ``(n_align_pairs, alignment, n_unif_pairs,
    uniformity)``.

    Plan / 100 TB: the hash-rank ring pairing needs a TOTAL order per
    scope (label for alignment, corpus for uniformity).  Round 11: the
    rank is computed as a TWO-STAGE distributed rank — an ORDER-ALIGNED
    bucket derived from the hash key itself (monotone division, so
    bucket order == key order), per-(scope, bucket) local row_number
    (each window partition bounded at ~1/(4·parts) of a scope), plus
    the scope's earlier-bucket counts from a bucket-grain aggregate —
    instead of an unpartitioned window, whose ``Exchange
    SinglePartition`` put the whole corpus in one task (the one
    scale-killer shape this operator had; rank VALUES are a pure
    function of the total order, so the result is bit-identical).
    Per-pair terms use the :mod:`.vecmath` kernels (bit-identical,
    width-guarded), round to 9 dp and sum
    as DECIMAL so cross-engine fold order cannot move either metric.
    """
    from pyspark.sql import Window

    from ..functions.hashing import md5_bucket

    emb = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("lab"),
        F.transform("embedding", lambda v: v.cast("double")).alias("raw"),
    )
    emb = emb.withColumn("__n", vecmath.norm("raw"))
    emb = emb.select(
        "id", "lab",
        vecmath.divide("raw", "__n").alias("vec"),
        md5_bucket(
            F.concat(F.lit(salt + ":"), F.col("id").cast("string"))
        ).alias("hk"),
    )

    def _ranked(df, part_cols):
        """rn == row_number over the (part_cols, hk, id) total order,
        computed without a single-partition exchange.  ``hk`` is a
        uniform md5 value in [0, 2^60), so the ORDER-ALIGNED bucket
        ``hk div step`` (monotone in hk — every row of bucket i sorts
        before every row of bucket i+1) splits each scope into ~4×
        shuffle-partitions balanced pieces: rank locally per (scope,
        bucket), then add the scope's earlier-bucket row counts (a
        bucket-grain aggregate, broadcast back).  Deterministic, fully
        lazy, and the rank values are exactly the global row_number."""
        n_b = 4 * int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        step = (1 << 60) // n_b + 1
        b = df.withColumn("__b", F.expr(f"hk div {step}"))
        local_w = Window.partitionBy(*part_cols, "__b").orderBy("hk", "id")
        ranked = b.withColumn("__lrn", F.row_number().over(local_w))
        counts = b.groupBy(*part_cols, "__b").agg(F.count("*").alias("__c"))
        off_w = (
            Window.partitionBy(*part_cols).orderBy("__b")
            if part_cols
            else Window.orderBy("__b")
        ).rowsBetween(Window.unboundedPreceding, -1)
        # bucket grain: <= n_b × scopes rows — model-sized
        offsets = counts.select(
            *part_cols, "__b",
            F.coalesce(F.sum("__c").over(off_w), F.lit(0)).alias("__off"),
        )
        return (
            ranked.join(F.broadcast(offsets), [*part_cols, "__b"])
            .select(*df.columns, (F.col("__lrn") + F.col("__off")).alias("rn"))
        )

    def _pairs(df, part_cols):
        ranked = _ranked(df, part_cols)
        left = ranked.filter(F.col("rn") % 2 == 1).select(
            *part_cols,
            ((F.col("rn") - 1) / 2).cast("long").alias("p"),
            F.col("vec").alias("va"),
        )
        right = ranked.filter(F.col("rn") % 2 == 0).select(
            *part_cols,
            ((F.col("rn") - 2) / 2).cast("long").alias("p"),
            F.col("vec").alias("vb"),
        )
        on = [*part_cols, "p"]
        return left.join(right, on)

    d2 = vecmath.sqdist("va", "vb")
    align = _pairs(emb, ["lab"]).select(
        F.round(d2, 9).alias("d2")
    ).agg(
        F.count("*").cast("bigint").alias("n_align_pairs"),
        F.round(
            F.sum(F.col("d2").cast("decimal(30,10)")).cast("double")
            / F.count("*"),
            6,
        ).alias("alignment"),
    )
    unif = _pairs(emb, []).select(
        F.round(F.exp(F.lit(-float(t)) * F.round(d2, 9)), 9).alias("e")
    ).agg(
        F.count("*").cast("bigint").alias("n_unif_pairs"),
        F.round(
            F.log(
                F.sum(F.col("e").cast("decimal(30,10)")).cast("double")
                / F.count("*")
            ),
            6,
        ).alias("uniformity"),
    )
    return align.crossJoin(unif)


def embedding_mmd_matrix(
    embeddings: DataFrame,
    m: int = 64,
    gamma: float = 1.0,
    salt: str = "mmd-v1",
) -> DataFrame:
    """Pairwise maximum mean discrepancy (Gretton et al. 2012, the
    unbiased MMD²_u estimator) between every two labels' embedding
    distributions under an RBF kernel — the DISTRIBUTIONAL companion of
    ``source_js_divergence_matrix`` for the embedding space: two classes
    can be perfectly separable (high kNN accuracy) yet nearly
    identically DISTRIBUTED, and a mixture/augmentation planner merging
    class buckets wants exactly this matrix.

        MMD²_u(A, B) = mean_{i≠j} k(a_i, a_j) + mean_{i≠j} k(b_i, b_j)
                       − 2 · mean k(a, b),   k(x, y) = exp(−γ‖x−y‖²)

    Each label contributes a BOUNDED deterministic sample (``m`` vectors
    by md5-rank — the house fixed-size sampling recipe), so the estimate
    is a pure function of the corpus and every pair term is replayable:
    squared distances round to 9 dp before the exp, kernel values round
    to 9 dp, and the means are DECIMAL sums over those rounded terms.
    Labels with fewer than 2 sampled vectors have no within-mean and are
    absent from the matrix.

    Output per pair (label_a < label_b): ``(label_a, label_b, n_a, n_b,
    mmd2)``.

    Plan / 100 TB: the per-label sample uses the two-stage partial
    top-m (``_per_query_topk`` partitioned on the label) so no task ever
    holds a label's corpus-scale rows; the sampled table (≤ m × L rows,
    model-sized) is eagerly checkpointed once and every within/cross
    term derives from it — the corpus is scanned exactly once.
    """
    from ..functions.hashing import md5_bucket
    from .similarity import _per_query_topk

    emb = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("lab"),
        F.transform("embedding", lambda v: v.cast("double")).alias("vec"),
        md5_bucket(
            F.concat(F.lit(salt + ":"), F.col("vec_id").cast("string"))
        ).alias("hk"),
    )
    samp = (
        _per_query_topk(
            emb, m, F.col("hk").asc(), F.col("id").asc(), partition_cols=("lab",)
        )
        .select("lab", "id", "vec")
        .localCheckpoint(eager=True)  # m×L rows; three consumers below
    )

    def _k(a, b):
        d2 = F.round(vecmath.sqdist(a, b), 9)
        return F.round(F.exp(-F.lit(float(gamma)) * d2), 9)

    l = samp.select(
        F.col("lab").alias("la"), F.col("id").alias("ia"), F.col("vec").alias("va")
    )
    r = samp.select(
        F.col("lab").alias("lb"), F.col("id").alias("ib"), F.col("vec").alias("vb")
    )
    within = (
        l.join(r, (F.col("la") == F.col("lb")) & (F.col("ia") < F.col("ib")))
        .select("la", _k("va", "vb").alias("k"))
        .groupBy("la")
        .agg(
            (
                F.sum(F.col("k").cast("decimal(30,10)")).cast("double")
                / F.count("*").cast("double")
            ).alias("w")
        )
    )
    counts = samp.groupBy("lab").agg(F.count("*").cast("bigint").alias("n"))
    cross = (
        l.join(r, F.col("la") < F.col("lb"))
        .select("la", "lb", _k("va", "vb").alias("k"))
        .groupBy("la", "lb")
        .agg(
            (
                F.sum(F.col("k").cast("decimal(30,10)")).cast("double")
                / F.count("*").cast("double")
            ).alias("x")
        )
    )
    wa = within.select(F.col("la").alias("__l1"), F.col("w").alias("wa"))
    wb = within.select(F.col("la").alias("__l2"), F.col("w").alias("wb"))
    na = counts.select(F.col("lab").alias("__l1"), F.col("n").alias("n_a"))
    nb = counts.select(F.col("lab").alias("__l2"), F.col("n").alias("n_b"))
    return (
        cross.join(wa, cross["la"] == wa["__l1"])
        .join(wb, cross["lb"] == wb["__l2"])
        .join(na, F.col("la") == na["__l1"])
        .join(nb, F.col("lb") == nb["__l2"])
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            "n_a",
            "n_b",
            F.round(
                F.col("wa") + F.col("wb") - F.lit(2.0) * F.col("x"), 6
            ).alias("mmd2"),
        )
    )

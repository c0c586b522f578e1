"""Distributed k-means (Lloyd) over an embedding column — the iterative-
algorithm surface of the engine.

The reference has no clustering; this generalizes its TF-IDF similarity
scoring (src/utils/ats_matcher.py:20-37) to the corpus-curation use: topic
bucketing / diversity sampling / IVF centroid training over billions of
vectors.

Scale shape per Lloyd iteration:
- **Assignment is a pure expression.** Centroids are config-sized (k × dim
  doubles), so they are collected to the driver and bound as literal
  arrays; the per-vector argmin runs inside whole-stage codegen with ZERO
  corpus exchange — same pattern as the IVF cell assignment
  (similarity.cosine_topk_ivf).
- **The update is a partial aggregate.** posexplode(vec) → groupBy
  (cluster, position) with map-side combine: each task emits at most
  k × dim partial sums, so the shuffle is O(partitions × k × dim) bytes
  regardless of corpus size.
- Centroid components are rounded each iteration, which pins cross-engine
  float-mean drift AND makes every iteration's state exactly replayable.

Tie-breaks (equidistant centroids → smallest cluster id) and the
sequential left-fold distance make the whole trajectory deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import vecmath


def _assign(vec: str, centroids: dict[int, list[float]]) -> Column:
    """(dist, cid) of the nearest centroid (squared L2, ties → smallest
    id) as an expression — the reference the Arrow scans replay."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    vecmath.sqdist(vec, cvec).alias("dist"), F.lit(cid).alias("cid")
                )
                for cid, cvec in sorted(centroids.items())
            ]
        )
    )


def _assign_scan_arrow(
    emb: DataFrame, centroids: dict[int, list[float]], emit: str
) -> DataFrame:
    """The per-row nearest-centroid assignment as ONE Arrow
    ``mapInPandas`` scan — the vectorized replacement for mapping
    :func:`_assign`'s expression tree over a corpus-scale frame (the
    same move VERDICT r9 #4 made for the PQ ADC scan): centroids are
    model-sized driver state riding the closure, the per-batch distance
    matrix is ``vecmath.sqdist_np`` (bit-identical to the
    ``vecmath.sqdist`` fold), and argmin is first-occurrence over
    centroids iterated in sorted-cid order — exactly ``array_min`` over
    (dist, cid) structs.
    The expression version spent its time in interpreted higher-order
    folds (k × dim lambda evaluations per row) plus the plan/codegen
    cost of k × dim literal nodes per query; this is a constant-size
    plan node whatever k and dim are.

    ``emit`` selects the columns the caller needs (never more — the
    Python boundary ships only what crosses it):

    - ``"cid_vec"``  → (cid, vec): the Lloyd update's input (vec passes
      through Arrow float64 untouched, so downstream avg sees identical
      doubles);
    - ``"cid_dist"`` → (cid, dist): final assignment stats;
    - ``"cid_d0_d1"`` → (cid, d0, d1): nearest + second-nearest squared
      distances (ties by cid, replaying ``array_sort`` over structs) for
      the simplified silhouette.
    """
    import numpy as np

    import pandas as pd

    from ..session import ensure_executors_can_import

    # ``scan`` reaches ``vecmath``: executors must import this package
    ensure_executors_can_import(emb.sparkSession)
    items = sorted(centroids.items())
    cent_ids = np.asarray([c for c, _ in items], dtype=np.int64)
    cent_mat = np.asarray([v for _, v in items], dtype=np.float64)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64, copy=False)
            d = vecmath.sqdist_np(X, cent_mat)
            a0 = np.argmin(d, axis=1)
            cid = cent_ids[a0]
            if emit == "cid_vec":
                yield pd.DataFrame({"cid": cid, "vec": pdf["vec"]})
            elif emit == "cid_dist":
                rows = np.arange(len(a0))
                yield pd.DataFrame({"cid": cid, "dist": d[rows, a0]})
            else:
                rows = np.arange(len(a0))
                d0 = d[rows, a0].copy()
                d[rows, a0] = np.inf
                d1 = d[rows, np.argmin(d, axis=1)]
                yield pd.DataFrame({"cid": cid, "d0": d0, "d1": d1})

    schema = {
        "cid_vec": "cid long, vec array<double>",
        "cid_dist": "cid long, dist double",
        "cid_d0_d1": "cid long, d0 double, d1 double",
    }[emit]
    return emb.select("vec").mapInPandas(scan, schema=schema)


def _prep(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda v: v.cast("double")).alias("vec"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
) -> dict[int, list[float]]:
    """Train ``iters`` Lloyd iterations from a deterministic seed (the ``k``
    smallest-id vectors) and return the final centroids keyed by seed id —
    model-sized driver state (k·dim doubles) usable as a trained coarse
    quantizer (``similarity.cosine_topk_ivf(centroids=...)``).

    Empty clusters drop out of the update (standard Lloyd).
    """
    return _kmeans_centroids_prepped(
        _prep(embeddings, "vec_id", "embedding"), k, iters, 6
    )


def _kmeans_centroids_prepped(
    emb: DataFrame, k: int, iters: int, decimals: int, seed_rank: bool = False
) -> dict[int, list[float]]:
    """Lloyd training over an already-``_prep``-ed (id, vec) frame —
    shared by ``kmeans_centroids`` and ``kmeans_lloyd`` so the caller's
    projection is built once (ADVICE r5).

    ``seed_rank=False`` (default) seeds with ``id < k`` — the historical
    contract every kmeans oracle replays, valid when ids are dense from 0.
    ``seed_rank=True`` seeds with the ``k`` smallest ids PRESENT in the
    frame (``ORDER BY id LIMIT k``) — required when the caller trains on a
    bounded sample whose id set is sparse (``pq_ann_topk``'s md5-rank
    training sample may not contain ids 0..k-1)."""
    # seed rounding happens IN the engine (F.round = SQL half-up), not via
    # Python round (banker's) — the oracle replays the identical trajectory
    seeds = emb.orderBy("id").limit(k) if seed_rank else emb.filter(F.col("id") < k)
    centroids: dict[int, list[float]] = {
        r["id"]: list(r["cvec"])
        for r in seeds.select(
            "id", F.transform("vec", lambda v: F.round(v, decimals)).alias("cvec")
        ).collect()
    }
    for _ in range(iters):
        # Arrow assignment (same argmin, same doubles — see
        # _assign_scan_arrow); the update aggregate below is unchanged,
        # so every avg/round happens in the engine exactly as before.
        assigned = _assign_scan_arrow(emb, centroids, "cid_vec")
        new = (
            assigned.select("cid", F.posexplode("vec").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("v"), decimals).alias("cv"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s["cv"],
                ).alias("cvec")
            )
            .collect()
        )
        centroids = {r["cid"]: list(r["cvec"]) for r in new}
    return centroids


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Run ``iters`` Lloyd iterations from a deterministic seed (the ``k``
    smallest-id vectors) and return per-cluster stats of the final
    assignment: (cluster_id, n_members, mean_sqdist).

    Rounding the mean distance keeps the output hash-stable across
    summation orders.
    """
    emb = _prep(embeddings, "vec_id", "embedding")
    centroids = _kmeans_centroids_prepped(emb, k, iters, 6)
    final = _assign_scan_arrow(emb, centroids, "cid_dist")
    return (
        final.select(F.col("cid").cast("int").alias("cluster_id"), F.col("dist"))
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("dist"), 6).alias("mean_sqdist"),
        )
    )


def cohens_kappa(
    confusion: DataFrame,
) -> DataFrame:
    """Cohen's kappa from a confusion-count table: chance-corrected
    agreement κ = (p_o − p_e)/(1 − p_e), with p_o the observed agreement
    rate and p_e the marginal-product expected rate — the standard check
    that a clustering/labeling pipeline beats chance (κ≈0) before its
    labels feed training.

    Inputs are label-grain (a confusion table), so every aggregate here is
    label²-sized: totals and the marginal product are broadcast 1-row
    frames, never a data-scale shuffle.
    """
    n = F.col("n")
    tot = confusion.agg(
        F.sum(n).alias("N"),
        F.sum(F.when(F.col("true_label") == F.col("predicted_label"), n).otherwise(0)).alias(
            "agree"
        ),
    )
    rows = confusion.groupBy(F.col("true_label").alias("lbl")).agg(F.sum(n).alias("rn"))
    cols = confusion.groupBy(F.col("predicted_label").alias("lbl")).agg(F.sum(n).alias("cn"))
    marg = rows.join(cols, "lbl").agg(F.sum(F.col("rn") * F.col("cn")).alias("s"))
    po = F.col("agree") / F.col("N")
    pe = F.col("s") / (F.col("N") * F.col("N"))
    return (
        tot.crossJoin(F.broadcast(marg))
        .select(
            F.col("N").cast("bigint").alias("n_items"),
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        )
    )


def grid_density_clusters(
    emb: DataFrame,
    in_dim: int = 64,
    cell_width: float = 0.5,
    min_pts: int = 5,
) -> DataFrame:
    """Grid-based density clustering (the scalable DBSCAN shape): project
    embeddings to 2D with the deterministic JL ±1 matrix, bucket into
    fixed cells, keep cells with ≥ ``min_pts`` members, and merge
    8-neighbor dense cells into clusters via the same min-label
    propagation ``neardup_components`` uses.  Sparse-cell points are
    noise and are dropped — DBSCAN semantics at grid granularity, without
    DBSCAN's per-point range queries (which at 100 TB are a quadratic
    disaster without an index).

    Plan shape (100 TB): the projection is map-only (compile-time sign
    literals); the only fact-sized exchange is the cell groupBy
    (partial-aggregated); the adjacency graph and the component loop run
    at DENSE-CELL grain — bounded by occupied space, not by rows — and
    assignment joins the (tiny) cell→cluster map back broadcast.
    """
    from ..operators.dedup import neardup_components
    from ..operators.similarity import _rp_sign_matrix

    signs = _rp_sign_matrix(in_dim, 2)
    scale = 2.0 ** 0.5

    def proj(j: int):
        return F.round(
            vecmath.dot("`embedding`", signs[j]) / F.lit(scale), 6
        )

    pts = emb.select(
        F.col("vec_id"),
        F.floor(proj(0) / F.lit(cell_width)).cast("bigint").alias("cx"),
        F.floor(proj(1) / F.lit(cell_width)).cast("bigint").alias("cy"),
    )
    # encode the 2D cell as one bigint key (coords are small after /width)
    key = (F.col("cx") + 100_000) * 1_000_000 + (F.col("cy") + 100_000)
    pts = pts.withColumn("cell", key)
    dense = pts.groupBy("cell", "cx", "cy").agg(
        F.count("*").cast("bigint").alias("n")
    ).filter(F.col("n") >= min_pts)

    # half-plane neighbor offsets -> each undirected adjacency once
    offsets = [(1, -1), (1, 0), (1, 1), (0, 1)]
    nbr = dense.select(
        F.col("cell"),
        F.explode(
            F.array(
                *[
                    (((F.col("cx") + dx) + 100_000) * 1_000_000
                     + ((F.col("cy") + dy) + 100_000))
                    for dx, dy in offsets
                ]
            )
        ).alias("ncell"),
    )
    pairs = nbr.join(
        dense.select(F.col("cell").alias("ncell")), "ncell"
    ).select(
        F.least("cell", "ncell").alias("id_a"),
        F.greatest("cell", "ncell").alias("id_b"),
    )
    comp = neardup_components(pairs, max_iters=30)
    cell_cluster = (
        dense.join(
            comp.withColumnRenamed("id", "cell"), "cell", "left"
        )
        .select(
            "cell",
            F.coalesce("component_id", F.col("cell")).alias("cluster_id"),
        )
    )
    return (
        pts.join(F.broadcast(cell_cluster), "cell")
        .select("vec_id", "cx", "cy", "cluster_id")
    )


def kcenter_diversity_sample(
    embeddings: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Greedy k-center (farthest-point) selection: start from the
    smallest-id vector, then repeatedly pick the point FARTHEST from the
    selected set (max over points of min squared-L2 to any center) — the
    classic 2-approximation coreset / diversity-sampling pass a curation
    pipeline runs to pick maximally-spread exemplars (seed sets, eval
    probes, dedup anchors).

    Output: ``(rank, vec_id, min_dist)`` — selection order and each
    pick's distance to the then-selected set (0 for the seed).

    Plan / 100 TB: ``k`` corpus passes, each MAP-ONLY — the running
    min-distance column updates against the newest center as a literal
    expression (centers are model-sized driver state, exactly like the
    k-means assignment), and the per-step argmax is a distributed
    TakeOrdered(1).  State localCheckpoints each step so lineage stays
    linear in ``k`` (the Pregel guard).  Distances round to 6 decimals
    before every compare, so the greedy trajectory replays exactly in the
    oracle; ties break to the smallest id.
    """
    from .similarity import MAX_GREEDY_K

    if k > MAX_GREEDY_K:
        raise ValueError(
            f"kcenter_diversity_sample: k={k} exceeds MAX_GREEDY_K="
            f"{MAX_GREEDY_K} (one corpus pass + driver round-trip per "
            "center; use k-means / recursive partitioning for larger k)"
        )
    spark = embeddings.sparkSession
    out_schema = "rank int, vec_id long, min_dist double"
    emb = _prep(embeddings, "vec_id", "embedding")
    seeds = emb.orderBy("id").limit(1).collect()
    if not seeds:  # empty input → empty sample, not an opaque IndexError
        return spark.createDataFrame([], out_schema)
    seed = seeds[0]
    centers: list[tuple[int, list[float], float]] = [(seed["id"], list(seed["vec"]), 0.0)]

    state = emb.filter(F.col("id") != seed["id"]).select(
        "id",
        "vec",
        F.round(vecmath.sqdist("vec", centers[0][1]), 6).alias("md"),
    ).localCheckpoint(eager=True)

    for _ in range(1, k):
        pick = state.orderBy(F.desc("md"), F.asc("id")).limit(1).collect()
        if not pick:
            break
        row = pick[0]
        centers.append((row["id"], list(row["vec"]), float(row["md"])))
        state = (
            state.filter(F.col("id") != row["id"])
            .select(
                "id",
                "vec",
                F.least(
                    F.col("md"),
                    F.round(vecmath.sqdist("vec", list(row["vec"])), 6),
                ).alias("md"),
            )
            .localCheckpoint(eager=True)
        )

    return spark.createDataFrame(
        [(r + 1, int(i), float(d)) for r, (i, _, d) in enumerate(centers)],
        out_schema,
    )


def silhouette_by_cluster(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 1,
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette (Hruschka et al.) for a Lloyd
    clustering: for every point, a = distance to its own centroid, b =
    distance to the nearest OTHER centroid, s = (b-a)/max(a,b) — the
    O(n·k) centroid-based form of the classic O(n²) silhouette, the only
    form that survives a 100 TB corpus (all-pairs silhouette is a
    cartesian product; this is one codegen expression per row).  Scores
    near 1 = tight, well-separated cluster; near 0 = boundary points;
    negative = likely mis-assigned.

    Output per cluster: ``(cluster_id, n_points, mean_a,
    mean_silhouette)``, ordered by construction grain (cluster id).

    Plan / 100 TB: centroids are model-sized driver state bound as
    literals (the ``kmeans_centroids`` contract), so scoring is MAP-ONLY
    — distances, the per-point argmin/second-min, and the silhouette all
    run inside whole-stage codegen with zero corpus exchange; the single
    shuffle is the cluster-grain aggregate with map-side partials.
    Per-point scores round to 9 dp and sum as DECIMAL so cross-engine
    fold order cannot move the means.
    """
    emb = _prep(embeddings, "vec_id", "embedding")
    centroids = _kmeans_centroids_prepped(emb, k, iters, 6)
    # Arrow scan for (nearest, second-nearest) squared distances — the
    # vectorized form of array_sort over k (dist, cid) structs; sqrt and
    # every rounding stay in the engine exactly as before.
    scored = _assign_scan_arrow(emb, centroids, "cid_d0_d1").select(
        F.col("cid").cast("int").alias("cluster_id"),
        F.sqrt(F.col("d0")).alias("a"),
        F.sqrt(F.col("d1")).alias("b"),
    ).select(
        "cluster_id",
        F.round(F.col("a"), 9).alias("a"),
        F.round(
            F.when(
                F.greatest(F.col("a"), F.col("b")) > 0,
                (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")),
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("s"),
    )
    return scored.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.round(
            F.sum(F.col("a").cast("decimal(30,10)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_a"),
        F.round(
            F.sum(F.col("s").cast("decimal(30,10)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_silhouette"),
    )

"""Clustering queries over ``operators/clustering.py``: k-means, grid density,
IVF k-means, k-center sampling and silhouettes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import _register
from ..operators import clustering, similarity
from ..operators.similarity import _rp_sign_matrix
from .corpus import _cos_sql


# --- k-means (2 Lloyd iterations, k=8) ------------------------------------

_KM_K = 8


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return clustering.kmeans_lloyd(emb, k=_KM_K, iters=2)


def _km_dist(e: str, c: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, 65), "
        f"i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i])), (x, y) -> x + y)"
    )


def _km_step(i: int, prev: str) -> str:
    """CTEs for one Lloyd step: assign to ``prev`` centroids, re-average."""
    return f"""
s{i} AS (SELECT e.vec_id, e.vec, c.cid, {_km_dist("e.vec", "c.cvec")} AS dist
         FROM emb e CROSS JOIN {prev} c),
a{i} AS (SELECT vec_id, vec, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist ASC, cid ASC) AS rn
           FROM s{i}) WHERE rn = 1),
u{i} AS (SELECT cid, i AS pos, round(avg(vec[i]), 6) AS cv
         FROM a{i} CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
         GROUP BY cid, i),
c{i} AS (SELECT cid, list(cv ORDER BY pos) AS cvec FROM u{i} GROUP BY cid)"""


_register(
    "kmeans_clusters",
    _q_kmeans,
    f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
c0 AS (
  SELECT vec_id AS cid, list_transform(vec, x -> round(x, 6)) AS cvec
  FROM emb WHERE vec_id < {_KM_K}),{_km_step(1, "c0")},{_km_step(2, "c1")},
s3 AS (SELECT e.vec_id, c.cid, {_km_dist("e.vec", "c.cvec")} AS dist
       FROM emb e CROSS JOIN c2 c),
a3 AS (SELECT vec_id, cid, dist FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cid ASC) AS rn
         FROM s3) WHERE rn = 1)
SELECT cid AS cluster_id, count(*) AS n_members,
       round(avg(dist), 6) AS mean_sqdist
FROM a3 GROUP BY 1
""",
)


# Grid-density (DBSCAN-style) clustering over JL-projected embeddings.

# --- grid density clusters --------------------------------------------------

_GD_DIM = 64
_GD_WIDTH = 0.5
_GD_MINPTS = 5


def _q_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clustering.grid_density_clusters(
        td.load_table(spark, sf_dir, "embeddings"),
        in_dim=_GD_DIM,
        cell_width=_GD_WIDTH,
        min_pts=_GD_MINPTS,
    )


def _grid_sql() -> str:
    signs = _rp_sign_matrix(_GD_DIM, 2)
    s0 = "[" + ", ".join(str(s) for s in signs[0]) + "]"
    s1 = "[" + ", ".join(str(s) for s in signs[1]) + "]"
    prj = (
        "CAST(floor(round(list_sum(list_transform(range(1, {d} + 1), "
        "i -> CAST(embedding[i] AS DOUBLE) * {{s}}[i])) / sqrt(2.0), 6) "
        "/ {w}) AS BIGINT)"
    ).format(d=_GD_DIM, w=_GD_WIDTH)
    return f"""
WITH RECURSIVE sm AS (SELECT {s0} AS s0, {s1} AS s1),
p AS (SELECT vec_id,
             {prj.format(s='s0')} AS cx,
             {prj.format(s='s1')} AS cy
      FROM embeddings, sm),
pts AS (SELECT vec_id, cx, cy,
               (cx + 100000) * 1000000 + (cy + 100000) AS cell FROM p),
dense AS (SELECT cell, cx, cy, CAST(count(*) AS BIGINT) AS n
          FROM pts GROUP BY 1, 2, 3 HAVING count(*) >= {_GD_MINPTS}),
nb AS (SELECT d.cell,
              (d.cx + o.dx + 100000) * 1000000 + (d.cy + o.dy + 100000) AS ncell
       FROM dense d, (VALUES (1, -1), (1, 0), (1, 1), (0, 1)) o(dx, dy)),
e0 AS (SELECT least(nb.cell, nb.ncell) AS a, greatest(nb.cell, nb.ncell) AS b
       FROM nb JOIN dense dd ON dd.cell = nb.ncell),
edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
comp AS (SELECT src AS cell, min(dst) AS cluster FROM reach GROUP BY 1),
cc AS (SELECT d.cell, coalesce(c.cluster, d.cell) AS cluster_id
       FROM dense d LEFT JOIN comp c ON d.cell = c.cell)
SELECT pts.vec_id, pts.cx, pts.cy, cc.cluster_id
FROM pts JOIN cc ON pts.cell = cc.cell
"""


_register("grid_density_clusters", _q_grid_clusters, _grid_sql())


# IVF ANN with a TRAINED coarse quantizer.
#
# ``ann_cosine_topk_ivf`` uses a fixed-k deterministic md5-rank sample
# as its quantizer; ``ann_cosine_topk_ivf_kmeans`` demonstrates the production path the
# docstring promises is swappable — k-means centroids from
# ``clustering.kmeans_centroids`` (the exact 2-iteration Lloyd trajectory the
# ``kmeans_clusters`` oracle already replays in SQL) feeding the identical
# probe plan.  Centroid state stays model-sized (k·dim doubles) regardless
# of corpus rows.

_KM_ITERS = 2
_NPROBE = 2


def _q_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = clustering.kmeans_centroids(emb, k=_KM_K, iters=_KM_ITERS)
    return similarity.cosine_topk_ivf(
        emb, queries, k=5, nprobe=_NPROBE, centroids=list(cents.items())
    )


_register(
    "ann_cosine_topk_ivf_kmeans",
    _q_ivf_kmeans,
    f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
c0 AS (
  SELECT vec_id AS cid, list_transform(vec, x -> round(x, 6)) AS cvec
  FROM emb WHERE vec_id < {_KM_K}),{_km_step(1, "c0")},{_km_step(2, "c1")},
cents AS (SELECT cid AS cent_id, cvec AS cv FROM c2),
corpus_sc AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS ev, c.cent_id,
         {_cos_sql("e.embedding", "c.cv")} AS csim
  FROM embeddings e CROSS JOIN cents c),
corpus_cell AS (
  SELECT neighbor_id, ev, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id
                                 ORDER BY csim DESC, cent_id ASC) AS rn
    FROM corpus_sc) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
q_sc AS (
  SELECT q.query_id, q.qv, c.cent_id, {_cos_sql("q.qv", "c.cv")} AS csim
  FROM q CROSS JOIN cents c),
q_cells AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY csim DESC, cent_id ASC) AS rn
    FROM q_sc) WHERE rn <= {_NPROBE}),
scored AS (
  SELECT qc.query_id, cc.neighbor_id,
         {_cos_sql("qc.qv", "cc.ev")} AS cosine_sim
  FROM q_cells qc JOIN corpus_cell cc ON qc.cell = cc.cell
  WHERE cc.neighbor_id <> qc.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
)


# Greedy k-center diversity sampling — the farthest-point coreset selector; the
# oracle replays the greedy trajectory step by step (same unrolled-CTE pattern
# as k-means/MMR).

_KC_K = 5


def _q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clustering.kcenter_diversity_sample(
        td.load_table(spark, sf_dir, "embeddings"), k=_KC_K
    )


def _kc_steps() -> str:
    out = [
        """c1 AS (SELECT id, vec FROM emb ORDER BY id LIMIT 1),
d1 AS (
  SELECT e.id, e.vec, round({dist}, 6) AS md
  FROM emb e, c1 c WHERE e.id <> (SELECT id FROM c1))""".format(
            dist=_km_dist("e.vec", "c.vec")
        )
    ]
    for t in range(2, _KC_K + 1):
        prev = t - 1
        out.append(
            """c{t} AS (SELECT id, vec, md FROM d{prev} ORDER BY md DESC, id ASC LIMIT 1),
d{t} AS (
  SELECT d.id, d.vec, least(d.md, round({dist}, 6)) AS md
  FROM d{prev} d, c{t} c WHERE d.id <> (SELECT id FROM c{t}))""".format(
                t=t, prev=prev, dist=_km_dist("d.vec", "c.vec")
            )
        )
    return ",\n".join(out)


_KC_UNION = "\nUNION ALL\n".join(
    ["SELECT CAST(1 AS INT) AS rank, (SELECT id FROM c1) AS vec_id, CAST(0.0 AS DOUBLE) AS min_dist"]
    + [
        f"SELECT CAST({t} AS INT), (SELECT id FROM c{t}), (SELECT md FROM c{t})"
        for t in range(2, _KC_K + 1)
    ]
)

_register(
    "kcenter_diversity_sample",
    _q_kcenter,
    f"""
WITH emb AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
{_kc_steps()}
{_KC_UNION}
""",
)


# --- simplified silhouette over the k-means Lloyd clustering ----------------------


def _q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return clustering.silhouette_by_cluster(emb, k=8, iters=1)


_DIST = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> (e.vec[i] - c.cvec[i]) * (e.vec[i] - c.cvec[i])), (x, y) -> x + y)"
)

_register(
    "silhouette_by_cluster",
    _q_silhouette,
    f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
c0 AS (
  SELECT vec_id AS cid, list_transform(vec, x -> round(x, 6)) AS cvec
  FROM emb WHERE vec_id < 8),
s1 AS (SELECT e.vec_id, e.vec, c.cid, {_DIST} AS dist
       FROM emb e CROSS JOIN c0 c),
a1 AS (SELECT vec_id, vec, cid FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cid ASC) AS rn
         FROM s1) WHERE rn = 1),
u1 AS (SELECT cid, i AS pos, round(avg(vec[i]), 6) AS cv
       FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       GROUP BY cid, i),
c1 AS (SELECT cid, list(cv ORDER BY pos) AS cvec FROM u1 GROUP BY cid),
s2 AS (SELECT e.vec_id, c.cid, {_DIST} AS dist
       FROM emb e CROSS JOIN c1 c),
r AS (SELECT vec_id, cid, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, cid ASC) AS rn
      FROM s2),
p AS (SELECT r1.vec_id, r1.cid AS cluster_id,
             sqrt(r1.dist) AS a_raw, sqrt(r2.dist) AS b_raw
      FROM r r1 JOIN r r2 ON r1.vec_id = r2.vec_id
      WHERE r1.rn = 1 AND r2.rn = 2),
q AS (SELECT cluster_id,
             round(a_raw, 9) AS a,
             round(CASE WHEN greatest(a_raw, b_raw) > 0
                        THEN (b_raw - a_raw) / greatest(a_raw, b_raw)
                        ELSE 0.0 END, 9) AS s
      FROM p)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_points,
       round(CAST(sum(CAST(a AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6)
         AS mean_a,
       round(CAST(sum(CAST(s AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6)
         AS mean_silhouette
FROM q GROUP BY 1
""",
)

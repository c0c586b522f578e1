"""Linear-algebra queries over ``operators/linalg.py``: covariance, PCA,
alignment/uniformity and MMD.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import testdata as td
from ..driver_queries import _register
from ..operators import linalg
from .corpus import _hexfold


# Distributed embedding covariance, driver-side PCA with map-only projection,
# and fractional-epoch mixture upsampling.

# --- embedding covariance ---------------------------------------------------

_DIM = 64


def _q_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linalg.embedding_covariance(
        td.load_table(spark, sf_dir, "embeddings"), dim=_DIM
    )


_register(
    "embedding_covariance",
    _q_cov,
    f"""
WITH p AS (
  SELECT i, j,
         CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS x,
         CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) AS y
  FROM embeddings,
       (SELECT unnest(range({_DIM})) AS i),
       (SELECT unnest(range({_DIM})) AS j)
  WHERE i <= j)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       round(sum(x * y) / count(*)
             - (sum(x) / count(*)) * (sum(y) / count(*)), 6) + 0.0 AS cov
FROM p GROUP BY 1, 2
""",
)


# --- PCA projection (no SQL oracle: eigendecomposition) ---------------------


def _q_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linalg.pca_project(
        td.load_table(spark, sf_dir, "embeddings"), k=8, dim=_DIM
    )


# Registered WITHOUT oracle_sql: the eigenbasis is not SQL-expressible.
# The driver records the weaker rows-only check; value-level invariants
# (variance ordering, orthonormality, sign stability) are pinned in
# tests/test_wave40.py.
_register("pca_projection", _q_pca, None)


# Embedding-space quality evals — alignment/uniformity and leave-one-out k-NN
# label accuracy.
#
# Reference anchor: the reference scores resume/job matches with TF-IDF
# cosine (src/utils/ats_matcher.py); these are the evals a pipeline runs
# BEFORE trusting any embedding column those similarity operators consume.

# --- alignment & uniformity -------------------------------------------------------

_AU_SALT = "au-v1"
_AU_T = 2.0


def _q_align_unif(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return linalg.alignment_uniformity(emb, t=_AU_T, salt=_AU_SALT)


_AU_HK = _hexfold(f"('{_AU_SALT}:' || CAST(vec_id AS VARCHAR))")
_AU_D2 = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> (l.va[i] - r.vb[i]) * (l.va[i] - r.vb[i])), (x, y) -> x + y)"
)

_register(
    "alignment_uniformity",
    _q_align_unif,
    f"""
WITH emb AS (
  SELECT vec_id AS id, label AS lab,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw,
         {_AU_HK} AS hk
  FROM embeddings),
nrm AS (
  SELECT id, lab, hk,
         list_transform(raw, x -> x / sqrt(list_reduce(
             list_transform(raw, y -> y * y), (a, b) -> a + b))) AS vec
  FROM emb),
ra AS (SELECT lab, vec,
              row_number() OVER (PARTITION BY lab ORDER BY hk, id) AS rn
       FROM nrm),
la AS (SELECT lab, CAST((rn - 1) / 2 AS BIGINT) AS p, vec AS va
       FROM ra WHERE rn % 2 = 1),
rb AS (SELECT lab, CAST((rn - 2) / 2 AS BIGINT) AS p, vec AS vb
       FROM ra WHERE rn % 2 = 0),
ad AS (SELECT round({_AU_D2}, 9) AS d2
       FROM la l JOIN rb r ON l.lab = r.lab AND l.p = r.p),
align AS (
  SELECT CAST(count(*) AS BIGINT) AS n_align_pairs,
         round(CAST(sum(CAST(d2 AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6)
           AS alignment
  FROM ad),
ru AS (SELECT vec, row_number() OVER (ORDER BY hk, id) AS rn FROM nrm),
ua AS (SELECT CAST((rn - 1) / 2 AS BIGINT) AS p, vec AS va
       FROM ru WHERE rn % 2 = 1),
ub AS (SELECT CAST((rn - 2) / 2 AS BIGINT) AS p, vec AS vb
       FROM ru WHERE rn % 2 = 0),
ud AS (SELECT round(exp(-{_AU_T} * round({_AU_D2}, 9)), 9) AS e
       FROM ua l JOIN ub r ON l.p = r.p),
unif AS (
  SELECT CAST(count(*) AS BIGINT) AS n_unif_pairs,
         round(ln(CAST(sum(CAST(e AS DECIMAL(30,10))) AS DOUBLE) / count(*)), 6)
           AS uniformity
  FROM ud)
SELECT n_align_pairs, alignment, n_unif_pairs, uniformity FROM align, unif
""",
)


_MMD_M = 64
_MMD_GAMMA = 1.0
_MMD_SALT = "mmd-v1"


def _q_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return linalg.embedding_mmd_matrix(
        emb, m=_MMD_M, gamma=_MMD_GAMMA, salt=_MMD_SALT
    )


_MMD_HK = _hexfold(f"('{_MMD_SALT}:' || CAST(vec_id AS VARCHAR))")
_MMD_K = f"round(exp(-{_MMD_GAMMA} * round({_AU_D2}, 9)), 9)"

_register(
    "embedding_mmd_matrix",
    _q_mmd,
    f"""
WITH emb AS (
  SELECT vec_id AS id, label AS lab,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
         {_MMD_HK} AS hk
  FROM embeddings),
samp AS (SELECT lab, id, vec FROM (
           SELECT *, row_number() OVER (PARTITION BY lab
                                        ORDER BY hk ASC, id ASC) AS rn
           FROM emb) WHERE rn <= {_MMD_M}),
wpairs AS (SELECT l.lab AS la, {_MMD_K} AS k
           FROM (SELECT lab, id, vec AS va FROM samp) l
           JOIN (SELECT lab, id, vec AS vb FROM samp) r
             ON l.lab = r.lab AND l.id < r.id),
within AS (SELECT la, CAST(sum(CAST(k AS DECIMAL(30,10))) AS DOUBLE)
                        / count(*) AS w
           FROM wpairs GROUP BY 1),
counts AS (SELECT lab, CAST(count(*) AS BIGINT) AS n FROM samp GROUP BY 1),
xpairs AS (SELECT l.lab AS la, r.lab AS lb, {_MMD_K} AS k
           FROM (SELECT lab, id, vec AS va FROM samp) l
           JOIN (SELECT lab, id, vec AS vb FROM samp) r
             ON l.lab < r.lab),
cross_m AS (SELECT la, lb, CAST(sum(CAST(k AS DECIMAL(30,10))) AS DOUBLE)
                             / count(*) AS x
            FROM xpairs GROUP BY 1, 2)
SELECT c.la AS label_a, c.lb AS label_b, na.n AS n_a, nb.n AS n_b,
       round(wa.w + wb.w - 2.0 * c.x, 6) AS mmd2
FROM cross_m c
JOIN within wa ON wa.la = c.la
JOIN within wb ON wb.la = c.lb
JOIN counts na ON na.lab = c.la
JOIN counts nb ON nb.lab = c.lb
""",
)

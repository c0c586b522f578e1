"""Driver-contract queries, wave 102: exact ROC AUC for embedding
retrieval — rank-statistic AUC at distinct-score grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import _register
from .driver_queries_corpus import _cos_sql
from .operators import profiling, vecmath

_AUC_QID = 0


def _q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _AUC_QID).select(
        F.col("embedding").alias("q"), F.col("label").alias("ql")
    )
    scored = (
        emb.filter(F.col("vec_id") != _AUC_QID)
        .crossJoin(F.broadcast(q))
        .select(
            vecmath.cosine("embedding", "q").alias("score"),
            (F.col("label") == F.col("ql")).cast("int").alias("pos"),
        )
    )
    return profiling.score_label_auc(scored)


_register(
    "embedding_retrieval_auc",
    _q_auc,
    f"""
WITH qv AS (SELECT embedding AS q, label AS ql FROM embeddings WHERE vec_id = {_AUC_QID}),
s AS (
  SELECT {_cos_sql("embedding", "q")} AS score,
         CAST(label = ql AS INT) AS pos
  FROM embeddings, qv WHERE vec_id <> {_AUC_QID}),
g AS (SELECT score, count(*) AS n, sum(pos) AS p FROM s GROUP BY 1),
c AS (
  SELECT score, n, p,
         sum(n) OVER (ORDER BY score ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cb
  FROM g),
t AS (
  SELECT sum(p) AS P, sum(n) - sum(p) AS N,
         sum(CAST(p AS DECIMAL(38,0)) * (2 * cb + n + 1)) AS S2
  FROM c)
SELECT CAST(P AS BIGINT) AS n_pos, CAST(N AS BIGINT) AS n_neg,
       CASE WHEN P > 0 AND N > 0
            THEN round((CAST(S2 AS DOUBLE) - CAST(P AS DOUBLE) * (P + 1))
                       / (2.0 * P * N), 6)
            END AS auc
FROM t
""",
)


# --- PR curve over the same retrieval scores -----------------------------------


def _q_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _AUC_QID).select(
        F.col("embedding").alias("q"), F.col("label").alias("ql")
    )
    scored = (
        emb.filter(F.col("vec_id") != _AUC_QID)
        .crossJoin(F.broadcast(q))
        .select(
            vecmath.cosine("embedding", "q").alias("score"),
            (F.col("label") == F.col("ql")).cast("int").alias("pos"),
        )
    )
    return profiling.pr_curve(scored)


_register(
    "retrieval_pr_curve",
    _q_pr,
    f"""
WITH qv AS (SELECT embedding AS q, label AS ql FROM embeddings WHERE vec_id = {_AUC_QID}),
s AS (
  SELECT {_cos_sql("embedding", "q")} AS score,
         CAST(label = ql AS INT) AS pos
  FROM embeddings, qv WHERE vec_id <> {_AUC_QID}),
g AS (SELECT score AS threshold, count(*) AS n, sum(pos) AS p FROM s GROUP BY 1),
tot AS (SELECT sum(p) AS P FROM g),
c AS (
  SELECT threshold,
         sum(p) OVER (ORDER BY threshold DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         sum(n) OVER (ORDER BY threshold DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - sum(p) OVER (ORDER BY threshold DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
  FROM g)
SELECT threshold,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(P - tp AS BIGINT) AS fn,
       round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision,
       CASE WHEN P > 0 THEN round(tp / CAST(P AS DOUBLE), 6) END AS recall,
       CASE WHEN 2 * tp + fp + (P - tp) > 0
            THEN round(2 * tp / CAST(2 * tp + fp + (P - tp) AS DOUBLE), 6)
            END AS f1
FROM c, tot
""",
)

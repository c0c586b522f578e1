"""Sampling and data-mixture queries over ``operators/sampling.py``: splits,
quota and weighted samples, decontamination, mixture weights and epoch
budgets.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import ORACLES, _register
from ..operators import sampling, textstats
from .corpus import (
    _AUG_SQL,
    _NTOK,
    _SHINGLES,
    _W,
    _aug_docs,
    _band_sig_sql,
    _code,
    _cos_sql,
    _hexfold,
)


# Corpus curation — deterministic train/val/test splitting, per-group quota
# sampling (data mixing), and PII redaction.
#
# Splitting and sampling are content-addressed (md5 of salt:key), the only
# assignment scheme that keeps documents from migrating across the
# train/test boundary when the corpus grows or repartitions — and exactly
# replayable in the DuckDB oracle.

# --- deterministic train/val/test split -----------------------------------

_SPLIT_SALT = "split-v1"
_WEIGHTS = {"train": 80, "val": 10, "test": 10}


def _q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.deterministic_split(
        docs, key_col="doc_id", weights=_WEIGHTS, salt=_SPLIT_SALT
    )


_SPLIT_BUCKET = (
    _hexfold(f"('{_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR))") + " % 100"
)
_register(
    "train_val_test_split",
    _q_split,
    f"""
SELECT doc_id, lang,
       CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
            WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)


# --- per-language quota sampling (data mixing) ----------------------------

_QUOTA = 30
_QUOTA_SALT = "quota-v1"


def _q_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sampling.quota_per_group(
        docs, group_col="lang", quota=_QUOTA, key_col="doc_id", salt=_QUOTA_SALT
    )


_QUOTA_RANK = (
    _hexfold(f"('{_QUOTA_SALT}:' || CAST(doc_id AS VARCHAR))") + " % 1000000007"
)
_register(
    "lang_quota_sample",
    _q_quota,
    f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_QUOTA_RANK} ASC, doc_id ASC) AS rk
  FROM documents) WHERE rk <= {_QUOTA}
""",
)


# --- mixture sampling by source --------------------------------------------

_MIX_SALT = "mix-v1"
_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.05
_MIX_PREC = 1_000_000


def _q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.mixture_sample(
        docs, group_col="source", rates=_MIX_RATES, key_col="doc_id",
        salt=_MIX_SALT, default_rate=_MIX_DEFAULT, precision=_MIX_PREC,
    )


_MIX_BUCKET = _hexfold(f"('{_MIX_SALT}:' || CAST(doc_id AS VARCHAR))") + f" % {_MIX_PREC}"
_MIX_CASE = "CASE " + " ".join(
    f"WHEN source = '{g}' THEN {int(r * _MIX_PREC)}" for g, r in _MIX_RATES.items()
) + f" ELSE {int(_MIX_DEFAULT * _MIX_PREC)} END"
_register(
    "source_mixture_sample",
    _q_mixture,
    f"""
SELECT doc_id, source FROM documents
WHERE {_MIX_BUCKET} < {_MIX_CASE}
""",
)


# Corpus retrieval (inverted index, BM25 ranking), benchmark decontamination,
# time-series gap filling, and weighted priority sampling.
#
# These extend the reference's keyword filtering / TF-IDF surface
# (run_job_filter.py:206-237, src/utils/ats_matcher.py:20-37) and lookback
# windows (run_job_filter.py:112-152) into the corpus-scale forms a
# training-data pipeline needs.  Every formula is engine-independent
# (md5-derived uniforms, single IEEE divisions, explicit rounding before any
# ordering that selects rows).

# --- weighted priority sample ---------------------------------------------

_WS_K = 50
_WS_SALT = "wsample-v1"


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return sampling.weighted_priority_sample(
        docs, k=_WS_K, weight_col="n_chars", salt=_WS_SALT
    )


_WS_U = _hexfold(f"('{_WS_SALT}:' || CAST(doc_id AS VARCHAR))")
_register(
    "weighted_doc_sample",
    _q_weighted_sample,
    f"""
SELECT doc_id, lang, n_chars FROM documents
ORDER BY {_WS_U} / n_chars ASC, doc_id ASC
LIMIT {_WS_K}
""",
)


# --- train/holdout decontamination ----------------------------------------

_DECON_SALT = "split-v1"
_MIN_SHARED = 3
_DECON_MAX_DF = 1000


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage check on the AUGMENTED corpus (each doc + its
    80%-prefix copy at id+1e6 — see queries/corpus.py): the copies
    land in independent splits, so train×holdout shingle overlap is
    observable and recall is verifiable."""
    aug = _aug_docs(spark, sf_dir)
    split = sampling.deterministic_split(aug, key_col="id", salt=_DECON_SALT)
    return sampling.cross_split_contamination(
        split, min_shared=_MIN_SHARED, max_df=_DECON_MAX_DF
    )


def _q_decontaminate_bc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-sized-holdout variant: the capped holdout bucket table is
    broadcast, removing the corpus-side shuffle (plan pinned in
    test_plan_shapes.py)."""
    aug = _aug_docs(spark, sf_dir)
    split = sampling.deterministic_split(aug, key_col="id", salt=_DECON_SALT)
    return sampling.cross_split_contamination(
        split,
        min_shared=_MIN_SHARED,
        max_df=_DECON_MAX_DF,
        broadcast_holdout=True,
    )


_DECON_BUCKET = _hexfold(f"('{_DECON_SALT}:' || CAST(id AS VARCHAR))") + " % 100"
_DECON_SQL = f"""
WITH {_AUG_SQL},
lab AS (
  SELECT id, text,
         CASE WHEN {_DECON_BUCKET} < 80 THEN 'train'
              WHEN {_DECON_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM aug),
sh AS (SELECT id, split, {_hexfold('shingle')} AS shingle
       FROM (SELECT id, split, unnest({_SHINGLES.format(w=_W)}) AS shingle
             FROM lab)),
hold AS (SELECT id, shingle FROM sh WHERE split = 'test'),
keep AS (SELECT shingle FROM hold GROUP BY 1 HAVING count(*) <= {_DECON_MAX_DF})
SELECT t.id AS train_id, h.id AS holdout_id, count(*) AS shared_shingles
FROM sh t
JOIN keep k ON t.shingle = k.shingle
JOIN hold h ON t.shingle = h.shingle
WHERE t.split = 'train'
GROUP BY 1, 2
HAVING count(*) >= {_MIN_SHARED}
"""
_register("decontaminate_splits", _q_decontaminate, _DECON_SQL)
_register("decontaminate_broadcast_holdout", _q_decontaminate_bc, _DECON_SQL)


# Deterministic training-export shuffle and read-only snapshot diff.

# --- deterministic shuffle -------------------------------------------------


def _q_det_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.deterministic_shuffle(docs, id_col="doc_id", salt="epoch0", n_shards=8)


_SHARD = _hexfold("('epoch0:shard:' || CAST(doc_id AS VARCHAR))") + " % 8"

_register(
    "deterministic_shuffle",
    _q_det_shuffle,
    f"""
WITH s AS (
  SELECT doc_id,
         {_SHARD} AS shard,
         md5('epoch0:ord:' || CAST(doc_id AS VARCHAR)) AS pri
  FROM documents)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY pri, doc_id) AS BIGINT) AS pos
FROM s
""",
)


# Mixture temperature sampling and leakage-safe splitting — the two
# corpus-curation steps between dedup and export that plain hash
# splitting/sampling gets wrong.
#
# ``temperature_mixture_sample`` rates are structural-exact across engines
# (integer counts → divide → sqrt → multiply, all correctly-rounded IEEE
# ops); ``leakage_safe_split`` splits on the near-dup component label so a
# duplicate cluster can never straddle the train/test boundary.

# --- temperature (α=0.5) mixture sampling ----------------------------------

_TEMP_SALT = "temp-v1"
_TEMP_BASE = 0.5
_TEMP_PREC = 1_000_000


def _q_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.temperature_mixture_sample(
        docs, group_col="source", base_rate=_TEMP_BASE, key_col="doc_id",
        salt=_TEMP_SALT, precision=_TEMP_PREC,
    )


_TEMP_BUCKET = (
    _hexfold(f"('{_TEMP_SALT}:' || CAST(doc_id AS VARCHAR))") + f" % {_TEMP_PREC}"
)
_register(
    "temperature_mixture_sample",
    _q_temperature,
    f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
m AS (SELECT max(n) AS nmax FROM c),
r AS (SELECT source,
             least(1.0, {_TEMP_BASE} * sqrt(CAST(nmax AS DOUBLE) / n)) AS rate
      FROM c, m)
SELECT doc_id, source
FROM documents JOIN r USING (source)
WHERE {_TEMP_BUCKET} < rate * {_TEMP_PREC}
""",
)


# DSIR importance weights for targeted data selection, int8-quantized
# similarity search, SCD2 point-in-time snapshot (time travel over the
# versioned dimension), and length-bucketed batching with padding-cost
# accounting.

# --- DSIR importance weights ------------------------------------------------

_DSIR_BUCKETS = 4096


def _q_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.importance_weights(
        docs, target_pred=F.col("lang") == "en", n_buckets=_DSIR_BUCKETS
    )


_register(
    "importance_weights",
    _q_importance,
    f"""
WITH toks AS (
  SELECT doc_id AS id, (lang = 'en') AS is_tgt,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
b AS (SELECT id, is_tgt, ({_hexfold("tok")}) % {_DSIR_BUCKETS} AS bucket FROM toks),
counts AS (
  SELECT bucket, count(*) AS n_raw,
         sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS n_tgt
  FROM b GROUP BY bucket),
tot AS (SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt FROM counts),
ratio AS (
  SELECT bucket,
         round(ln((n_tgt + 1.0) / (t_tgt + {_DSIR_BUCKETS}.0))
               - ln((n_raw + 1.0) / (t_raw + {_DSIR_BUCKETS}.0)), 9) AS lr
  FROM counts, tot)
SELECT id AS doc_id, round(avg(lr), 6) AS weight,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM b JOIN ratio USING (bucket) GROUP BY id
""",
)


# Integer budget apportionment (largest-remainder), trending-item burst
# detection, and the per-source dedup drop-rate report.

# --- largest-remainder budget allocation ------------------------------------

_ALLOC_TOTAL = 10_000


def _q_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    weights = docs.groupBy("source").agg(F.count("*").alias("n"))
    return sampling.largest_remainder_allocation(
        weights, total=_ALLOC_TOTAL, group_col="source", weight_col="n"
    )


_register(
    "budget_allocation",
    _q_allocation,
    f"""
WITH wts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS W FROM wts),
staged AS (
  SELECT source, n,
         ({_ALLOC_TOTAL} * CAST(n AS BIGINT)) // W AS base,
         ({_ALLOC_TOTAL} * CAST(n AS BIGINT)) % W AS rem
  FROM wts, tot),
slack AS (SELECT {_ALLOC_TOTAL} - CAST(sum(base) AS BIGINT) AS r FROM staged),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM staged)
SELECT source, CAST(n AS BIGINT) AS weight,
       CAST(base + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM ranked, slack
""",
)


# --- fractional-epoch upsampling --------------------------------------------

_EPOCH_SALT = "epoch-v1"
_EPOCH_PREC = 1_000_000
_EPOCH_WEIGHTS = {f"src{i}": 0.4 + (i % 5) * 0.55 for i in range(20)}


def _q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.epoch_upsample(
        docs, group_col="source", weights=_EPOCH_WEIGHTS, salt=_EPOCH_SALT
    )


def _epoch_sql() -> str:
    whole_arms = " ".join(
        f"WHEN '{g}' THEN {int(math.floor(w))}" for g, w in _EPOCH_WEIGHTS.items()
    )
    thresh_arms = " ".join(
        f"WHEN '{g}' THEN {int(round((w - math.floor(w)) * _EPOCH_PREC))}"
        for g, w in _EPOCH_WEIGHTS.items()
    )
    h = _hexfold(f"('{_EPOCH_SALT}:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH h AS (SELECT doc_id, source, {h} % {_EPOCH_PREC} AS b FROM documents),
n AS (SELECT doc_id, source,
             (CASE source {whole_arms} ELSE 1 END)
             + (CASE WHEN b < (CASE source {thresh_arms} ELSE 0 END)
                     THEN 1 ELSE 0 END) AS n
      FROM h)
SELECT doc_id, source, unnest(range(n)) AS epoch FROM n
"""


_register("epoch_upsample", _q_epoch_upsample, _epoch_sql())


# Exact-substring benchmark contamination and DSIR importance weights (Xie et
# al. 2023) — the strict-match complement of shingle decontamination, and the
# standard cheap domain-relevance scorer for mixing a web crawl toward a
# curated target.

_NEEDLE_LEN = 64


def _q_exact_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On the augmented corpus (each doc + its 80%-prefix copy): copies
    land in independent splits, so literal cross-split prefix copies exist
    and recall is verifiable."""
    aug = _aug_docs(spark, sf_dir)
    split = sampling.deterministic_split(aug, key_col="id", salt=_DECON_SALT)
    return sampling.exact_substring_contamination(split, needle_len=_NEEDLE_LEN)


_register(
    "exact_contamination",
    _q_exact_contamination,
    f"""
WITH {_AUG_SQL},
lab AS (
  SELECT id, text,
         CASE WHEN {_DECON_BUCKET} < 80 THEN 'train'
              WHEN {_DECON_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM aug),
nd AS (
  SELECT id AS holdout_id, substr(text, 1, {_NEEDLE_LEN}) AS needle
  FROM lab WHERE split = 'test' AND length(text) >= {_NEEDLE_LEN})
SELECT t.id AS train_id, nd.holdout_id
FROM lab t, nd
WHERE t.split = 'train' AND contains(t.text, nd.needle)
""",
)


_DSIR_B = 1024


def _q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.dsir_importance_weights(
        docs, target=F.col("lang") == "en", n_buckets=_DSIR_B
    )


_DSIR_BUCKET = f"({_hexfold('gram')}) % {_DSIR_B}"
_register(
    "dsir_importance_weights",
    _q_dsir,
    rf"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS tgt,
         string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id, tgt,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
  FROM t WHERE len(w) >= 2),
b AS (SELECT doc_id, tgt, {_DSIR_BUCKET} AS bkt FROM g),
counts AS (
  SELECT bkt, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct, count(*) AS cr
  FROM b GROUP BY 1),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS rr FROM counts),
model AS (
  SELECT bkt,
         round(ln((ct + 1.0) / (tt + {_DSIR_B}.0))
               - ln((cr + 1.0) / (rr + {_DSIR_B}.0)), 8) AS lr
  FROM counts, tot)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_features,
       round(CAST(sum(CAST(lr AS DECIMAL(20,10))) AS DOUBLE), 4) AS log_weight
FROM b JOIN model USING (bkt)
GROUP BY 1
""",
)


_BUDGET = 1000


def _q_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.neyman_allocation(
        docs, "source", textstats.token_count(F.col("text")).cast("long"),
        budget=_BUDGET,
    )


_TOK = (
    "CAST(CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)"
)

_register(
    "neyman_allocation",
    _q_neyman,
    f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_TOK}) AS BIGINT) AS s,
         CAST(sum({_TOK} * {_TOK}) AS BIGINT) AS sq
  FROM documents GROUP BY 1),
sc AS (
  SELECT source, n,
         sqrt(greatest(CAST(sq AS DOUBLE) / n
                       - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                       0.0)) AS sd,
         CAST(floor(CAST(n AS DOUBLE)
                    * sqrt(greatest(CAST(sq AS DOUBLE) / n
                           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                           0.0)) * 1000000.0) AS BIGINT) AS wh
  FROM per),
tot AS (
  SELECT source, n, sd, wh,
         CAST(sum(wh) OVER () AS BIGINT) AS tw,
         CAST(sum(n) OVER () AS BIGINT) AS tn
  FROM sc)
SELECT source AS stratum, n AS n_docs, round(sd, 6) AS sd,
       CAST(floor(CAST({_BUDGET} * wh AS DOUBLE) / CAST(tw AS DOUBLE) + 0.5)
            AS BIGINT) AS alloc_neyman,
       CAST(floor(CAST({_BUDGET} * n AS DOUBLE) / CAST(tn AS DOUBLE) + 0.5)
            AS BIGINT) AS alloc_proportional
FROM tot
""",
)


# --- IPF (raking) mixture weights -------------------------------------------

_IPF_ITERS = 3


def _q_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.ipf_source_lang_weights(
        td.load_table(spark, sf_dir, "documents"), iters=_IPF_ITERS
    )


def _ipf_steps() -> str:
    """Unrolled IPF half-steps: row (source) scaling then column (lang)
    scaling per iteration, weights rounded 6dp each half-step and
    marginals summed as exact decimals — bit-identical to the Spark
    trajectory."""
    prev = "g0"
    out = []
    for i in range(1, _IPF_ITERS + 1):
        out.append(
            f"""r{i} AS (SELECT source AS s2,
           CAST(sum(CAST(w AS DECIMAL(30,10))) AS DOUBLE) AS sw
      FROM {prev} GROUP BY 1),
gr{i} AS (SELECT g.source, g.lang, g.n_docs, g.total, g.ns, g.nl,
            round(g.w * (g.total / g.ns) / r.sw, 6) AS w
      FROM {prev} g JOIN r{i} r ON g.source = r.s2),
c{i} AS (SELECT lang AS l2,
           CAST(sum(CAST(w AS DECIMAL(30,10))) AS DOUBLE) AS lw
      FROM gr{i} GROUP BY 1),
g{i} AS (SELECT g.source, g.lang, g.n_docs, g.total, g.ns, g.nl,
           round(g.w * (g.total / g.nl) / c.lw, 6) AS w
      FROM gr{i} g JOIN c{i} c ON g.lang = c.l2)"""
        )
        prev = f"g{i}"
    return ",\n".join(out)


_register(
    "ipf_source_lang_weights",
    _q_ipf,
    f"""
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(n_docs) AS DOUBLE) AS total,
         CAST(count(DISTINCT source) AS DOUBLE) AS ns,
         CAST(count(DISTINCT lang) AS DOUBLE) AS nl
  FROM cells),
g0 AS (
  SELECT source, lang, n_docs, total, ns, nl, CAST(n_docs AS DOUBLE) AS w
  FROM cells, tot),
{_ipf_steps()}
SELECT source, lang, n_docs,
       w AS cell_weight,
       round(w / CAST(n_docs AS DOUBLE), 6) AS doc_weight
FROM g{_IPF_ITERS}
""",
)


# --- mixture repeat factors ----------------------------------------------------

_REPEAT_BUDGET = 1_000_000


def _q_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.mixture_repeat_factors(
        td.load_table(spark, sf_dir, "documents"), budget_tokens=_REPEAT_BUDGET
    )


_register(
    "mixture_repeat_factors",
    _q_repeat,
    rf"""
WITH w AS (
  SELECT source, lang, n_docs, cell_weight
  FROM ({ORACLES["ipf_source_lang_weights"]})),
toks AS (
  SELECT source, lang,
         CAST(sum(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS actual_tokens
  FROM documents GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(CAST(cell_weight AS DECIMAL(30,10))) AS DOUBLE) AS wtot FROM w)
SELECT w.source, w.lang, w.n_docs, toks.actual_tokens,
       round({_REPEAT_BUDGET}.0 * cell_weight / wtot, 2) AS expected_tokens,
       CASE WHEN actual_tokens > 0
            THEN round({_REPEAT_BUDGET}.0 * cell_weight / wtot / actual_tokens, 4)
            ELSE 0.0 END AS repeat_factor
FROM w JOIN toks USING (source, lang), tot
""",
)


# --- semantic split contamination -----------------------------------------------
# eval = every 5th vector by id (deterministic, content-addressed split);
# threshold at contamination grade: near-identical embeddings only.  The
# synthetic corpus has NO natural cross-split near-duplicates (max natural
# cosine ~0.45), so the query PLANTS leakage — a perturbed copy (cos
# ~0.999) of every third eval vector joins the train pool, the same
# augment-inside-the-query pattern the near-dup queries use (_AUG_EMB_SQL)
# — and the operator must flag exactly the planted vectors.

_SC_MOD, _SC_PLANT_MOD, _SC_THR, _SC_BANDS, _SC_ROWS = 5, 15, 0.98, 6, 16
_SC_PERTURB = (
    "transform(embedding, (x, i) -> cast(x + 0.001 * ((i % 3) - 1) as float))"
)


def _q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % _SC_MOD == 0).select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % _SC_PLANT_MOD == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(_SC_PERTURB).alias("embedding"),
    )
    tr = (
        emb.filter(F.col("vec_id") % _SC_MOD != 0)
        .select("vec_id", "embedding")
        .unionByName(planted)
    )
    return sampling.semantic_contamination(
        ev, tr, threshold=_SC_THR, bands=_SC_BANDS, rows_per_band=_SC_ROWS
    )


# 16-bit bands (not the miners' 8): contamination-grade cosines survive
# sharp signatures while the natural collision fraction drops ~150x --
# the knob that keeps the 10x scale measurement near-linear.
_SC_EBANDS = "\nUNION ALL\n".join(
    f"SELECT eval_id, {b} AS band, {_band_sig_sql(b, _SC_ROWS)} AS sig FROM e"
    for b in range(_SC_BANDS)
)
_SC_TBANDS = "\nUNION ALL\n".join(
    f"SELECT train_id, {b} AS band, {_band_sig_sql(b, _SC_ROWS)} AS sig FROM t"
    for b in range(_SC_BANDS)
)

_register(
    "semantic_split_contamination",
    _q_semantic_contamination,
    f"""
WITH e AS (SELECT vec_id AS eval_id, embedding FROM embeddings
           WHERE vec_id % {_SC_MOD} = 0),
t AS (SELECT vec_id AS train_id, embedding FROM embeddings
      WHERE vec_id % {_SC_MOD} <> 0
      UNION ALL
      SELECT vec_id + 1000000 AS train_id,
             list_transform(range(1, 65),
               i -> CAST(CAST(embedding[i] AS DOUBLE)
                         + 0.001 * (((i - 1) % 3) - 1) AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id % {_SC_PLANT_MOD} = 0),
ebands AS ({_SC_EBANDS}),
tbands AS ({_SC_TBANDS}),
cand AS (
  SELECT DISTINCT x.eval_id, y.train_id
  FROM ebands x JOIN tbands y ON x.band = y.band AND x.sig = y.sig),
s AS (
  SELECT c.eval_id, c.train_id,
         {_cos_sql("ev.embedding", "tv.embedding")} AS cos
  FROM cand c JOIN e ev USING (eval_id) JOIN t tv USING (train_id)),
best AS (SELECT *, row_number() OVER (PARTITION BY eval_id
                                      ORDER BY cos DESC, train_id) AS rk
         FROM s)
SELECT eval_id, train_id AS nearest_train_id, cos AS cosine_sim
FROM best WHERE rk = 1 AND cos >= {_SC_THR}
""",
)


# Training-mixture planning — a DoReMi-style exponentiated-gradient reweighting
# step and a data-constrained epoch budget planner.
#
# Reference anchor: the reference pipeline has one implicit mixture knob
# (which feeds land in config — src/rss_feed_etl/core/config.py); at
# pretraining scale the mixture IS the product, and these two queries are
# the planning steps a curation run executes before any shuffle starts.

# --- DoReMi exponentiated-gradient step over sources -----------------------------

_DM_ETA = 1.0
_DM_SMOOTH = 0.1


def _q_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.doremi_mixture_step(
        docs, eta=_DM_ETA, smoothing=_DM_SMOOTH
    )


_register(
    "doremi_mixture_step",
    _q_doremi,
    rf"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents) WHERE tok <> ''),
sc AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY 1, 2),
ps AS (SELECT source, n_tokens,
              round(ln(n_tokens) - CAST(nlogn AS DOUBLE) / n_tokens, 6)
                AS entropy
       FROM (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
                    sum(CAST(round(n * ln(n), 9) AS DECIMAL(20,10))) AS nlogn
             FROM sc GROUP BY 1)),
ref AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS gt,
               round(CAST(sum(CAST(round(entropy * n_tokens, 4)
                                   AS DECIMAL(30,10))) AS DOUBLE)
                     / CAST(sum(n_tokens) AS BIGINT), 6) AS h_ref
        FROM ps),
s1 AS (SELECT source, n_tokens,
              round(CAST(n_tokens AS DOUBLE) / gt, 9) AS token_share,
              entropy, h_ref
       FROM ps, ref),
s2 AS (SELECT source, n_tokens, token_share, entropy,
              round(greatest(0.0, entropy - h_ref), 6) AS excess FROM s1),
s3 AS (SELECT *, round(token_share * exp({_DM_ETA} * excess), 9) AS u
       FROM s2),
t AS (SELECT CAST(sum(CAST(u AS DECIMAL(20,10))) AS DOUBLE) AS usum,
             CAST(count(*) AS DOUBLE) AS k
      FROM s3)
SELECT source, n_tokens, token_share, entropy, excess,
       round({1.0 - _DM_SMOOTH} * u / usum + {_DM_SMOOTH} / k, 6) AS weight
FROM s3, t
""",
)


# --- data-constrained epoch budget over langs -------------------------------------

_EB_MULT = 3.5
_EB_MAXEP = 4.0


def _q_epoch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.epoch_budget_plan(
        docs, budget_multiplier=_EB_MULT, source_col="lang",
        max_epochs=_EB_MAXEP,
    )


_register(
    "epoch_budget_plan",
    _q_epoch_budget,
    rf"""
WITH ps AS (
  SELECT lang AS source,
         CAST(sum(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS unique_tokens
  FROM documents GROUP BY 1),
sw AS (SELECT source, unique_tokens,
              round(sqrt(CAST(unique_tokens AS DOUBLE)), 9) AS sw FROM ps),
t AS (SELECT CAST(sum(CAST(sw AS DECIMAL(20,10))) AS DOUBLE) AS swtot,
             {_EB_MULT} * CAST(sum(unique_tokens) AS DOUBLE) AS b
      FROM sw),
base AS (SELECT source, unique_tokens, sw, b,
                round(sw / swtot, 9) AS weight,
                round(b * sw / swtot, 4) AS desired_tokens,
                round({_EB_MAXEP} * unique_tokens, 4) AS cap_tokens
         FROM sw, t),
b2 AS (SELECT *,
              CASE WHEN desired_tokens < cap_tokens
                   THEN desired_tokens ELSE cap_tokens END AS first_pass,
              desired_tokens < cap_tokens AS uncapped
       FROM base),
l AS (SELECT max(b)
             - CAST(sum(CAST(first_pass AS DECIMAL(30,10))) AS DOUBLE)
               AS leftover,
             CAST(sum(CAST(CASE WHEN uncapped THEN sw ELSE 0.0 END
                           AS DECIMAL(20,10))) AS DOUBLE) AS sw_uncapped
      FROM b2),
p AS (SELECT b2.*,
             CASE WHEN uncapped AND leftover > 0
                  THEN round(leftover * sw / sw_uncapped, 4)
                  ELSE 0.0 END AS extra
      FROM b2, l),
p2 AS (SELECT *,
              CASE WHEN first_pass + extra < cap_tokens
                   THEN round(first_pass + extra, 4)
                   ELSE cap_tokens END AS realized_tokens
       FROM p)
SELECT source, unique_tokens, weight, desired_tokens, realized_tokens,
       round(realized_tokens / CAST(unique_tokens AS DOUBLE), 4) AS epochs,
       realized_tokens >= cap_tokens AS capped
FROM p2
""",
)


# Per-eval-doc contamination degree and the per-host crawl scorecard.
#
# Reference anchor: the reference dedups on exact link keys
# (src/rss_feed_etl/core/merge.py); these lift the same hygiene to the
# shapes a crawl corpus needs — shingle-level leakage fractions for eval
# suites, and host-grain dup/volume economics for blocklist decisions.

# --- contamination overlap fraction ------------------------------------------------

_CT_EVAL_MOD = 10
_CT_THRESH = 0.2


def _q_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.contamination_overlap_fraction(
        docs, eval_mod=_CT_EVAL_MOD, dirty_threshold=_CT_THRESH
    )



_register(
    "contamination_overlap_fraction",
    _q_contamination_frac,
    f"""
WITH t AS (SELECT doc_id, {_W} AS w FROM documents),
sh AS (SELECT doc_id,
              list_transform({_SHINGLES.format(w="w")}, x -> {_code("x")}) AS s
       FROM t),
e AS (SELECT doc_id, unnest(s) AS code FROM sh
      WHERE doc_id % {_CT_EVAL_MOD} = 0),
tr AS (SELECT DISTINCT unnest(s) AS code FROM sh
       WHERE doc_id % {_CT_EVAL_MOD} <> 0),
h AS (SELECT e.doc_id,
             count(*) AS n_shingles,
             sum(CASE WHEN tr.code IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM e LEFT JOIN tr USING (code) GROUP BY 1),
ids AS (SELECT doc_id FROM documents WHERE doc_id % {_CT_EVAL_MOD} = 0)
SELECT ids.doc_id,
       CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
       coalesce(round(CAST(n_hit AS DOUBLE) / n_shingles, 6), 0.0)
         AS dirty_frac,
       coalesce(CAST(n_hit AS DOUBLE) / n_shingles
                  >= CAST({_CT_THRESH} AS DOUBLE), FALSE) AS is_dirty
FROM ids LEFT JOIN h USING (doc_id)
""",
)


# --- length-matched eval/train pairs -----------------------------------------------

_LM_MOD = 10


def _q_length_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.length_matched_pairs(
        docs, eval_mod=_LM_MOD, group_col="lang"
    )


_register(
    "length_matched_pairs",
    _q_length_matched,
    rf"""
WITH base AS (
  SELECT doc_id AS id, lang AS g,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
           AS len,
         doc_id % {_LM_MOD} = 0 AS is_eval
  FROM documents),
stair AS (
  SELECT id, g, len, is_eval,
         last_value(CASE WHEN NOT is_eval THEN len END IGNORE NULLS)
           OVER w1 AS prev_len,
         last_value(CASE WHEN NOT is_eval THEN id END IGNORE NULLS)
           OVER w1 AS prev_id,
         first_value(CASE WHEN NOT is_eval THEN len END IGNORE NULLS)
           OVER w2 AS next_len,
         first_value(CASE WHEN NOT is_eval THEN id END IGNORE NULLS)
           OVER w2 AS next_id
  FROM base
  WINDOW w1 AS (PARTITION BY g ORDER BY len ASC, is_eval ASC, id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w2 AS (PARTITION BY g ORDER BY len ASC, is_eval ASC, id ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
ev AS (SELECT *, prev_id IS NOT NULL
              AND (next_id IS NULL OR abs(len - prev_len) <= abs(len - next_len))
              AS use_prev
       FROM stair
       WHERE is_eval AND (prev_id IS NOT NULL OR next_id IS NOT NULL))
SELECT id AS eval_id,
       CASE WHEN use_prev THEN prev_id ELSE next_id END AS train_id,
       len AS eval_len,
       CASE WHEN use_prev THEN prev_len ELSE next_len END AS train_len,
       CASE WHEN use_prev THEN abs(len - prev_len)
            ELSE abs(len - next_len) END AS len_diff
FROM ev
""",
)


# UniMax budget allocation and the pairwise embedding MMD matrix.
#
# Reference anchor: the reference republishes whatever volume each feed
# produced (no mixing policy at all, src/etl/rss_feed_etl.py); UniMax
# (Chung et al. 2023) completes the mixture-planning family (temperature /
# IPF / DoReMi / epoch-budget already registered) with the fairness-first
# cap-constrained uniform allocation, and the MMD matrix (Gretton et al.
# 2012) is the embedding-space distributional companion of the trigram
# JSD matrix — the two-sample test a mixture planner runs before merging
# class buckets.

_UM_FRAC = 0.5
_UM_EPOCHS = 4


def _q_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return sampling.unimax_allocation(
        docs, budget_frac=_UM_FRAC, max_epochs=_UM_EPOCHS
    )



_register(
    "unimax_allocation",
    _q_unimax,
    f"""
WITH per AS (SELECT source AS g, CAST(sum({_NTOK}) AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
staged AS (
  SELECT g, n_tokens,
         CAST(n_tokens * {_UM_EPOCHS} AS BIGINT) AS cap,
         CAST(floor(CAST(sum(n_tokens) OVER () AS DOUBLE) * {_UM_FRAC})
              AS BIGINT) AS budget,
         row_number() OVER (ORDER BY n_tokens * {_UM_EPOCHS} ASC, g ASC) AS i,
         count(*) OVER () AS s_total,
         CAST(coalesce(sum(n_tokens * {_UM_EPOCHS}) OVER (
             ORDER BY n_tokens * {_UM_EPOCHS} ASC, g ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_prev
  FROM per),
flagged AS (
  SELECT *, CAST(CAST(cap AS DOUBLE) <=
                 CAST(budget - cum_prev AS DOUBLE) / (s_total - i + 1)
            AS INT) AS capped
  FROM staged),
solved AS (
  SELECT *,
         CAST(sum(capped) OVER () AS BIGINT) AS k,
         CAST(coalesce(sum(CASE WHEN capped = 1 THEN cap END) OVER (), 0)
              AS BIGINT) AS cum_capped
  FROM flagged),
fin AS (
  SELECT *,
         CASE WHEN s_total > k
              THEN CAST(budget - cum_capped AS DOUBLE) / (s_total - k)
         END AS ustar
  FROM solved)
SELECT g AS source, n_tokens, cap AS cap_tokens, capped,
       round(CASE WHEN capped = 1 THEN CAST(cap AS DOUBLE) ELSE ustar END, 6)
         AS allocation_tokens,
       round(CASE WHEN capped = 1 THEN CAST(cap AS DOUBLE) ELSE ustar END
             / CAST(n_tokens AS DOUBLE), 6) AS epochs
FROM fin
""",
)

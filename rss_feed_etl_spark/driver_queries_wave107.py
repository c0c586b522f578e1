"""Driver-contract queries, wave 107: the capstone curation pipeline
(VERDICT r6 #7) — ingest → quality gate → exact dedup → near dedup →
split + exact decontamination → semantic decontamination → mixture
weights → sequence packing, composed in ``plans/curation_pipeline.py``
and verified end-to-end against ONE DuckDB oracle that replays every
stage with the SAME SQL fragments the individual stage oracles use
(``_SHINGLES``/``_code``/``_MH_LIST``/``_BAND_LIST``/``_band_sig_sql``/
``_cos_sql``/``_hexfold``; the Gopher gate is ``ORACLES
["gopher_quality_flags"]`` reused verbatim over the augmented corpus —
the ``source_scorecard`` compositional technique).

The registered query runs on an AUGMENTED corpus that plants one leak
family per stage, so the correctness gate exercises every stage with
nonzero drops (the synthetic corpus alone has no exact duplicates and
no contamination-grade embedding pairs):

* ``+1M`` — near-dup plants: every 25th token replaced (true Jaccard
  ~0.7 → caught by the banded MinHash stage);
* ``+2M`` — exact copies (caught by the fingerprint dedup);
* ``+3M`` — contamination plants: the first 12 tokens of an EVAL-split
  original + 43 unique filler tokens (shares >= 3 shingles with the
  holdout but Jaccard ~0.1, so it sails past near-dedup and dies at
  the exact-decontamination stage);
* ``+4M`` — semantic plants: fully unique text whose EMBEDDING is the
  wave-103 perturbation (cos ~0.999) of an eval original's vector — no
  shingle overlap anywhere, caught only by the semantic stage.

Reference anchor: composes the reference's filter → dedup → merge
pipeline (src/etl/rss_feed_etl.py) into the end-to-end LLM-curation
shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import ORACLES, _register
from .driver_queries_corpus import (
    _BAND_LIST,
    _MH_LIST,
    _SHINGLES,
    _W,
    _band_sig_sql,
    _code,
    _cos_sql,
    _hexfold,
)
from .functions.hashing import md5_bucket
from .functions.text import tokens
from .operators.dedup import LSH_BANDS, N_MINHASH
from .plans.curation_pipeline import curation_pipeline

_CUR_SPLIT_SALT = "cur-split-v1"
_CUR_PACK_SALT = "cur-pack-v1"
_CUR_EVAL_PCT = 10
_CUR_MINSTOP = 0  # multilingual corpus: re-threshold the EN stopword rule
_CUR_SEQ = 512
_CUR_MAXDF = 1000
_CUR_MINSHARED = 3
_CUR_MH_THR = 0.25
_CUR_SEM_THR = 0.98
_CUR_SEM_BANDS, _CUR_SEM_ROWS = 6, 16


def _aug_curation(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Augmented (documents, embeddings) with the four plant families."""
    docs = td.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    emb = td.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    w = tokens("text")
    is_eval = (
        md5_bucket(
            F.concat(F.lit(_CUR_SPLIT_SALT + ":"), F.col("doc_id").cast("string"))
        )
        % 100
        < _CUR_EVAL_PCT
    )
    # plant ids are aliased to the OUTPUT name "id" (never back to
    # "doc_id"): Spark's lateral-column-alias resolution would otherwise
    # make the filler expressions below read the shifted alias instead of
    # the input column, while DuckDB reads the input — a measured 103-row
    # text divergence before this rename
    near = docs.select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.array_join(
            F.transform(
                w,
                lambda t, i: F.when(
                    i % 25 == 0,
                    F.concat(F.lit("x"), (i + F.lit(1)).cast("string")),
                ).otherwise(t),
            ),
            " ",
        ).alias("text"),
        "source",
    )
    exact = docs.select(
        (F.col("doc_id") + 2000000).alias("id"), "text", "source"
    )
    filler_c = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(43)),
            lambda j: F.concat(
                F.lit("f"), F.col("doc_id").cast("string"), F.lit("x"),
                j.cast("string"),
            ),
        ),
    )
    contam = docs.filter(is_eval & (F.size(w) >= 12)).select(
        (F.col("doc_id") + 3000000).alias("id"),
        F.concat_ws(" ", F.array_join(F.slice(w, 1, 12), " "), filler_c).alias(
            "text"
        ),
        "source",
    )
    filler_d = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(55)),
            lambda j: F.concat(
                F.lit("g"), F.col("doc_id").cast("string"), F.lit("x"),
                j.cast("string"),
            ),
        ),
    )
    eval_with_emb = docs.filter(is_eval).join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id"
    )
    sem = eval_with_emb.select(
        (F.col("doc_id") + 4000000).alias("id"),
        filler_d.alias("text"),
        "source",
    )
    docs_aug = (
        docs.withColumnRenamed("doc_id", "id")
        .unionByName(near)
        .unionByName(exact)
        .unionByName(contam)
        .unionByName(sem)
    )
    # D-plant embeddings: the wave-103 perturbation (cos ~0.999)
    perturb = F.transform(
        "embedding",
        lambda x, i: (x.cast("double") + 0.001 * ((i % 3) - 1)).cast("float"),
    )
    emb_d = emb.join(
        eval_with_emb.select(F.col("doc_id").alias("vec_id")), "vec_id"
    ).select((F.col("vec_id") + 4000000).alias("vec_id"), perturb.alias("embedding"))
    return docs_aug, emb.unionByName(emb_d)


def _q_curation(
    spark: SparkSession, sf_dir: str, stage_timings: dict | None = None
) -> DataFrame:
    # the trailing kwarg is outside the driver contract (the driver calls
    # with two positionals); bench.py passes a dict to get the per-stage
    # breakdown (VERDICT r7 #5) from the identical registered query
    docs_aug, emb_aug = _aug_curation(spark, sf_dir)
    return curation_pipeline(
        docs_aug,
        emb_aug,
        id_col="id",
        stage_timings=stage_timings,
        eval_pct=_CUR_EVAL_PCT,
        split_salt=_CUR_SPLIT_SALT,
        minhash_threshold=_CUR_MH_THR,
        min_shared=_CUR_MINSHARED,
        max_df=_CUR_MAXDF,
        sem_threshold=_CUR_SEM_THR,
        sem_bands=_CUR_SEM_BANDS,
        sem_rows=_CUR_SEM_ROWS,
        seq_len=_CUR_SEQ,
        pack_salt=_CUR_PACK_SALT,
        min_stopwords=_CUR_MINSTOP,
    )


# --- the oracle -------------------------------------------------------------

_SPLIT_HEX = _hexfold(f"('{_CUR_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR))")
_SPLIT_HEX_ID = _hexfold(f"('{_CUR_SPLIT_SALT}:' || CAST(id AS VARCHAR))")
_PACK_HEX = _hexfold(f"('{_CUR_PACK_SALT}:' || CAST(id AS VARCHAR))")

# Gopher gate reused verbatim over the augmented corpus (keep is
# re-thresholded from the emitted metric columns, the gate's documented
# pattern; _CUR_MINSTOP = 0 disables the EN stopword rule)
_GOPHER_SQL = ORACLES["gopher_quality_flags"]
assert _GOPHER_SQL.count("FROM documents") == 1, "gopher oracle shape changed"
_GOPHER_AUG = _GOPHER_SQL.replace(
    "FROM documents", "FROM (SELECT id AS doc_id, text FROM aug)"
)

_SEM_EBANDS = "\nUNION ALL\n".join(
    f"SELECT eval_id, {b} AS band, {_band_sig_sql(b, _CUR_SEM_ROWS)} AS sig FROM e"
    for b in range(_CUR_SEM_BANDS)
)
_SEM_TBANDS = "\nUNION ALL\n".join(
    f"SELECT train_id, {b} AS band, {_band_sig_sql(b, _CUR_SEM_ROWS)} AS sig FROM t"
    for b in range(_CUR_SEM_BANDS)
)

_register(
    "curation_pipeline",
    _q_curation,
    rf"""
WITH w0 AS MATERIALIZED (
  SELECT doc_id, text, source,
         string_split_regex(trim(text), '\s+') AS w,
         ({_SPLIT_HEX} % 100 < {_CUR_EVAL_PCT}) AS ev
  FROM documents),
aug AS MATERIALIZED (
  SELECT doc_id AS id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(list_transform(range(1, len(w) + 1),
           i -> CASE WHEN (i - 1) % 25 = 0 THEN 'x' || CAST(i AS VARCHAR)
                     ELSE w[i] END), ' '),
         source
  FROM w0
  UNION ALL
  SELECT doc_id + 2000000, text, source FROM documents
  UNION ALL
  SELECT doc_id + 3000000,
         array_to_string(w[1:12], ' ') || ' ' ||
         array_to_string(list_transform(range(1, 44),
           j -> 'f' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' '),
         source
  FROM w0 WHERE ev AND len(w) >= 12
  UNION ALL
  SELECT doc_id + 4000000,
         array_to_string(list_transform(range(1, 56),
           j -> 'g' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' '),
         source
  FROM w0 JOIN embeddings emq ON emq.vec_id = w0.doc_id WHERE ev),
embaug AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT e.vec_id + 4000000,
         list_transform(range(1, 65),
           i -> CAST(CAST(e.embedding[i] AS DOUBLE)
                     + 0.001 * (((i - 1) % 3) - 1) AS FLOAT))
  FROM embeddings e JOIN w0 ON w0.doc_id = e.vec_id WHERE w0.ev),
gq AS MATERIALIZED (
  SELECT doc_id AS id FROM ({_GOPHER_AUG})
  WHERE flag_word_count = 1 AND flag_mean_word_len = 1 AND flag_alpha = 1
        AND n_stopwords >= {_CUR_MINSTOP}),
s1 AS MATERIALIZED (SELECT a.* FROM aug a JOIN gq USING (id)),
fps AS (SELECT id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
        FROM s1),
ew AS (SELECT id FROM (
         SELECT id, row_number() OVER (PARTITION BY f ORDER BY id) AS rn
         FROM fps) WHERE rn = 1),
s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN ew USING (id)),
codes AS (SELECT id, list_transform({_SHINGLES.format(w=_W)}, s -> {_code("s")})
              AS codes
          FROM s2),
sigs AS MATERIALIZED (SELECT id, [{_MH_LIST}] AS sig FROM codes),
banded AS MATERIALIZED (SELECT id, sig, unnest([{_BAND_LIST}]) AS bucket FROM sigs),
bok AS (SELECT bucket FROM banded GROUP BY bucket HAVING count(*) <= 10000),
bk AS (SELECT banded.* FROM banded JOIN bok USING (bucket)),
mcand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id),
nd AS (SELECT DISTINCT id_b AS id FROM mcand
       WHERE round(len(list_filter(range(1, {N_MINHASH} + 1),
                    i -> sig_a[i] = sig_b[i])) / {N_MINHASH}, 6) >= {_CUR_MH_THR}),
s3 AS MATERIALIZED (SELECT s2.* FROM s2 WHERE id NOT IN (SELECT id FROM nd)),
sp AS MATERIALIZED (SELECT s3.*, ({_SPLIT_HEX_ID} % 100 < {_CUR_EVAL_PCT}) AS ev FROM s3),
shq AS MATERIALIZED (SELECT id, ev, unnest({_SHINGLES.format(w=_W)}) AS shingle FROM sp),
hold AS (SELECT id, shingle FROM shq WHERE ev),
keepb AS (SELECT shingle FROM hold GROUP BY 1 HAVING count(*) <= {_CUR_MAXDF}),
pc AS (SELECT t.id AS train_id, count(*) AS shared
       FROM (SELECT id, shingle FROM shq WHERE NOT ev) t
       JOIN (SELECT h.id AS hid, h.shingle
             FROM hold h JOIN keepb USING (shingle)) h USING (shingle)
       GROUP BY t.id, h.hid),
cdrop AS (SELECT DISTINCT train_id AS id FROM pc WHERE shared >= {_CUR_MINSHARED}),
s4 AS MATERIALIZED (SELECT sp.* FROM sp
       WHERE NOT ev AND id NOT IN (SELECT id FROM cdrop)),
e AS MATERIALIZED (SELECT sp.id AS eval_id, em.embedding FROM sp
      JOIN embaug em ON em.vec_id = sp.id WHERE sp.ev),
t AS MATERIALIZED (SELECT s4.id AS train_id, em.embedding FROM s4
      JOIN embaug em ON em.vec_id = s4.id),
ebands AS ({_SEM_EBANDS}),
tbands AS ({_SEM_TBANDS}),
scand AS (SELECT DISTINCT x.eval_id, y.train_id
          FROM ebands x JOIN tbands y ON x.band = y.band AND x.sig = y.sig),
sc AS (SELECT c.eval_id, c.train_id,
              {_cos_sql("ev.embedding", "tv.embedding")} AS cos
       FROM scand c JOIN e ev USING (eval_id) JOIN t tv USING (train_id)),
sbest AS (SELECT *, row_number() OVER (PARTITION BY eval_id
                                       ORDER BY cos DESC, train_id) AS rk
          FROM sc),
sdrop AS (SELECT DISTINCT train_id AS id FROM sbest
          WHERE rk = 1 AND cos >= {_CUR_SEM_THR}),
s5 AS MATERIALIZED (SELECT s4.id, s4.source, s4.text FROM s4
       WHERE id NOT IN (SELECT id FROM sdrop)),
clean AS MATERIALIZED (SELECT id, source,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END
                      AS BIGINT) AS n_tokens
          FROM s5),
staged AS (SELECT id, source, n_tokens, {_PACK_HEX} AS h FROM clean),
cum AS (SELECT id, source, n_tokens,
               sum(n_tokens) OVER (ORDER BY h % 1024, h, id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) - n_tokens AS strt
        FROM staged),
pk AS MATERIALIZED (SELECT id, source, CAST(floor(strt / {_CUR_SEQ}) AS BIGINT) AS seq_id
       FROM cum),
fr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM aug GROUP BY 1),
f1 AS (SELECT a.source, CAST(count(*) AS BIGINT) AS n_quality
       FROM aug a JOIN gq USING (id) GROUP BY 1),
f2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM s2 GROUP BY 1),
f3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_near FROM s3 GROUP BY 1),
f4 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_train FROM s4 GROUP BY 1),
cl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_clean,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       FROM clean GROUP BY 1),
whc AS (SELECT source, n_clean, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
                   AS wh
        FROM cl),
twh AS (SELECT sum(wh) AS tw FROM whc),
pq2 AS (SELECT source, CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs
        FROM pk GROUP BY 1)
SELECT fr.source, fr.n_raw,
       CAST(coalesce(f1.n_quality, 0) AS BIGINT) AS n_quality,
       CAST(coalesce(f2.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(coalesce(f3.n_near, 0) AS BIGINT) AS n_near,
       CAST(coalesce(f4.n_train, 0) AS BIGINT) AS n_train,
       CAST(coalesce(whc.n_clean, 0) AS BIGINT) AS n_clean,
       CAST(coalesce(whc.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(round(CAST(whc.wh AS DOUBLE) / CAST(twh.tw AS DOUBLE), 6), 0.0)
           AS mix_weight,
       CAST(coalesce(pq2.n_seqs, 0) AS BIGINT) AS n_seqs
FROM fr
LEFT JOIN f1 USING (source)
LEFT JOIN f2 USING (source)
LEFT JOIN f3 USING (source)
LEFT JOIN f4 USING (source)
LEFT JOIN whc USING (source)
LEFT JOIN pq2 USING (source)
CROSS JOIN twh
""",
)

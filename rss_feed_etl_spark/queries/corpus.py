"""Corpus operators (dedup / similarity / text analysis), scalar-function
queries, and multi-join OLAP aggregates.

Registered into ``driver_queries.QUERIES`` / ``ORACLES``.  Every hash or
arithmetic formula is engine-independent (md5-derived codes, sequential
folds, explicit rounding) — see functions/hashing.py.

The synthetic corpus has no natural near-duplicates (max 3-gram Jaccard
≈0.03, max embedding cosine ≈0.47), so the near-dup queries run on a
deterministically AUGMENTED corpus: every document unioned with its
80 %-token-prefix copy (doc_id+1000000), every embedding with a small
deterministic perturbation of itself (vec_id+1000000).  Both engines build
the augmentation with identical IEEE arithmetic, and the known pairs make
recall observable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import _register
from ..functions.hashing import MOD
from ..operators import dedup, similarity, textstats
from ..operators.dedup import LSH_BANDS, N_MINHASH
from ..functions.text import tokens
from ..functions.timestamps import lenient_to_timestamp
from ..schemas import STAGE_SCHEMA, conform, stringify_for_sink

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------


def _hexfold(x: str) -> str:
    """md5-prefix → bigint, identical to Spark's conv(substr(md5,1,15),16,10)."""
    return (
        f"list_reduce(list_transform(string_split(substr(md5({x}),1,15), ''), "
        f"c -> position(c IN '0123456789abcdef')-1), (a,b) -> a*16+b)"
    )


def _code(x: str) -> str:
    return f"({_hexfold(x)} % {MOD})"


_TOKS = "string_split_regex(trim({c}), '\\s+')"
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len({w})-2,1)+1), "
    "i -> {w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2]))"
)

_AUG_SQL = """
aug AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS id,
         array_to_string(w[1:CAST(ceil(0.8*len(w)) AS INT)], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents))
"""


def _stage_waves(
    spark: SparkSession,
    docs: DataFrame,
    work: str,
    n_waves: int,
) -> tuple[str, DataFrame]:
    """Stage a corpus into one landing file per arrival wave
    (wave ``k`` = ``id % n_waves``) for the incremental-fold queries, in a
    SINGLE partitioned write pass.

    The previous staging loop checkpointed the full augmented corpus
    eagerly, then ran one filtered ``repartition(1)`` write per wave —
    ``n_waves`` extra corpus scans plus a corpus-sized block-manager pin
    whose only purpose was feeding those scans (guide §2.4: remove
    passes).  One ``partitionBy("__wave")`` write produces the identical
    per-wave row sets (the partition column is directory-encoded, so the
    moved files carry exactly the original columns), each wave lands in
    exactly one task (hash partitioning on the wave value), and the
    scorecard's raw counts re-read the landed parquet instead of the
    pinned corpus.  Returns ``(landing_dir, landed_df)``.
    """
    import os
    import shutil

    landing = os.path.join(work, "landing")
    staged = os.path.join(work, "staged")
    os.makedirs(landing, exist_ok=True)
    (
        docs.withColumn("__wave", (F.col("doc_id") % n_waves).cast("int"))
        .repartition(n_waves * 8, "__wave")
        .write.mode("overwrite")
        .partitionBy("__wave")
        .parquet(staged)
    )
    for k in range(n_waves):
        d = os.path.join(staged, f"__wave={k}")
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, f"wave {k}: expected one file, got {parts}"
        shutil.move(
            os.path.join(d, parts[0]), os.path.join(landing, f"wave{k}.parquet")
        )
    shutil.rmtree(staged, ignore_errors=True)
    return landing, spark.read.parquet(landing)


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    trunc = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.ceil(F.size(toks) * 0.8).cast("int"))
        ).alias("text"),
    )
    # the parquet input is 1-2 files; the shingle/hash map work downstream
    # is CPU-bound, so spread it across the session's parallelism (at real
    # scale inputs arrive in thousands of partitions and this becomes a
    # cheap no-op-ish rebalance of small id+text rows)
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        docs.select(F.col("doc_id"), "text")
        .unionByName(trunc)
        .withColumnRenamed("doc_id", "id")
        .repartition(par)
    )


# --- exact dedup ----------------------------------------------------------


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _aug_docs(spark, sf_dir)
    # copies of a doc (same normalized text) collapse to the smallest id
    dup = docs.unionByName(
        docs.withColumn("id", F.col("id") + 2000000)  # exact duplicates
    )
    return dedup.dedup_exact(dup, text_col="text", id_col="id")


_register(
    "dedup_exact",
    _q_dedup_exact,
    f"""
WITH {_AUG_SQL},
dup AS (SELECT id, text FROM aug UNION ALL SELECT id + 2000000 AS id, text FROM aug),
fp AS (SELECT id, text,
              md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
       FROM dup),
r AS (SELECT id, f, text, row_number() OVER (PARTITION BY f ORDER BY id ASC) AS rn FROM fp)
SELECT id, text FROM r WHERE rn = 1
""",
)


# --- n-gram Jaccard near-dup pairs ---------------------------------------


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text", n=3, threshold=0.5
    )


_W = "string_split_regex(trim(text), '\\s+')"
_register(
    "ngram_jaccard_neardup",
    _q_ngram_jaccard,
    f"""
WITH {_AUG_SQL},
sh AS (SELECT id, list_transform({_SHINGLES.format(w=_W)}, x -> {_code("x")}) AS s FROM aug),
ex AS (SELECT id, unnest(s) AS shingle FROM sh),
-- mirror the Spark query's max_df=1000 hot-shingle cap so guarded and
-- oracle semantics stay identical even when a bucket crosses the cap
kept AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 1000),
exk AS (SELECT ex.id, ex.shingle FROM ex JOIN kept USING (shingle)),
sz AS (SELECT id, count(*) AS n FROM exk GROUP BY id),
p AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2)
SELECT id_a, id_b,
       round(common * 1.0 / (x.n + y.n - common), 6) AS jaccard
FROM p JOIN sz x ON p.id_a = x.id JOIN sz y ON p.id_b = y.id
WHERE round(common * 1.0 / (x.n + y.n - common), 6) >= 0.5
""",
)


# --- MinHash + LSH --------------------------------------------------------

_COEFFS = [((2 * i + 1) * 2654435761 % MOD, (i * i + i + 41) % MOD) for i in range(N_MINHASH)]
_ROWS_PER_BAND = N_MINHASH // LSH_BANDS


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text", n=3, threshold=0.25
    )


_MH_LIST = ", ".join(
    f"list_min(list_transform(codes, c -> (c * {a} + {b}) % {MOD}))" for a, b in _COEFFS
)
def _band_expr(b: int) -> str:
    casts = " || ',' || ".join(
        f"CAST(sig[{b * _ROWS_PER_BAND + r + 1}] AS VARCHAR)" for r in range(_ROWS_PER_BAND)
    )
    return f"md5('{b}' || ',' || {casts})"


_BAND_LIST = ", ".join(_band_expr(b) for b in range(LSH_BANDS))

_register(
    "minhash_lsh_neardup",
    _q_minhash_lsh,
    f"""
WITH {_AUG_SQL},
codes AS (SELECT id, list_transform({_SHINGLES.format(w=_W)}, s -> {_code("s")}) AS codes
          FROM aug),
sigs AS (SELECT id, [{_MH_LIST}] AS sig FROM codes),
banded AS (SELECT id, sig, unnest([{_BAND_LIST}]) AS bucket FROM sigs),
-- mirror the Spark query's max_bucket=10000 degenerate-bucket cap
bok AS (SELECT bucket FROM banded GROUP BY bucket HAVING count(*) <= 10000),
bk AS (SELECT banded.* FROM banded JOIN bok USING (bucket)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id),
est AS (
  SELECT id_a, id_b,
         round(len(list_filter(range(1, {N_MINHASH} + 1),
                               i -> sig_a[i] = sig_b[i])) / {N_MINHASH}, 6) AS est_jaccard
  FROM cand)
SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.25
""",
)


# --- SimHash --------------------------------------------------------------


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, id_col="doc_id", text_col="text", bits=32)


_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(codes, c -> (c >> {b}) & 1 = 1)) > len(codes) "
    f"THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
    for b in range(32)
)

_register(
    "simhash_fingerprint",
    _q_simhash,
    f"""
WITH codes AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(lower(text)), '\\s+'), t -> {_code("t")}) AS codes
  FROM documents)
SELECT doc_id, {_SIMHASH_BITS} AS simhash FROM codes
""",
)


# --- text stats / lang id / fingerprint ----------------------------------


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.text_stats(td.load_table(spark, sf_dir, "documents"))


_NTOK = "CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"
_STOPLIST = ", ".join(f"'{w}'" for w in textstats.STOPWORDS_EN)

_register(
    "text_quality_stats",
    _q_text_stats,
    f"""
WITH s AS (
  SELECT doc_id,
         {_NTOK} AS n_tokens,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.!,?;:]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> lower(t) IN ({_STOPLIST}))) AS n_stop
  FROM documents)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       round(CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN n_tokens > 0 THEN n_stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END, 6) AS stopword_ratio,
       round(least(1.0, n_tokens / 50.0) * 0.4
             + (CASE WHEN n_tokens > 0 THEN n_stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 0.3
             + (1.0 - (CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END)) * 0.3,
             6) AS quality
FROM s
""",
)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(td.load_table(spark, sf_dir, "documents"))


_LANGS = list(textstats.LANG_PROFILES)
_SCORES = ",\n       ".join(
    "len(list_filter(toks, t -> t IN ({lst}))) AS score_{lang}".format(
        lst=", ".join(f"'{w}'" for w in textstats.LANG_PROFILES[lang]), lang=lang
    )
    for lang in _LANGS
)
_BEST = "greatest(" + ", ".join(f"score_{lang}" for lang in _LANGS) + ")"
_PRED = (
    "CASE WHEN " + _BEST + " = 0 THEN 'und' "
    + " ".join(f"WHEN score_{lang} = {_BEST} THEN '{lang}'" for lang in _LANGS)
    + " ELSE 'und' END"
)

_register(
    "lang_id",
    _q_lang_id,
    f"""
WITH t AS (
  SELECT doc_id, list_transform(string_split_regex(trim(text), '\\s+'), t -> lower(t)) AS toks
  FROM documents),
s AS (SELECT doc_id, {_SCORES} FROM t)
SELECT doc_id, {_PRED} AS pred_lang,
       {", ".join(f"CAST(score_{lang} AS BIGINT) AS score_{lang}" for lang in _LANGS)}
FROM s
""",
)


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(td.load_table(spark, sf_dir, "documents"))


_register(
    "doc_fingerprint",
    _q_fingerprint,
    f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), '\\s+') AS toks
  FROM documents)
SELECT doc_id,
       CASE WHEN len(toks) = 0 THEN 0
            ELSE list_reduce(list_transform(toks, t -> {_code("t")}),
                             (a, b) -> (a * 31 + b) % {MOD}) END AS fingerprint
FROM t
""",
)


# --- embedding similarity -------------------------------------------------

_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
_NRM = (
    "sqrt(list_reduce(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round({_DOT.format(a=a, b=b)} / ({_NRM.format(a=a)} * {_NRM.format(a=b)}), 4)"
    )


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


_register(
    "ann_cosine_topk",
    _q_cosine_topk,
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql("q.qv", "e.embedding")} AS cosine_sim
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
)


_AUG_EMB_SQL = """
aug_emb AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(1, 65),
           i -> embedding[i] + CAST(0.01 * ((i * 7) % 5 - 2) AS FLOAT)) AS embedding
  FROM embeddings)
"""


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(1), F.lit(64)),
            lambda v, i: v + (F.lit(0.01) * (((i * 7) % 5) - 2)).cast("float"),
        ).alias("embedding"),
    )
    return emb.unionByName(pert)


def _q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The registered query runs the banded-LSH scale path (guards active);
    # the exact all-pairs embedding_neardup_pairs stays the test baseline.
    return similarity.embedding_neardup_pairs_lsh(
        _aug_embeddings(spark, sf_dir), threshold=0.99
    )


def _band_sig_sql(b: int, rows: int = 8) -> str:
    # mirrors similarity.banded_signatures(bands, rows): bit r set iff the
    # projection onto hyperplane h=b*rows+r is positive; sign(h, j) is the
    # splitmix-style hash of n = h*1024 + j + 1 (DuckDB range is 1-based,
    # so n = h*1024 + i); components integer-quantized (floor(v*2^20) —
    # *2^20 is exact in fp, so the bigint sum matches numpy's int64 GEMM)
    bits = []
    for r in range(rows):
        base = (b * rows + r) * 1024
        proj = (
            "list_reduce(list_transform(range(1, 65), "
            "i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) * "
            f"(CASE WHEN ((xor(({base}+i)*2654435761, (({base}+i)*2654435761) >> 21) % 2097152)"
            f" * 2246822519 >> 20) % 2 = 0 THEN 1 ELSE -1 END)), "
            "(x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN CAST({2**r} AS BIGINT) ELSE 0 END)")
    return " + ".join(bits)


_EMB_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT vec_id, {b} AS band, {_band_sig_sql(b)} AS sig FROM aug_emb"
    for b in range(6)
)

_register(
    "embedding_cosine_neardup",
    _q_neardup_embedding,
    f"""
WITH {_AUG_EMB_SQL},
bands AS ({_EMB_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id)
SELECT c.id_a, c.id_b,
       {_cos_sql("a.embedding", "b.embedding")} AS cosine_sim
FROM cand c
JOIN aug_emb a ON a.vec_id = c.id_a
JOIN aug_emb b ON b.vec_id = c.id_b
WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.99
""",
)


# --- TF-IDF pairwise similarity (reference A5/X5) -------------------------


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    # n_docs=None → derived in-plan (broadcast 1-row count aggregate), so
    # building the query runs no eager action; max_df_frac guard active by
    # default — the registered query runs the scale-safe form
    return similarity.tfidf_cosine_pairs(docs, min_sim=0.5, max_df_frac=0.1)


_register(
    "tfidf_cosine_pairs",
    _q_tfidf,
    f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
toks AS (SELECT doc_id AS id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM d),
tf AS (SELECT id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM d),
idf AS (SELECT term, ln((1.0 + (SELECT n_docs FROM n)) / (1.0 + count(DISTINCT id))) + 1.0 AS idf
        FROM tf GROUP BY term
        HAVING count(DISTINCT id) <= 0.1 * (SELECT n_docs FROM n)),
w AS (SELECT tf.id, tf.term, tf.tf * idf.idf AS w FROM tf JOIN idf ON tf.term = idf.term),
nrm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY id),
wn AS (SELECT w.id, w.term, w.w / nrm.nrm AS wn FROM w JOIN nrm ON w.id = nrm.id)
SELECT a.id AS id_a, b.id AS id_b, round(sum(a.wn * b.wn), 4) AS tfidf_cosine
FROM wn a JOIN wn b ON a.term = b.term AND a.id < b.id
GROUP BY 1, 2
HAVING round(sum(a.wn * b.wn), 4) >= 0.5
""",
)


# --- lexicon skills match (reference A4/X2) -------------------------------

from ..testdata import LEXICON, RESUME_SKILLS  # noqa: E402 (shared constants)


def _q_skills(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.skills_match(
        td.load_table(spark, sf_dir, "documents"), RESUME_SKILLS, LEXICON
    )


_LEX = ", ".join(f"'{w}'" for w in sorted(LEXICON))
_RES = ", ".join(f"'{w}'" for w in sorted(RESUME_SKILLS))

_register(
    "skills_match",
    _q_skills,
    f"""
WITH t AS (
  SELECT doc_id,
         list_sort(list_intersect(list_distinct(list_transform(
           string_split_regex(trim(text), '\\s+'), x -> lower(x))), [{_LEX}])) AS job_skills
  FROM documents)
SELECT doc_id,
       COALESCE(array_to_string(job_skills, ','), '') AS job_skills,
       COALESCE(array_to_string(list_sort(list_intersect(job_skills, [{_RES}])), ','), '') AS matched_skills,
       COALESCE(array_to_string(list_sort(list_filter(job_skills, s -> s NOT IN ({_RES}))), ','), '') AS missing_skills,
       CASE WHEN len(job_skills) > 0
            THEN round(len(list_intersect(job_skills, [{_RES}])) * 100.0 / len(job_skills), 2)
            ELSE 0.0 END AS match_percentage
FROM t
""",
)


# --- scalar-function queries (F7, F9/F6, F16, P2 conform) -----------------


def _q_lenient_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    raw = (
        F.when(F.col("event_id") % 4 == 0, F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("event_id") % 4 == 1, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("event_id") % 4 == 2, F.lit("not a date"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd"))
    )
    return ev.select(
        "event_id",
        raw.alias("raw"),
        lenient_to_timestamp(
            raw, ["yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd"]
        ).alias("parsed"),
    )


_register(
    "lenient_timestamp_parse",
    _q_lenient_ts,
    """
WITH r AS (
  SELECT event_id,
         CASE WHEN event_id % 4 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
              WHEN event_id % 4 = 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
              WHEN event_id % 4 = 2 THEN 'not a date'
              ELSE strftime(ts, '%Y-%m-%d') END AS raw
  FROM events)
SELECT event_id, raw,
       COALESCE(try_strptime(raw, '%Y-%m-%d %H:%M:%S'),
                try_strptime(raw, '%Y-%m-%dT%H:%M:%S'),
                try_strptime(raw, '%Y-%m-%d')) AS parsed
FROM r
""",
)


def _q_stringify(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = td.stage_rows(td.load_table(spark, sf_dir, "events")).drop("event_id", "ts")
    return stringify_for_sink(stage)


_register(
    "stringify_sink",
    _q_stringify,
    f"""
WITH stage AS ({td.STAGE_ROWS_SQL})
SELECT CAST(job_title AS VARCHAR) AS job_title, CAST(link AS VARCHAR) AS link,
       CAST(entry_title AS VARCHAR) AS entry_title,
       strftime(published, '%Y-%m-%d %H:%M:%S') AS published,
       CAST(feed_title AS VARCHAR) AS feed_title, CAST(reader AS VARCHAR) AS reader,
       CAST(time_window AS VARCHAR) AS time_window, CAST(summary AS VARCHAR) AS summary,
       CAST(notes AS VARCHAR) AS notes
FROM stage
""",
)


def _q_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    partial = td.stage_rows(td.load_table(spark, sf_dir, "events")).drop(
        "notes", "reader", "time_window", "event_id", "ts"
    )
    return conform(partial, STAGE_SCHEMA)


_register(
    "conform_schema_repair",
    _q_conform,
    f"""
WITH stage AS ({td.STAGE_ROWS_SQL})
SELECT job_title, link, entry_title, published, feed_title,
       '' AS reader, '' AS time_window, summary, '' AS notes
FROM stage
""",
)


def _q_numeric_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = td.stage_rows(td.load_table(spark, sf_dir, "events"))
    v = F.regexp_extract(F.col("summary"), r"(\d+)%?", 1)
    pct = F.when(v == "", F.lit(None).cast("double")).otherwise(v.cast("double"))
    return stage.select("link", "summary", pct.alias("extracted_pct")).filter(
        pct.isNotNull() & pct.between(0, 100)
    )


_register(
    "numeric_extraction",
    _q_numeric_extract,
    f"""
WITH stage AS ({td.STAGE_ROWS_SQL}),
x AS (SELECT link, summary,
             TRY_CAST(NULLIF(regexp_extract(summary, '(\\d+)%?', 1), '') AS DOUBLE) AS extracted_pct
      FROM stage)
SELECT link, summary, extracted_pct FROM x
WHERE extracted_pct IS NOT NULL AND extracted_pct BETWEEN 0 AND 100
""",
)


# --- SCD2 current view ----------------------------------------------------


def _q_scd2_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..driver_queries import QUERIES

    return QUERIES["scd2_merge"](spark, sf_dir).filter(F.col("current_flag") == 1)


def _scd2_current_sql() -> str:
    from ..driver_queries import ORACLES

    return f"SELECT * FROM (\n{ORACLES['scd2_merge']}\n) WHERE current_flag = 1"


_register("scd2_current_view", _q_scd2_current, _scd2_current_sql())


# --- multi-join OLAP aggregates (Spark-native coverage) -------------------


def _q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = td.load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = td.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = td.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    agg = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    # Global top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    # heap + single 10-row merge at the driver).  A row_number() over an
    # unpartitioned Window would drag the whole aggregate to ONE partition.
    return agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(10)


_register(
    "shipping_priority_top10",
    _q_shipping_priority,
    """
WITH agg AS (
  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2, 3)
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderkey ASC) AS rnk FROM agg)
WHERE rnk <= 10
""",
)


def _q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = td.load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = td.load_table(spark, sf_dir, "nation")
    c = td.load_table(spark, sf_dir, "customer")
    s = td.load_table(spark, sf_dir, "supplier")
    o = td.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = td.load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


_register(
    "regional_revenue",
    _q_regional_revenue,
    """
SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
)

"""Corpus text-statistics queries over ``operators/textstats.py``: token
counts, n-gram and language-model scores, quality gates, vocabulary curves,
readability and per-source scorecards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import ORACLES, _register
from ..functions.hashing import MOD
from ..functions.text import PII_EMAIL, PII_PHONE, PII_SSN
from ..operators import packing, profiling, sampling, textstats
from ..operators.textstats import LANG_PROFILES, token_count
from .corpus import (
    _BEST,
    _NTOK,
    _PRED,
    _SCORES,
    _STOPLIST,
    _W,
    _code,
    _hexfold,
)


# --- token counting: whitespace + BPE-ish regex (training-data pipeline) --


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.bpe_token_counts(td.load_table(spark, sf_dir, "documents"))


_register(
    "token_counts",
    _q_token_counts,
    rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_ws,
         len(regexp_extract_all(text, '{textstats.BPE_REGEX}')) AS n_bpe,
         length(text) AS n_chars
  FROM documents)
SELECT doc_id,
       CAST(n_ws AS BIGINT) AS n_ws_tokens,
       CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
       CASE WHEN n_bpe > 0 THEN round(n_chars / CAST(n_bpe AS DOUBLE), 4)
            ELSE 0.0 END AS chars_per_tok
FROM t
""",
)


# The corpus DECISION layer — composed quality keep/drop gates and the near-dup
# drop list.
#
# The corpus queries compute signals (stats, language, signatures, pair
# similarity); these two queries are what a training-data pipeline
# actually acts on:
# which documents pass the quality bar, and which near-duplicates to drop
# in favor of a canonical survivor.

# --- composed quality filter ---------------------------------------------

_MIN_TOKENS = 20
_MAX_PUNCT = 0.08
_MIN_STOP = 0.05


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_filter(
        td.load_table(spark, sf_dir, "documents"),
        min_tokens=_MIN_TOKENS,
        max_punct_ratio=_MAX_PUNCT,
        min_stopword_ratio=_MIN_STOP,
        allowed_lang="en",
    )


_register(
    "corpus_quality_filter",
    _q_quality_filter,
    f"""
WITH t AS (
  SELECT doc_id, text,
         list_transform(string_split_regex(trim(text), '\\s+'), t -> lower(t)) AS toks
  FROM documents),
s AS (SELECT doc_id, text, {_SCORES} FROM t),
st AS (
  SELECT doc_id,
         {_NTOK} AS n_tokens,
         {_PRED} AS pred_lang,
         CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[.!,?;:]', '', 'g')))
                   / CAST(length(text) AS DOUBLE)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN {_NTOK} > 0
              THEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   t -> lower(t) IN ({_STOPLIST})))
                   / CAST({_NTOK} AS DOUBLE)
              ELSE 0.0 END AS stop_ratio
  FROM s),
r AS (
  SELECT doc_id, n_tokens, pred_lang,
         concat_ws(';',
           CASE WHEN n_tokens < {_MIN_TOKENS} THEN 'too_short' END,
           CASE WHEN punct_ratio > {_MAX_PUNCT} THEN 'too_much_punct' END,
           CASE WHEN stop_ratio < {_MIN_STOP} THEN 'low_stopword' END,
           CASE WHEN pred_lang <> 'en' THEN 'bad_lang' END) AS reasons
  FROM st)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, pred_lang, reasons,
       reasons = '' AS keep
FROM r
""",
)


# --- within-doc repetition (Gopher gate) ----------------------------------


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_ratio(td.load_table(spark, sf_dir, "documents"))


_register(
    "repetition_ratio",
    _q_repetition,
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(w)-2, 1)+1),
                        i -> array_to_string(w[i:i+2], ' ')) AS grams
  FROM t)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_unique_grams,
       round(CASE WHEN len(grams) > 0
                  THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
                  ELSE 0.0 END, 6) AS repetition
FROM g
""",
)


# --- corpus-wide top terms ------------------------------------------------

_TOPK_TERMS = 20
_STOPLIST_SQL = _STOPLIST  # same lexicon both engines


def _q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.top_terms(
        td.load_table(spark, sf_dir, "documents"), k=_TOPK_TERMS
    )


_register(
    "corpus_top_terms",
    _q_top_terms,
    f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_transform(string_split_regex(trim(text), '\\s+'),
                               t -> lower(t))) AS term
  FROM documents),
f AS (
  SELECT doc_id, term FROM toks
  WHERE length(term) >= 3 AND regexp_full_match(term, '[a-z]+')
    AND term NOT IN ({_STOPLIST_SQL}))
SELECT term,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM f GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT {_TOPK_TERMS}
""",
)


# Iterative k-means clustering over embeddings, sequence packing (token-budget
# layout for training batches), and PMI collocation mining.
#
# The k-means oracle replays the exact 2-iteration Lloyd trajectory in SQL —
# possible because every centroid component is rounded in-engine each
# iteration, so both engines step through identical states.

# --- sequence packing ------------------------------------------------------

_SEQ_LEN = 512
_PACK_SALT = "pack-v1"
_PACK_BUCKETS = 1024


def _q_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", token_count("text").alias("n_tokens"))
    return packing.pack_sequences(
        staged,
        token_col="n_tokens",
        seq_len=_SEQ_LEN,
        salt=_PACK_SALT,
        n_buckets=_PACK_BUCKETS,
    )


_PACK_H = _hexfold(f"('{_PACK_SALT}:' || CAST(doc_id AS VARCHAR))")
_register(
    "sequence_packing",
    _q_packing,
    f"""
WITH staged AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({_W}) END AS n_tokens,
         {_PACK_H} AS h
  FROM documents),
cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY h % {_PACK_BUCKETS}, h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start
  FROM staged)
SELECT doc_id, n_tokens,
       CAST(floor(start / {_SEQ_LEN}) AS BIGINT) AS seq_id,
       CAST(start % {_SEQ_LEN} AS BIGINT) AS seq_offset
FROM cum
""",
)


# --- PMI collocations ------------------------------------------------------

_PMI_MIN_DF = 10
_PMI_MIN_PAIR = 5
_PMI_TOP = 50


def _q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.pmi_pairs(
        docs, min_df=_PMI_MIN_DF, min_pair=_PMI_MIN_PAIR, top=_PMI_TOP
    )


_register(
    "pmi_top_pairs",
    _q_pmi,
    f"""
WITH ex AS (SELECT DISTINCT doc_id AS id, unnest({_W}) AS term FROM documents),
dfreq AS (SELECT term, count(*) AS dfreq FROM ex GROUP BY term
          HAVING count(*) >= {_PMI_MIN_DF}),
kept AS (SELECT id, term, dfreq FROM ex JOIN dfreq USING (term)),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b,
         a.dfreq AS df_a, b.dfreq AS df_b, count(*) AS n_ab
  FROM kept a JOIN kept b ON a.id = b.id AND a.term < b.term
  GROUP BY 1, 2, 3, 4
  HAVING count(*) >= {_PMI_MIN_PAIR})
SELECT term_a, term_b, n_ab,
       round(ln(n_ab * n_docs * 1.0 / (df_a * df_b)), 6) AS pmi
FROM pairs CROSS JOIN n
ORDER BY pmi DESC, term_a ASC, term_b ASC
LIMIT {_PMI_TOP}
""",
)


# Adjacent-bigram counts (one BPE merge step) and last-touch conversion
# attribution.

# --- adjacent bigrams ------------------------------------------------------

_BG_TOP = 30


def _q_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.top_bigrams(
        td.load_table(spark, sf_dir, "documents"), top=_BG_TOP
    )


_register(
    "top_bigrams",
    _q_bigrams,
    f"""
WITH t AS (SELECT {_W} AS w FROM documents),
p AS (SELECT w[i] AS term_a, w[i + 1] AS term_b
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(1, len(w))) AS i) _)
SELECT term_a, term_b, count(*) AS n
FROM p GROUP BY 1, 2
ORDER BY n DESC, term_a ASC, term_b ASC
LIMIT {_BG_TOP}
""",
)


# Corpus-trained unigram-LM perplexity scoring and incremental exact dedup of a
# batch against the corpus.

# --- unigram LM log-perplexity --------------------------------------------


def _q_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.unigram_logppl(td.load_table(spark, sf_dir, "documents"))


_register(
    "unigram_logppl",
    _q_unigram_logppl,
    """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM counts),
scored AS (
  SELECT id, round(-ln((n + 1.0) / (total + vocab)), 9) AS nll
  FROM toks JOIN counts USING (tok), tot)
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(nll), 6) AS logppl
FROM scored GROUP BY id
""",
)


# Language-model-side corpus tooling — bigram LM perplexity with stupid backoff
# (the KenLM-shaped quality signal) and BPE first-iteration merge-candidate
# mining (tokenizer-training prep).
#
# The bigram LM trains on the even-doc_id half of the corpus and scores ALL
# documents, so the backoff path genuinely fires (self-scoring would see
# every bigram and never back off).

# --- bigram LM log-perplexity ----------------------------------------------


def _q_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    model = docs.filter(F.col("doc_id") % 2 == 0)
    return textstats.bigram_logppl(docs, model=model)


_BIGS = (
    "SELECT doc_id AS id, unnest(list_transform(range(1, len(w)), "
    "i -> {{'a': w[i], 'b': w[i+1]}}), recursive := true) FROM t{flt}"
)

_register(
    "bigram_logppl",
    _q_bigram_logppl,
    f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
           FROM documents),
bigs AS ({_BIGS.format(flt="")}),
mbigs AS ({_BIGS.format(flt=" WHERE doc_id % 2 = 0")}),
c2 AS (SELECT a, b, count(*) AS n2 FROM mbigs GROUP BY 1, 2),
c1 AS (SELECT tok, count(*) AS n1
       FROM (SELECT unnest(w) AS tok FROM t WHERE doc_id % 2 = 0) GROUP BY 1),
tot AS (SELECT sum(n1) AS total, count(*) AS vocab FROM c1),
pbi AS (SELECT c2.a, c2.b, c2.n2 / c1.n1 AS pb FROM c2 JOIN c1 ON c2.a = c1.tok),
scored AS (
  SELECT bigs.id,
         round(-ln(CASE WHEN pbi.pb IS NOT NULL THEN pbi.pb
                        ELSE 0.4 * (coalesce(cb.n1, 0) + 1.0) / (total + vocab)
                   END), 9) AS nll
  FROM bigs LEFT JOIN pbi ON bigs.a = pbi.a AND bigs.b = pbi.b
            LEFT JOIN c1 cb ON bigs.b = cb.tok, tot)
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(nll), 6) AS logppl
FROM scored GROUP BY id
""",
)


# --- BPE merge-candidate mining --------------------------------------------


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.bpe_merge_candidates(
        td.load_table(spark, sf_dir, "documents"), top=50
    )


_register(
    "bpe_merge_candidates",
    _q_bpe_merges,
    """
WITH words AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM documents)
  WHERE w <> '' GROUP BY w),
prs AS (
  SELECT cnt, unnest(list_transform(range(1, len(c)),
                     i -> {'sym_a': c[i], 'sym_b': c[i+1]}),
                     recursive := true)
  FROM (SELECT cnt, string_split(w, '') AS c FROM words))
SELECT sym_a, sym_b, CAST(sum(cnt) AS BIGINT) AS freq
FROM prs GROUP BY 1, 2
ORDER BY freq DESC, sym_a ASC, sym_b ASC
LIMIT 50
""",
)


# Corpus-hygiene operators — vocabulary OOV-rate scoring, token-entropy
# quality, Zipf's-law fit, and C4-style boilerplate span detection/removal.
#
# These are the pre-tokenizer health checks a training-data pipeline runs on
# every corpus snapshot: does a size-budgeted vocab cover the text, are
# documents diverse or templated, does the term distribution still look like
# natural language, and which repeated spans are boilerplate to strip.

_TOKS = (
    "SELECT doc_id AS id, unnest(string_split_regex(trim(lower(text)), "
    "'\\s+')) AS tok FROM documents"
)

# --- OOV rate against a size-budgeted corpus vocab -------------------------

_OOV_MIN, _OOV_SIZE = 5, 20


def _q_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.oov_rate(
        td.load_table(spark, sf_dir, "documents"),
        min_count=_OOV_MIN,
        vocab_size=_OOV_SIZE,
    )


_register(
    "oov_rate_scores",
    _q_oov,
    f"""
WITH t AS (SELECT * FROM ({_TOKS}) WHERE tok <> ''),
c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1 HAVING count(*) >= {_OOV_MIN}),
v AS (SELECT tok FROM c ORDER BY n DESC, tok ASC LIMIT {_OOV_SIZE})
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS oov_rate
FROM t LEFT JOIN v ON t.tok = v.tok GROUP BY 1
""",
)


# --- per-document token entropy + type-token ratio -------------------------


def _q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_entropy(td.load_table(spark, sf_dir, "documents"))


_register(
    "token_entropy_scores",
    _q_entropy,
    f"""
WITH t AS (SELECT * FROM ({_TOKS}) WHERE tok <> ''),
tc AS (SELECT id, tok, count(*) AS n FROM t GROUP BY 1, 2),
d AS (SELECT id, CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             sum(round(n * ln(n), 9)) AS nlogn
      FROM tc GROUP BY 1)
SELECT id AS doc_id, n_tokens, n_types,
       round(ln(n_tokens) - nlogn / n_tokens, 6) AS entropy,
       round(n_types * 1.0 / n_tokens, 6) AS ttr
FROM d
""",
)


# --- corpus-level Zipf fit -------------------------------------------------

_ZIPF_TOP = 1000


def _q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.zipf_fit(
        td.load_table(spark, sf_dir, "documents"), top=_ZIPF_TOP
    )


_register(
    "zipf_corpus_fit",
    _q_zipf,
    f"""
WITH t AS (SELECT * FROM ({_TOKS}) WHERE tok <> ''),
c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1
      ORDER BY n DESC, tok ASC LIMIT {_ZIPF_TOP}),
r AS (SELECT row_number() OVER (ORDER BY n DESC, tok ASC) AS rank, n FROM c),
xy AS (SELECT round(ln(rank), 9) AS x, round(ln(n), 9) AS y FROM r),
a AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
SELECT CAST(k AS BIGINT) AS n_terms,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
       round((sy - sx * ((k * sxy - sx * sy) / (k * sxx - sx * sx))) / k, 6)
           AS intercept
FROM a
""",
)


# --- boilerplate spans + removal -------------------------------------------

_BP_K, _BP_MIN_DOCS = 3, 5

_SHINGLES = (
    "SELECT doc_id AS id, unnest(list_transform(range(1, len(w) - 1), "
    "i -> {{'pos': i, 's': w[i] || ' ' || w[i+1] || ' ' || w[i+2]}}), "
    "recursive := true) FROM t"
)


def _q_hot_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.hot_shingles(
        td.load_table(spark, sf_dir, "documents"), k=_BP_K, min_docs=_BP_MIN_DOCS
    )


_register(
    "hot_shingle_spans",
    _q_hot_shingles,
    f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
           FROM documents),
sh AS ({_SHINGLES.format()})
SELECT s AS shingle, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
FROM sh GROUP BY 1 HAVING count(DISTINCT id) >= {_BP_MIN_DOCS}
""",
)


def _q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.remove_boilerplate(
        td.load_table(spark, sf_dir, "documents"), k=_BP_K, min_docs=_BP_MIN_DOCS
    )


_register(
    "boilerplate_removed",
    _q_remove_boilerplate,
    f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
           FROM documents),
sh AS ({_SHINGLES.format()}),
hot AS (SELECT s FROM sh GROUP BY s
        HAVING count(DISTINCT id) >= {_BP_MIN_DOCS}),
starts AS (SELECT id, pos FROM sh JOIN hot USING (s)),
toks AS (SELECT doc_id AS id, unnest(w) AS tok,
                generate_subscripts(w, 1) AS p FROM t),
kept AS (SELECT toks.id, tok, p FROM toks
         WHERE NOT EXISTS (SELECT 1 FROM starts st
                           WHERE st.id = toks.id
                             AND st.pos <= toks.p
                             AND toks.p <= st.pos + {_BP_K - 1})),
agg AS (SELECT id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY 1)
SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
       CAST(len(t.w) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
FROM t LEFT JOIN agg ON agg.id = t.doc_id
""",
)


# --- per-document shingle novelty ------------------------------------------


def _q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.shingle_novelty(
        td.load_table(spark, sf_dir, "documents"), k=3
    )


_register(
    "shingle_novelty_scores",
    _q_novelty,
    """
WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
           FROM documents),
occ AS (SELECT doc_id AS id, unnest(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM t),
dfreq AS (SELECT shingle, count(DISTINCT id) AS df FROM occ GROUP BY 1)
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS novelty
FROM occ JOIN dfreq USING (shingle) GROUP BY 1
""",
)


# Training-export composition — curriculum-ordered shards (difficulty from the
# unigram LM, layout from the content-addressed shuffle) and time-decayed
# popularity ranking.

# --- curriculum shards (easy-first by unigram logppl) ----------------------

_CUR_SALT, _CUR_SHARDS = "epoch0", 8


def _q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    scores = textstats.unigram_logppl(docs).select("doc_id", "logppl")
    return sampling.curriculum_shards(
        scores, "logppl", salt=_CUR_SALT, n_shards=_CUR_SHARDS
    )


_CUR_SHARD_SQL = (
    _hexfold(f"('{_CUR_SALT}:shard:' || CAST(doc_id AS VARCHAR))")
    + f" % {_CUR_SHARDS}"
)

_register(
    "curriculum_shards",
    _q_curriculum,
    f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM counts),
scored AS (
  SELECT id, round(-ln((n + 1.0) / (total + vocab)), 9) AS nll
  FROM toks JOIN counts USING (tok), tot),
lp AS (SELECT id AS doc_id, round(avg(nll), 6) AS logppl FROM scored GROUP BY id),
sh AS (
  SELECT doc_id, logppl,
         {_CUR_SHARD_SQL} AS shard,
         md5('{_CUR_SALT}:ord:' || CAST(doc_id AS VARCHAR)) AS pri
  FROM lp)
SELECT doc_id, logppl, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY logppl, pri, doc_id) AS BIGINT) AS pos
FROM sh
""",
)


# --- length-bucketed batching -----------------------------------------------

_LB_BATCH = 16
_LB_SALT = "lenbatch-v1"


def _q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", token_count("text").alias("n_tokens"))
    return packing.length_bucket_batches(
        staged, token_col="n_tokens", batch_size=_LB_BATCH, salt=_LB_SALT
    )


_register(
    "length_bucket_batches",
    _q_length_batches,
    f"""
WITH t AS (
  SELECT doc_id AS key,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
           AS n_tokens
  FROM documents),
s AS (
  SELECT key, n_tokens,
         CAST(ceil(log2(greatest(n_tokens, 1))) AS INT) AS bucket,
         md5('{_LB_SALT}:' || CAST(key AS VARCHAR)) AS pri
  FROM t),
b AS (
  SELECT *, CAST(floor((row_number() OVER (PARTITION BY bucket
                                           ORDER BY pri, key) - 1)
                       / {_LB_BATCH}) AS BIGINT) AS batch_id
  FROM s)
SELECT bucket, batch_id, CAST(count(*) AS BIGINT) AS n_docs,
       max(n_tokens) AS max_tokens, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       round(1 - sum(n_tokens) / greatest(count(*) * max(n_tokens), 1), 6)
         AS pad_frac
FROM b GROUP BY 1, 2
""",
)


# Count-min frequency estimates (the mergeable heavy-hitter sketch), winnowing
# fingerprints (MOSS local similarity), per-document tf-idf keywords, and
# reciprocal-rank fusion of retrieval lists.

# --- winnowing fingerprints -------------------------------------------------

_WIN_K, _WIN_W = 4, 5


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.winnow_fingerprints(
        td.load_table(spark, sf_dir, "documents"), k=_WIN_K, w=_WIN_W
    )


_register(
    "winnow_fingerprints",
    _q_winnow,
    f"""
WITH toks AS (SELECT doc_id AS id, {_W} AS w FROM documents),
sized AS (SELECT id, w, greatest(len(w) - {_WIN_K - 1}, 1) AS m FROM toks),
pos AS (SELECT id, w, m, unnest(range(1, m + 1)) AS i FROM sized),
h AS (SELECT id, i - 1 AS pos, m,
             ({_hexfold(f"array_to_string(w[i:i + {_WIN_K - 1}], ' ')")})
               % 1000000007 AS h
      FROM pos),
win AS (
  SELECT id, pos, m,
         min(h) OVER (PARTITION BY id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp
  FROM h)
SELECT DISTINCT id AS doc_id, fp
FROM win WHERE pos <= greatest(m - {_WIN_W}, 0)
""",
)


# --- per-document tf-idf keywords -------------------------------------------

_KW_TOP, _KW_MIN_DF = 3, 2


def _q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_keywords(
        td.load_table(spark, sf_dir, "documents"), top=_KW_TOP, min_df=_KW_MIN_DF
    )


_register(
    "doc_keywords",
    _q_keywords,
    f"""
WITH ex AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS dfreq FROM tf
          GROUP BY 1 HAVING count(*) >= {_KW_MIN_DF}),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT id, term, tf,
         round(tf * ln(CAST(n_docs AS DOUBLE) / dfreq), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT id AS doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_KW_TOP}
""",
)


# --- distinct-n diversity ---------------------------------------------------


def _q_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.ngram_diversity(td.load_table(spark, sf_dir, "documents"))


_register(
    "ngram_diversity",
    _q_diversity,
    f"""
WITH t AS (SELECT source AS g, {_W} AS w FROM documents),
uni AS (SELECT g, unnest(w) AS gram FROM t),
bi AS (SELECT g, unnest(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i + 1])) AS gram FROM t),
u1 AS (SELECT g, gram, count(*) AS c FROM uni GROUP BY 1, 2),
u AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS d_tokens FROM u1 GROUP BY 1),
b1 AS (SELECT g, gram, count(*) AS c FROM bi GROUP BY 1, 2),
b AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(count(*) AS BIGINT) AS d_bigrams FROM b1 GROUP BY 1)
SELECT g AS source, n_tokens, round(d_tokens / n_tokens, 6) AS distinct_1,
       n_bigrams, round(d_bigrams / n_bigrams, 6) AS distinct_2
FROM u JOIN b USING (g)
""",
)


# --- hashing-trick quality scorer ------------------------------------------

_HQ_BUCKETS = 1024


def _q_hashed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.hashed_quality_scores(
        td.load_table(spark, sf_dir, "documents"), n_buckets=_HQ_BUCKETS
    )


_register(
    "hashed_quality_scores",
    _q_hashed_quality,
    f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
s AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(w,
              tok -> ({_hexfold('tok')} % {MOD}) % {_HQ_BUCKETS}))
           AS BIGINT) AS bsum
  FROM t)
SELECT doc_id, n_tokens,
       round(bsum / n_tokens / {_HQ_BUCKETS} - 0.5, 6) AS hash_score,
       (bsum / n_tokens / {_HQ_BUCKETS} - 0.5) >= 0.0 AS keep
FROM s
""",
)


# --- quantile normalization -------------------------------------------------

_QN_BINS = 20


def _q_qnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quantile_normalize(
        td.load_table(spark, sf_dir, "documents"), n_bins=_QN_BINS
    )


_QN_QS = ", ".join(str(i / _QN_BINS) for i in range(_QN_BINS + 1))
_register(
    "quantile_normalize",
    _q_qnorm,
    f"""
WITH b AS (SELECT quantile_cont(n_chars, [{_QN_QS}]) AS bounds FROM documents),
r AS (SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents)
SELECT doc_id, source, n_chars, round(pr, 6) AS pct_rank,
       round(bounds[least(CAST(floor(pr * {_QN_BINS}) AS INT), {_QN_BINS}) + 1],
             4) AS normalized
FROM r, b
""",
)


# --- score calibration ------------------------------------------------------

_CAL_BINS = 10


def _q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    scored = textstats.hashed_quality_scores(docs).select(
        "doc_id", F.col("hash_score").alias("score")
    ).withColumn("label", (F.col("doc_id") % 3 == 0).cast("int"))
    return profiling.score_calibration(scored, n_bins=_CAL_BINS)


_CAL_W = 1.0 / _CAL_BINS
_register(
    "score_calibration",
    _q_calibration,
    f"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM documents),
sc AS (
  SELECT doc_id,
         round(CAST(list_sum(list_transform(w,
             tok -> (list_reduce(list_transform(string_split(substr(md5(tok),1,15), ''),
                      c -> position(c IN '0123456789abcdef')-1), (a,b) -> a*16+b)
                     % 1000000007) % 1024)) AS BIGINT)
           / CAST(len(w) AS BIGINT) / 1024 - 0.5, 6) AS score,
         CAST(doc_id % 3 = 0 AS INT) AS label
  FROM toks),
b AS (
  SELECT CASE WHEN score < -0.5 THEN 0
              WHEN score >= 0.5 THEN {_CAL_BINS + 1}
              ELSE CAST(floor((score + 0.5) / {_CAL_W}) AS INT) + 1
         END AS bucket, score, label
  FROM sc),
g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             avg(score) AS ms, avg(CAST(label AS DOUBLE)) AS rate
      FROM b GROUP BY 1),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS total_n FROM g)
SELECT bucket, n, round(ms, 6) AS mean_score,
       round(rate, 6) AS positive_rate,
       round((n / total_n) * abs(ms - rate), 6) AS ece_contrib
FROM g, t
""",
)


# --- vocabulary drift -------------------------------------------------------

_VD_MIN_DF = 20
_VD_TOP = 30


def _q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return textstats.vocab_drift_terms(
        old, new, min_df=_VD_MIN_DF, top=_VD_TOP
    )


_register(
    "vocab_drift_terms",
    _q_vocab_drift,
    f"""
WITH o AS (
  SELECT term, count(*) AS df_old FROM (
    SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
    FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
n AS (
  SELECT term, count(*) AS df_new FROM (
    SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
    FROM documents WHERE doc_id % 2 = 1) GROUP BY 1),
cn AS (SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_old,
              CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n_new
       FROM documents),
j AS (SELECT coalesce(o.term, n.term) AS term,
             CAST(coalesce(df_old, 0) AS BIGINT) AS df_old,
             CAST(coalesce(df_new, 0) AS BIGINT) AS df_new
      FROM o FULL OUTER JOIN n ON o.term = n.term)
SELECT term, df_old, df_new,
       round(log2(((df_new + 0.5) / n_new) / ((df_old + 0.5) / n_old)), 6)
         AS log2_ratio
FROM j, cn
WHERE df_old + df_new >= {_VD_MIN_DF}
ORDER BY abs(log2(((df_new + 0.5) / n_new) / ((df_old + 0.5) / n_old))) DESC,
         term ASC
LIMIT {_VD_TOP}
""",
)


# --- per-source KL divergence -----------------------------------------------

_KL_VOCAB = 200


def _q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.source_kl_divergence(
        td.load_table(spark, sf_dir, "documents"), vocab_size=_KL_VOCAB
    )


_KL_K = _KL_VOCAB + 1
_register(
    "source_kl_divergence",
    _q_source_kl,
    f"""
WITH tok AS (SELECT source AS g,
                    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
             FROM documents),
vc AS (SELECT term FROM (SELECT term, count(*) AS c FROM tok GROUP BY 1
                         ORDER BY c DESC, term ASC LIMIT {_KL_VOCAB})),
tagged AS (SELECT g, CASE WHEN term IN (SELECT term FROM vc)
                          THEN term ELSE '<oov>' END AS term
           FROM tok),
ps AS (SELECT g, term, count(*) AS sc FROM tagged GROUP BY 1, 2),
cp AS (SELECT term, sum(sc) AS cc FROM ps GROUP BY 1),
ts AS (SELECT g, sum(sc) AS st FROM ps GROUP BY 1),
tc AS (SELECT CAST(sum(cc) AS DOUBLE) AS ct FROM cp)
SELECT g AS source,
       round(sum(((sc + 0.5) / (st + 0.5 * {_KL_K}))
                 * ln(((sc + 0.5) / (st + 0.5 * {_KL_K}))
                      / ((cc + 0.5) / (ct + 0.5 * {_KL_K})))), 6) AS kl_bits_nat
FROM ps JOIN cp USING (term) JOIN ts USING (g), tc
GROUP BY 1
""",
)


# Gopher-style quality gates and repetition metrics (Rae et al. 2021 §A1.1) —
# the heuristic curation pass LLM pipelines run before any model-based scoring.
# Both are oracle-checked at doc grain on the documents table.


def _q_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.gopher_quality_flags(td.load_table(spark, sf_dir, "documents"))


_GOPHER_STOP_SQL = ", ".join(f"'{s}'" for s in textstats.GOPHER_STOPWORDS)
_register(
    "gopher_quality_flags",
    _q_gopher,
    rf"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
m AS (SELECT doc_id,
        len(w) AS n_words,
        list_sum(list_transform(w, t -> length(t))) AS sum_len,
        len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
        len(list_distinct(list_intersect(list_transform(w, t -> lower(t)),
                                         [{_GOPHER_STOP_SQL}]))) AS n_stop
      FROM t)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(sum_len / CAST(n_words AS DOUBLE), 4) AS mean_word_len,
       round(n_alpha / CAST(n_words AS DOUBLE), 4) AS alpha_frac,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       CAST(n_words BETWEEN 50 AND 100000 AS INT) AS flag_word_count,
       CAST(sum_len / CAST(n_words AS DOUBLE) BETWEEN 3 AND 10 AS INT) AS flag_mean_word_len,
       CAST(n_alpha / CAST(n_words AS DOUBLE) >= 0.8 AS INT) AS flag_alpha,
       CAST(n_stop >= 2 AS INT) AS flag_stopwords,
       CAST(n_words BETWEEN 50 AND 100000 AS INT)
         * CAST(sum_len / CAST(n_words AS DOUBLE) BETWEEN 3 AND 10 AS INT)
         * CAST(n_alpha / CAST(n_words AS DOUBLE) >= 0.8 AS INT)
         * CAST(n_stop >= 2 AS INT) AS keep
FROM m
""",
)


def _q_rep_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repeated_ngram_stats(td.load_table(spark, sf_dir, "documents"))


# gram = base-31 polynomial of the n token codes (token_code = md5-prefix
# mod 1e9+7) — identical arithmetic to the Spark side's integer-code grams;
# intermediates stay < 3.3e10, exact bigint in both engines
_register(
    "repeated_ngram_stats",
    _q_rep_ngrams,
    rf"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
k AS (SELECT doc_id, len(w) AS nw,
             list_transform(w, x -> {_code('x')}) AS c
      FROM t WHERE len(w) >= 3),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, nw - 1),
               i -> ((c[i] * 31 + c[i+1]) % 1000000007 * 31 + c[i+2]) % 1000000007)) AS gram
      FROM k),
cnts AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS total_ngrams,
       round((sum(cnt) - count(*)) / CAST(sum(cnt) AS DOUBLE), 4) AS dup_frac,
       round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 4) AS top_frac
FROM cnts GROUP BY 1
""",
)


# CCNet perplexity tiers (Wenzek et al. 2020) — the per-language
# head/middle/tail quality bucketing that decides mixing rates before LLM
# pretraining.


def _q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.ccnet_ppl_buckets(td.load_table(spark, sf_dir, "documents"))


_register(
    "ccnet_ppl_buckets",
    _q_ccnet_buckets,
    r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM counts),
scored AS (
  SELECT id, round(-ln((n + 1.0) / (total + vocab)), 9) AS nll
  FROM toks JOIN counts USING (tok), tot),
ppl AS (
  SELECT id AS doc_id, round(avg(nll), 6) AS logppl
  FROM scored GROUP BY id),
ranked AS (
  SELECT p.doc_id, d.lang, p.logppl,
         percent_rank() OVER (PARTITION BY d.lang
                              ORDER BY p.logppl ASC, p.doc_id ASC) AS pr
  FROM ppl p JOIN documents d ON p.doc_id = d.doc_id)
SELECT doc_id, lang, logppl,
       CASE WHEN pr < 1.0/3 THEN 'head'
            WHEN pr < 2.0/3 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
""",
)


# Token-length histogram (the sequence-length profile that sizes
# packing/context-length decisions) and a language-ID confusion matrix against
# the corpus labels (the eval for the `lang_id` heuristic itself).

_TLH_BUCKET = 50


def _q_token_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    n = textstats.token_count(F.col("text"))
    return (
        docs.select((F.floor(n / _TLH_BUCKET) * _TLH_BUCKET).cast("bigint").alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


_register(
    "token_length_histogram",
    _q_token_length_hist,
    rf"""
WITH t AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
  FROM documents)
SELECT CAST(floor(n_tok / {_TLH_BUCKET}) * {_TLH_BUCKET} AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM t GROUP BY 1
""",
)


def _q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement matrix of the stopword-profile language-ID heuristic vs
    the corpus's own lang labels — the precision/recall surface for the
    `lang_id` operator (X-eval of an operator BY another query, the same
    pattern as `dedup_pair_recall`)."""
    docs = td.load_table(spark, sf_dir, "documents")
    pred = textstats.lang_id(docs).select("doc_id", "pred_lang")
    truth = docs.select("doc_id", F.col("lang").alias("true_lang"))
    return (
        truth.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


_register(
    "langid_confusion",
    _q_langid_confusion,
    f"""
WITH t AS (
  SELECT doc_id, list_transform(string_split_regex(trim(text), '\\s+'), t -> lower(t)) AS toks
  FROM documents),
s AS (SELECT doc_id, {_SCORES} FROM t),
p AS (SELECT doc_id, {_PRED} AS pred_lang FROM s)
SELECT d.lang AS true_lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN p ON d.doc_id = p.doc_id
GROUP BY 1, 2
""",
)


def _q_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.compression_ratio(docs)


# no oracle by design: DuckDB has no zlib.  Driver records the rows-only
# check; golden parity lives in tests/test_wave69.py (recomputes with the
# same zlib).
_register("compression_ratio_stats", _q_compression, None)


_KW = "data"
_CTX = 40


def _q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.keyword_snippets(
        td.load_table(spark, sf_dir, "documents"), _KW, context_chars=_CTX
    )


_register(
    "keyword_snippets",
    _q_snippets,
    f"""
WITH p AS (
  SELECT doc_id, CAST(strpos(text, '{_KW}') AS BIGINT) AS pos, text
  FROM documents)
SELECT doc_id, pos,
       substr(text,
              CAST(greatest(pos - {_CTX}, 1) AS INT),
              CAST(pos - greatest(pos - {_CTX}, 1) + {len(_KW)} + {_CTX} AS INT))
         AS snippet
FROM p WHERE pos > 0
""",
)


def _q_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fk_readability(td.load_table(spark, sf_dir, "documents"))


_register(
    "fk_readability",
    _q_fk,
    r"""
WITH t AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END
              AS BIGINT) AS n_words,
         CAST(greatest(length(regexp_replace(text, '[.!?]+', '#', 'g'))
              - length(regexp_replace(text, '[.!?]+', '', 'g')), 1)
              AS BIGINT) AS n_sentences,
         CAST(length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
              - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
              AS BIGINT) AS n_syllables
  FROM documents)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(CAST(0.39 AS DOUBLE)
               * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             + CAST(11.8 AS DOUBLE)
               * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
             - CAST(15.59 AS DOUBLE), 4) AS fk_grade
FROM t WHERE n_words > 0
""",
)


# Heaps'-law vocabulary growth curve and the A/B sample-size planning table.

_HB = 20


def _q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.heaps_law_curve(
        td.load_table(spark, sf_dir, "documents"), n_buckets=_HB
    )


_register(
    "heaps_law_curve",
    _q_heaps,
    rf"""
WITH ids AS (
  SELECT CAST(min(doc_id) AS BIGINT) i0, CAST(max(doc_id) AS BIGINT) i1
  FROM documents),
base AS (
  SELECT CAST((CAST(doc_id AS BIGINT) - i0) * {_HB} // (i1 - i0 + 1)
              AS BIGINT) AS b,
         unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents, ids WHERE trim(text) <> ''),
tpb AS (SELECT b, CAST(count(*) AS BIGINT) n_tok FROM base GROUP BY 1),
fb AS (SELECT tok, min(b) AS fb FROM base GROUP BY 1),
npb AS (SELECT fb AS b, CAST(count(*) AS BIGINT) n_new FROM fb GROUP BY 1),
j AS (
  SELECT tpb.b, n_tok, CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
  FROM tpb LEFT JOIN npb ON tpb.b = npb.b),
cum AS (
  SELECT b, CAST(sum(n_tok) OVER w AS BIGINT) n_tokens_cum,
         CAST(sum(n_new) OVER w AS BIGINT) vocab_cum
  FROM j WINDOW w AS (ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
e AS (
  SELECT *, first_value(n_tokens_cum) OVER wo AS n1,
         first_value(vocab_cum) OVER wo AS v1,
         max(n_tokens_cum) OVER () AS n2, max(vocab_cum) OVER () AS v2
  FROM cum WINDOW wo AS (ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
SELECT b AS bucket, n_tokens_cum, vocab_cum,
       round(ln(CAST(v2 AS DOUBLE) / CAST(v1 AS DOUBLE))
             / ln(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)), 6) AS beta_hat
FROM e
""",
)


# Language-ID entropy (code-switch audit) and Spearman engagement-spend rank
# correlation.

_LANGS = list(LANG_PROFILES)


def _q_lang_ent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.langid_entropy(td.load_table(spark, sf_dir, "documents"))


_TT = " + ".join(f"score_{lang}" for lang in _LANGS)
_PTERM = "(CAST(score_{l} AS DOUBLE) / CAST(tt AS DOUBLE))"
_ENT = " + ".join(
    "CASE WHEN score_{l} > 0 THEN -({p} * ln({p})) ELSE 0.0 END".format(
        l=lang, p=_PTERM.format(l=lang)
    )
    for lang in _LANGS
)
_ARR = "list_sort([" + ", ".join(f"score_{lang}" for lang in _LANGS) + "])"

_register(
    "langid_entropy",
    _q_lang_ent,
    f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(text), '\\s+'),
                        t -> lower(t)) AS toks
  FROM documents),
s AS (SELECT doc_id, {_SCORES} FROM t),
e AS (
  SELECT doc_id, {_PRED} AS pred_lang,
         CAST({_TT} AS BIGINT) AS tt,
         {_ARR} AS arr,
         {", ".join(f"score_{lang}" for lang in _LANGS)}
  FROM s)
SELECT doc_id, pred_lang, tt AS n_hits,
       round({_ENT}, 6) AS entropy,
       round(CAST(arr[{len(_LANGS)}] - arr[{len(_LANGS) - 1}] AS DOUBLE)
             / CAST(tt AS DOUBLE), 6) AS margin
FROM e WHERE tt > 0
""",
)


_TK = 5
_ALPHA = 0.01
_MINC = 5


def _q_distinctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.distinctive_terms_log_odds(
        td.load_table(spark, sf_dir, "documents"),
        top_k=_TK, alpha=_ALPHA, min_count=_MINC,
    )


_CS = "CAST(c AS DOUBLE)"
_NS = "CAST(ns AS DOUBLE)"
_CR = "CAST(ct - c AS DOUBLE)"
_NR = "(CAST(gtot AS DOUBLE) - CAST(ns AS DOUBLE))"
_AV = f"(CAST({_ALPHA!r} AS DOUBLE) * CAST(vocab AS DOUBLE))"
_A = f"CAST({_ALPHA!r} AS DOUBLE)"
_DELTA = (
    f"(ln(({_CS} + {_A}) / ({_NS} + {_AV} - {_CS} - {_A}))"
    f" - ln(({_CR} + {_A}) / ({_NR} + {_AV} - {_CR} - {_A})))"
)
_VAR = f"(1.0 / ({_CS} + {_A}) + 1.0 / ({_CR} + {_A}))"

_register(
    "distinctive_terms_log_odds",
    _q_distinctive,
    rf"""
WITH occ AS (
  SELECT source AS src, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents WHERE trim(text) <> ''),
st AS (SELECT src, term, CAST(count(*) AS BIGINT) c FROM occ GROUP BY 1, 2),
tot AS (SELECT src, CAST(sum(c) AS BIGINT) ns FROM st GROUP BY 1),
tt AS (SELECT term, CAST(sum(c) AS BIGINT) ct FROM st GROUP BY 1),
g AS (SELECT CAST(count(*) AS BIGINT) vocab, CAST(sum(ct) AS BIGINT) gtot
      FROM tt),
sc AS (
  SELECT st.src AS source, st.term, st.c AS n_source,
         round({_DELTA} / sqrt({_VAR}), 6) AS z_log_odds
  FROM st JOIN tot ON st.src = tot.src JOIN tt ON st.term = tt.term, g
  WHERE st.c >= {_MINC}),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source
    ORDER BY z_log_odds DESC, term ASC) AS rn
  FROM sc)
SELECT source, term, n_source, z_log_odds FROM r WHERE rn <= {_TK}
""",
)


# --- vocab coverage curve ----------------------------------------------------

_VCC_VS = (100, 1000, 10000)


def _q_vcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.vocab_coverage_curve(
        td.load_table(spark, sf_dir, "documents"), vs=_VCC_VS
    )


_VCC_ROWS = "\nUNION ALL\n".join(
    f"""SELECT CAST({v} AS BIGINT) AS v,
       CAST(max(cum) AS BIGINT) AS covered_occurrences,
       round(max(cum) / (SELECT total FROM tot), 6) AS coverage
FROM cum WHERE rn <= {v}"""
    for v in _VCC_VS
)

_register(
    "vocab_coverage_curve",
    _q_vcc,
    rf"""
WITH t AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
top AS (SELECT n, tok FROM c ORDER BY n DESC, tok ASC LIMIT {max(_VCC_VS)}),
cum AS (
  SELECT row_number() OVER (ORDER BY n DESC, tok ASC) AS rn,
         sum(n) OVER (ORDER BY n DESC, tok ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM top)
{_VCC_ROWS}
""",
)


# Code-switch detection, per-source perplexity outliers, and context-window
# padding accounting — the language-purity and sequence-budget gates of a
# monolingual training mixture.

# --- code-switch ratio -------------------------------------------------------


def _q_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.code_switch_ratio(td.load_table(spark, sf_dir, "documents"))


_TOTAL = " + ".join(f"score_{lang}" for lang in textstats.LANG_PROFILES)

_register(
    "code_switch_ratio",
    _q_code_switch,
    f"""
WITH t AS (
  SELECT doc_id, list_transform(string_split_regex(trim(text), '\\s+'), t -> lower(t)) AS toks
  FROM documents),
s AS (SELECT doc_id, {_SCORES} FROM t),
m AS (SELECT doc_id, {_PRED} AS primary_lang, {_BEST} AS best,
             {_TOTAL} AS total
      FROM s)
SELECT doc_id, primary_lang,
       CAST(best AS BIGINT) AS primary_hits,
       CAST(total - best AS BIGINT) AS other_hits,
       CASE WHEN total > 0
            THEN round((total - best) / CAST(total AS DOUBLE), 4)
            ELSE 0.0 END AS switch_ratio
FROM m
""",
)


# --- per-source perplexity z-scores ------------------------------------------

_Z_FLAG = 2.0


def _q_lp_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.logppl_zscore_by_source(
        td.load_table(spark, sf_dir, "documents"), z_flag=_Z_FLAG
    )


_register(
    "logppl_zscore_by_source",
    _q_lp_z,
    f"""
WITH lp AS (SELECT * FROM ({ORACLES["unigram_logppl"]})),
j AS (
  SELECT lp.doc_id, d.source, lp.logppl,
         CAST(round(lp.logppl * 1e6) AS BIGINT) AS code
  FROM lp JOIN documents d USING (doc_id)),
st AS (
  SELECT source, count(*) AS n, sum(code) AS s1, sum(code * code) AS s2q
  FROM j GROUP BY 1),
m AS (
  SELECT source,
         CAST(s1 AS DOUBLE) / n AS mean,
         CAST(s2q AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS var
  FROM st),
z AS (
  SELECT j.doc_id, j.source, j.logppl,
         CASE WHEN m.var > 0
              THEN round((j.code - m.mean) / sqrt(m.var), 4)
              ELSE 0.0 END AS z
  FROM j JOIN m USING (source))
SELECT doc_id, source, logppl, z,
       CAST(abs(z) >= {_Z_FLAG} AS INT) AS flag_outlier
FROM z
""",
)


# --- character-class mix -------------------------------------------------------


def _q_char_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.char_class_mix(td.load_table(spark, sf_dir, "documents"))


_CLASSES = [
    ("letter", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", r"\s"),
    ("punct", "[.!,?;:]"),
]
_CNTS = ",\n         ".join(
    f"length(text) - length(regexp_replace(text, '{cls}', '', 'g')) AS {name}"
    for name, cls in _CLASSES
)
_RATIOS = ",\n       ".join(
    f"CASE WHEN n > 0 THEN round({name} / CAST(n AS DOUBLE), 4) ELSE 0.0 END AS {name}_ratio"
    for name, _ in _CLASSES
)

_register(
    "char_class_mix",
    _q_char_mix,
    rf"""
WITH t AS (
  SELECT doc_id, length(text) AS n,
         {_CNTS}
  FROM documents)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       {_RATIOS},
       CASE WHEN n > 0
            THEN round((n - letter - digit - space - punct) / CAST(n AS DOUBLE), 4)
            ELSE 0.0 END AS other_ratio
FROM t
""",
)


# --- token Gini by source --------------------------------------------------------


def _q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_gini_by_source(td.load_table(spark, sf_dir, "documents"))


_register(
    "token_gini_by_source",
    _q_gini,
    r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
c AS (SELECT source, tok, count(*) AS f FROM toks GROUP BY 1, 2),
ff AS (SELECT source, f, count(*) AS m FROM c GROUP BY 1, 2),
r AS (
  SELECT source, f, m,
         sum(m) OVER (PARTITION BY source ORDER BY f
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM ff),
g AS (
  SELECT source,
         sum(m) AS n_types,
         sum(CAST(f AS DECIMAL(38,0)) * m) AS tot,
         sum(CAST(f AS DECIMAL(38,0))
             * (cm * (cm + 1) - (cm - m) * (cm - m + 1))) AS ws2
  FROM r GROUP BY 1)
SELECT source,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(tot AS BIGINT) AS n_tokens,
       round(CAST(ws2 AS DOUBLE)
               / (CAST(n_types AS DOUBLE) * CAST(tot AS DOUBLE))
             - (CAST(n_types AS DOUBLE) + 1.0) / CAST(n_types AS DOUBLE),
             6) AS gini
FROM g
""",
)


# Budget-constrained quality cutoffs and pseudo-relevance-feedback query
# expansion — the per-source curation knob and the retrieval recall-repair
# loop.

# --- per-source quality keep threshold -----------------------------------------

_KEEP = 0.7
_DROP = 1.0 - _KEEP  # python double — embedded verbatim so both engines
# multiply by the SAME IEEE value (a bare 0.3 literal in DuckDB is DECIMAL
# and ceils differently on exact-integer boundaries)


def _q_keep_thr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_keep_threshold(
        td.load_table(spark, sf_dir, "documents"), keep_frac=_KEEP
    )


_register(
    "quality_keep_threshold",
    _q_keep_thr,
    f"""
WITH q AS (SELECT doc_id, quality FROM ({ORACLES["text_quality_stats"]})),
j AS (
  SELECT d.source, CAST(round(q.quality * 1e6) AS BIGINT) AS code
  FROM q JOIN documents d USING (doc_id)),
counts AS (SELECT source, code, count(*) AS m FROM j GROUP BY 1, 2),
st AS (SELECT source, sum(m) AS n FROM counts GROUP BY 1),
cum AS (
  SELECT counts.source, code, m,
         sum(m) OVER (PARTITION BY counts.source ORDER BY code
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         st.n
  FROM counts JOIN st USING (source)),
thr AS (
  -- drop budget clamped to n-1 so a single-doc source keeps its top doc
  -- instead of vanishing (mirrors the Spark-side least(ceil(...), n-1))
  SELECT source, max(n) AS n,
         min(CASE WHEN cum > least(
                    CAST(ceil(CAST({_DROP!r} AS DOUBLE) * n) AS BIGINT), n - 1)
                  THEN code END) AS tcode
  FROM cum GROUP BY 1),
kept AS (
  SELECT counts.source, sum(m) AS n_kept
  FROM counts JOIN thr USING (source)
  WHERE code >= tcode GROUP BY 1)
SELECT thr.source,
       CAST(thr.n AS BIGINT) AS n_docs,
       tcode / 1e6 AS threshold,
       CAST(kept.n_kept AS BIGINT) AS n_kept,
       round(kept.n_kept / CAST(thr.n AS DOUBLE), 4) AS kept_frac
FROM thr JOIN kept USING (source)
""",
)


# --- negative sampling table ----------------------------------------------------

_NS_VOCAB = 10000


def _q_neg_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.negative_sampling_table(
        td.load_table(spark, sf_dir, "documents"), vocab_size=_NS_VOCAB
    )


_register(
    "negative_sampling_table",
    _q_neg_table,
    rf"""
WITH t AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t WHERE tok <> '' GROUP BY 1),
top AS (SELECT tok, n FROM c ORDER BY n DESC, tok ASC LIMIT {_NS_VOCAB}),
wtab AS (
  SELECT tok, n, round(sqrt(sqrt(CAST(n AS DOUBLE) * n * n)), 9) AS w
  FROM top),
tot AS (
  SELECT CAST(sum(CAST(w AS DECIMAL(30,10))) AS DOUBLE) AS wtot FROM wtab),
cumt AS (
  SELECT tok, n, w,
         row_number() OVER (ORDER BY n DESC, tok ASC) AS rank,
         sum(CAST(w AS DECIMAL(30,10)))
           OVER (ORDER BY n DESC, tok ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM wtab)
SELECT CAST(rank AS INT) AS rank, tok AS term, n,
       round(w / wtot, 9) AS prob,
       round(CAST(cw AS DOUBLE) / wtot, 9) AS cum_prob
FROM cumt, tot
""",
)


# Semantic split decontamination (banded-LSH nearest-train-neighbor over the
# eval split), per-language tokenizer fertility, and eval-vs-train OOV skew.
#
# Reference anchor: generalizes the reference's keyword/content filters
# (src/rss_feed_etl/core/data_filter.py) to the split-hygiene checks a
# training-data pipeline runs before trusting an eval number.

# --- per-language tokenizer fertility --------------------------------------------


def _q_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.tokenizer_fertility(td.load_table(spark, sf_dir, "documents"))


_register(
    "tokenizer_fertility_by_lang",
    _q_fertility,
    r"""
WITH m AS (
  SELECT lang, CAST(length(text) AS BIGINT) AS nc,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS nt
  FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       CASE WHEN sum(nt) > 0
            THEN round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 4)
            END AS chars_per_token,
       round(CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
           AS tokens_per_doc
FROM m GROUP BY 1
""",
)


# --- eval-vs-train OOV skew -------------------------------------------------------
# eval = every 10th document by id; vocabulary = all train types (min_count=1).

_OOV_MOD = 10


def _q_split_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % _OOV_MOD == 0)
    tr = docs.filter(F.col("doc_id") % _OOV_MOD != 0)
    return textstats.split_oov_rate(tr, ev, min_count=1)


_register(
    "split_oov_rate",
    _q_split_oov,
    rf"""
WITH tr AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents WHERE doc_id % {_OOV_MOD} <> 0),
v AS (SELECT DISTINCT tok FROM tr WHERE tok <> ''),
ev AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents WHERE doc_id % {_OOV_MOD} = 0),
et AS (SELECT * FROM ev WHERE tok <> '')
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM et LEFT JOIN v ON et.tok = v.tok GROUP BY 1
""",
)


# The per-source curation scorecard — document count, within-source exact-dup
# count, Gopher keep rate, mean quality, and token share, one row per source.
#
# The oracle COMPOSES the existing gates' SQL verbatim
# (``ORACLES["gopher_quality_flags"]``, ``ORACLES["text_quality_stats"]``)
# so the scorecard can never disagree with the operators it summarizes —
# the same reuse discipline as ``quality_keep_threshold``.


def _q_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.source_scorecard(td.load_table(spark, sf_dir, "documents"))


_register(
    "source_scorecard",
    _q_scorecard,
    rf"""
WITH g AS (SELECT doc_id, keep FROM ({ORACLES["gopher_quality_flags"]})),
q AS (SELECT doc_id, quality FROM ({ORACLES["text_quality_stats"]})),
b AS (
  SELECT doc_id, source,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
             AS nt
  FROM documents),
j AS (SELECT b.source, b.fp, b.nt, g.keep, q.quality
      FROM b JOIN g USING (doc_id) JOIN q USING (doc_id)),
per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs,
         round(CAST(sum(keep) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS keep_rate,
         round(CAST(sum(CAST(quality AS DECIMAL(20,10))) AS DOUBLE)
               / count(*), 6) AS mean_quality,
         CAST(sum(nt) AS BIGINT) AS n_tokens
  FROM j GROUP BY 1),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM per_source)
SELECT source, n_docs, dup_docs, keep_rate, mean_quality, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / t, 6) AS token_share
FROM per_source, tot
""",
)


# --- packing fragmentation ---------------------------------------------------

_PF_SEQ, _PF_SALT, _PF_BUCKETS = 512, "pack-v1", 1024


def _q_pack_frag(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    from ..operators.textstats import token_count

    staged = docs.select("doc_id", token_count("text").alias("nt"))
    return packing.packing_fragmentation(
        staged, "nt", key_col="doc_id", seq_len=_PF_SEQ, salt=_PF_SALT,
        n_buckets=_PF_BUCKETS,
    )


_PF_HEX = _hexfold(f"('{_PF_SALT}:' || CAST(doc_id AS VARCHAR))")

_register(
    "packing_fragmentation",
    _q_pack_frag,
    rf"""
WITH staged AS (
  SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tokens, {_PF_HEX} AS h
  FROM documents),
cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY h % {_PF_BUCKETS}, h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS strt
  FROM staged),
pk AS (SELECT n_tokens, strt % {_PF_SEQ} AS seq_offset FROM cum)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(ceil(CAST(sum(n_tokens) AS DOUBLE) / {_PF_SEQ}.0) AS BIGINT)
           AS n_seqs,
       CAST(sum(CASE WHEN n_tokens > 0 AND seq_offset + n_tokens > {_PF_SEQ}
                     THEN 1 ELSE 0 END) AS BIGINT) AS straddled_docs,
       round(CAST(sum(CASE WHEN n_tokens > 0 AND seq_offset + n_tokens > {_PF_SEQ}
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN n_tokens > 0 THEN 1 ELSE 0 END) AS DOUBLE), 6)
           AS straddle_rate,
       round(CAST(sum(CASE WHEN n_tokens > 0
                           THEN 1 + floor((seq_offset + n_tokens - 1) / {_PF_SEQ})
                           END) AS DOUBLE)
             / CAST(sum(CASE WHEN n_tokens > 0 THEN 1 ELSE 0 END) AS DOUBLE), 6)
           AS mean_spans
FROM pk
""",
)


# Tokenizer-budget OOV curve and crawl-fragment stitching.
#
# Reference anchor: extends the reference's content filters
# (src/rss_feed_etl/core/data_filter.py) toward tokenizer design
# (vocabulary budget vs token coverage) and corpus reconstruction
# (re-joining documents a chunker split with overlap — the inverse of
# ``chunk_documents``).

# --- vocabulary-size OOV curve -----------------------------------------------

_VOC_SIZES = (1000, 2000, 4000, 8000)


def _q_vocab_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.vocab_oov_curve(docs, sizes=_VOC_SIZES)


_VOC_LIST = ", ".join(str(s) for s in sorted(_VOC_SIZES))

_register(
    "vocab_oov_curve",
    _q_vocab_curve,
    rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
tf AS (SELECT tok, count(*) AS n FROM toks WHERE tok <> '' GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_occ,
               CAST(count(*) AS BIGINT) AS total_types
        FROM tf),
top AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank
        FROM tf ORDER BY n DESC, tok ASC LIMIT {max(_VOC_SIZES)}),
sz AS (SELECT unnest([{_VOC_LIST}]) AS vocab_size),
cov AS (SELECT vocab_size,
               CAST(count(rank) AS BIGINT) AS n_types,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS covered
        FROM sz LEFT JOIN top ON rank <= vocab_size GROUP BY 1)
SELECT vocab_size, n_types, total_types,
       round(1.0 - CAST(covered AS DOUBLE) / CAST(total_occ AS DOUBLE), 6)
           AS oov_rate
FROM cov, tot
""",
)


# Per-source PII exposure and per-source quality-selection cutoffs.
#
# Reference anchor: the reference filters on keywords and null keys
# (src/rss_feed_etl/core/data_filter.py); these extend that gate family
# to the safety (PII density) and mixture-aware selection (per-source
# top-p thresholds) checks a production curation run adds.

# --- per-source PII density ----------------------------------------------------
# The synthetic corpus is PII-free, so the query PLANTS deterministic
# hits with per-source-varying density (every 3rd doc an email, every
# 5th a phone, every 7th an SSN) — the same plant-inside-the-query
# pattern pii_redact uses.


def _q_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" reach me at u"), did.cast("string"),
                F.lit("@mail.example.org"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call (415) 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(" ssn 987-65-4321.")).otherwise(F.lit("")),
    )
    staged = docs.select("doc_id", "source", planted.alias("text"))
    return textstats.pii_density(staged)


_PII_RAW = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' reach me at u' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' call (415) 555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' ssn 987-65-4321.' ELSE '' END"
)

_register(
    "pii_density_by_source",
    _q_pii_density,
    rf"""
WITH raw AS (SELECT doc_id, source, {_PII_RAW} AS t FROM documents),
m AS (
  SELECT source,
         CAST(CASE WHEN trim(t) = '' THEN 0
              ELSE len(string_split_regex(trim(t), '\s+')) END AS BIGINT) AS nt,
         CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS e,
         CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT) AS p,
         CAST(len(regexp_extract_all(t, '{PII_SSN}')) AS BIGINT) AS s
  FROM raw)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(e) AS BIGINT) AS n_emails,
       CAST(sum(p) AS BIGINT) AS n_phones,
       CAST(sum(s) AS BIGINT) AS n_ssns,
       CASE WHEN sum(nt) > 0
            THEN round(1000.0 * CAST(sum(e) + sum(p) + sum(s) AS DOUBLE)
                       / CAST(sum(nt) AS DOUBLE), 6)
            END AS pii_per_1k_tokens
FROM m GROUP BY 1
""",
)


# --- per-source quality-selection cutoffs ---------------------------------------

_QC_PM = (500, 700, 900)


def _q_quality_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    scores = textstats.text_stats(docs).select("doc_id", "quality").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return sampling.quality_select_cutoffs(scores, keep_permille=_QC_PM)


_QC_LIST = ", ".join(str(p) for p in sorted(_QC_PM))

_register(
    "quality_select_cutoffs",
    _q_quality_cutoffs,
    f"""
WITH q AS (SELECT doc_id, quality FROM ({ORACLES["text_quality_stats"]})),
s AS (SELECT d.source, q.doc_id, q.quality
      FROM q JOIN documents d USING (doc_id)),
r AS (SELECT source, doc_id, quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id ASC) AS rn
      FROM s),
c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM s GROUP BY 1),
f AS (SELECT unnest([{_QC_LIST}]) AS keep_permille),
k AS (SELECT source, keep_permille, n_docs,
             CAST(floor((n_docs * keep_permille + 999) / 1000) AS BIGINT) AS kk
      FROM c CROSS JOIN f)
SELECT k.source, k.keep_permille, k.n_docs, round(r.quality, 6) AS cutoff
FROM k JOIN r ON r.source = k.source AND r.rn = k.kk
""",
)


# Interpolated trigram LM scoring and per-language UTF-8 byte economics.
#
# Reference anchor: the reference scores text quality with an external
# LLM call (src/rss_feed_etl/llm/scorer.py); the trigram interpolation is
# the self-contained KenLM-shaped stand-in CCNet-style pipelines run
# before any model is in the loop, and the byte-expansion table is the
# storage/tokenizer-planning pass a multilingual corpus needs first.

# --- interpolated trigram logppl (train on even docs, score all) ----------------

_TRI_LAMBDAS = (0.6, 0.3, 0.1)


def _q_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    model = docs.filter(F.col("doc_id") % 2 == 0)
    return textstats.interp_trigram_logppl(
        docs, model=model, lambdas=_TRI_LAMBDAS
    )


_L3, _L2, _L1 = _TRI_LAMBDAS

_register(
    "interp_trigram_logppl",
    _q_trigram,
    rf"""
WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents),
trigs AS (SELECT doc_id AS id,
                 unnest(list_transform(range(1, len(w) - 1),
                        i -> {{'a': w[i], 'b': w[i+1], 'c': w[i+2]}}),
                        recursive := true)
          FROM t),
mtrigs AS (SELECT doc_id AS id,
                  unnest(list_transform(range(1, len(w) - 1),
                         i -> {{'a': w[i], 'b': w[i+1], 'c': w[i+2]}}),
                         recursive := true)
           FROM t WHERE doc_id % 2 = 0),
mbigs AS (SELECT doc_id AS id,
                 unnest(list_transform(range(1, len(w)),
                        i -> {{'a': w[i], 'b': w[i+1]}}),
                        recursive := true)
          FROM t WHERE doc_id % 2 = 0),
c3 AS (SELECT a, b, c, count(*) AS n3 FROM mtrigs GROUP BY 1, 2, 3),
c2 AS (SELECT a, b, count(*) AS n2 FROM mbigs GROUP BY 1, 2),
c1 AS (SELECT tok, count(*) AS n1
       FROM (SELECT unnest(w) AS tok FROM t WHERE doc_id % 2 = 0)
       GROUP BY 1),
tot AS (SELECT sum(n1) AS total, count(*) AS vocab FROM c1),
scored AS (
  SELECT trigs.id,
         round(-ln(
           {_L3} * (CASE WHEN c3.n3 IS NOT NULL AND h.n2 > 0
                         THEN c3.n3 / CAST(h.n2 AS DOUBLE) ELSE 0.0 END)
           + {_L2} * (CASE WHEN bc.n2 IS NOT NULL AND nb.n1 > 0
                           THEN bc.n2 / CAST(nb.n1 AS DOUBLE) ELSE 0.0 END)
           + {_L1} * (coalesce(uc.n1, 0) + 1.0) / (total + vocab)
         ), 9) AS nll
  FROM trigs
  LEFT JOIN c3 ON trigs.a = c3.a AND trigs.b = c3.b AND trigs.c = c3.c
  LEFT JOIN c2 h ON trigs.a = h.a AND trigs.b = h.b
  LEFT JOIN c2 bc ON trigs.b = bc.a AND trigs.c = bc.b
  LEFT JOIN c1 nb ON trigs.b = nb.tok
  LEFT JOIN c1 uc ON trigs.c = uc.tok
  CROSS JOIN tot)
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       round(avg(nll), 6) AS logppl
FROM scored GROUP BY 1
""",
)


# --- UTF-8 expansion by lang (plant non-ASCII deterministically) -----------------

_UTF8_PLANT_SPARK = {
    "zh": " 模型训练数据",
    "de": " schöne Grüße",
    "fr": " déjà café",
    "es": " año señal",
}


def _q_utf8(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    suffix = F.lit("")
    planted = F.when(F.col("doc_id") % 4 == 0, F.lit(""))
    for lang, sfx in _UTF8_PLANT_SPARK.items():
        planted = planted.when(F.col("lang") == lang, F.lit(sfx))
    staged = docs.select(
        "doc_id", "lang",
        F.concat(F.col("text"), F.coalesce(planted, suffix)).alias("text"),
    )
    return textstats.utf8_expansion_by_lang(staged)


_UTF8_PLANT_SQL = " ".join(
    f"WHEN lang = '{lang}' THEN '{sfx}'"
    for lang, sfx in _UTF8_PLANT_SPARK.items()
)

_register(
    "utf8_expansion_by_lang",
    _q_utf8,
    f"""
WITH raw AS (
  SELECT lang,
         text || CASE WHEN doc_id % 4 = 0 THEN ''
                      {_UTF8_PLANT_SQL}
                      ELSE '' END AS t
  FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(t)) AS BIGINT) AS n_chars,
       CAST(sum(strlen(t)) AS BIGINT) AS n_bytes,
       CASE WHEN sum(length(t)) > 0
            THEN round(CAST(sum(strlen(t)) AS DOUBLE)
                       / CAST(sum(length(t)) AS DOUBLE), 6)
            END AS bytes_per_char,
       round(avg(CASE WHEN strlen(t) = length(t) THEN 1.0 ELSE 0.0 END), 6)
         AS ascii_doc_share
FROM raw GROUP BY 1
""",
)


# --- per-host crawl scorecard -------------------------------------------------------
# Synthetic URLs planted inside the query (the url_canonical_dedup pattern): host
# 0 takes every even doc (a mega-host), odd docs spread over 11 hosts;
# every 5th doc is an identical boilerplate body so per-host dup rates
# differ.

_HOST_URL_SPARK = None  # built inline below

_HOST_BOILER = "boilerplate landing page body"


def _q_host_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    hid = F.when(F.col("doc_id") % 2 == 0, F.lit(0)).otherwise(
        F.col("doc_id") % 12
    )
    staged = docs.select(
        F.concat(
            F.lit("https://www.host"),
            hid.cast("string"),
            F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(_HOST_BOILER))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textstats.host_crawl_scorecard(staged)


_register(
    "host_crawl_scorecard",
    _q_host_scorecard,
    rf"""
WITH raw AS (
  SELECT 'https://www.host'
         || CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 12 END
                 AS VARCHAR)
         || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 5 = 0 THEN '{_HOST_BOILER}' ELSE text END AS t
  FROM documents),
m AS (SELECT lower(regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)', 1)) AS host,
             md5(t) AS h,
             CAST(CASE WHEN trim(t) = '' THEN 0
                  ELSE len(string_split_regex(trim(t), '\s+')) END AS BIGINT)
               AS nt
      FROM raw),
tot AS (SELECT count(*) AS n_total FROM m)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
       round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6)
         AS dup_rate,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       round(CAST(count(*) AS DOUBLE) / max(n_total), 6) AS corpus_share
FROM m, tot GROUP BY 1
""",
)


# NPMI topic coherence per source and vocabulary-pruning impact.
#
# Reference anchor: the reference extracts per-document keywords
# (src/utils/ats_matcher.py skills lexicon); coherence scores whether a
# source's dominant terms form one topic at all, and the prune-impact
# table prices the tokenizer-vocab budget every downstream token count in
# this registry depends on.

# --- NPMI topic coherence ----------------------------------------------------------

_NC_TOP = 10


def _q_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.npmi_topic_coherence(docs, top_terms=_NC_TOP)


_register(
    "npmi_topic_coherence",
    _q_coherence,
    rf"""
WITH pres AS (
  SELECT source, id, tok FROM (
    SELECT source, doc_id AS id,
           unnest(list_distinct(
               string_split_regex(trim(lower(text)), '\s+'))) AS tok
    FROM documents) WHERE tok <> ''),
tf AS (SELECT source, tok, count(*) AS dfreq FROM pres GROUP BY 1, 2),
top AS (SELECT source, tok, dfreq FROM (
          SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY dfreq DESC, tok ASC) AS rk
          FROM tf) WHERE rk <= {_NC_TOP}),
nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
tp AS (SELECT p.source, p.id, p.tok FROM pres p JOIN top USING (source, tok)),
pairs AS (SELECT a.source, a.tok AS ta, b.tok AS tb, count(*) AS co
          FROM tp a JOIN tp b
            ON a.source = b.source AND a.id = b.id AND a.tok < b.tok
          GROUP BY 1, 2, 3),
allp AS (SELECT x.source, x.tok AS ta, y.tok AS tb,
                x.dfreq AS fa, y.dfreq AS fb
         FROM top x JOIN top y ON x.source = y.source AND x.tok < y.tok),
scored AS (
  SELECT allp.source, nd.n_docs,
         CASE WHEN coalesce(co, 0) = 0 THEN CAST(-1.0 AS DOUBLE)
              WHEN co = nd.n_docs THEN CAST(1.0 AS DOUBLE)
              ELSE round(ln(CAST(co AS DOUBLE) * nd.n_docs
                            / CAST(fa * fb AS DOUBLE))
                         / -ln(CAST(co AS DOUBLE) / nd.n_docs), 9)
         END AS npmi
  FROM allp
  LEFT JOIN pairs USING (source, ta, tb)
  JOIN nd ON allp.source = nd.source)
SELECT source,
       CAST(max(n_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(npmi AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6)
         AS coherence
FROM scored GROUP BY 1
""",
)


# --- vocabulary pruning impact -----------------------------------------------------

_VP_COUNTS = (2, 5, 10)


def _q_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.vocab_prune_impact(docs, min_counts=_VP_COUNTS)


def _vp_branch(mc: int) -> str:
    return f"""
  SELECT {mc} AS min_count,
         CAST(count(*) AS BIGINT) AS vocab_before,
         CAST(sum(CASE WHEN n >= {mc} THEN 1 ELSE 0 END) AS BIGINT)
           AS vocab_after,
         round(CAST(sum(CASE WHEN n < {mc} THEN n ELSE 0 END) AS DOUBLE)
               / sum(n), 6) AS pruned_token_share,
         round(CAST(sum(CASE WHEN n >= {mc} THEN n ELSE 0 END)
                    + sum(CASE WHEN n < {mc} THEN chars ELSE 0 END) AS DOUBLE)
               / sum(n), 6) AS length_inflation
  FROM t2"""


_register(
    "vocab_prune_impact",
    _q_vocab_prune,
    rf"""
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents) WHERE tok <> ''),
types AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
t2 AS (SELECT n, n * length(tok) AS chars FROM types)
{" UNION ALL ".join(_vp_branch(mc) for mc in _VP_COUNTS)}
""",
)


# --- Good-Turing unseen mass --------------------------------------------------------


def _q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.good_turing_mass(docs, max_r=5, ngram=3)


_register(
    "good_turing_mass",
    _q_good_turing,
    r"""
WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents),
toks AS (
  SELECT unnest(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tok
  FROM t),
types AS (SELECT tok, count(*) AS r FROM toks GROUP BY 1),
coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM types GROUP BY 1),
tot AS (SELECT CAST(sum(r) AS DOUBLE) AS n_tokens FROM types),
n1 AS (SELECT n_r AS n1 FROM coc WHERE r = 1),
nxt AS (SELECT r - 1 AS r, n_r AS n_r_plus1 FROM coc)
SELECT CAST(coc.r AS BIGINT) AS r, coc.n_r,
       CAST(coalesce(nxt.n_r_plus1, 0) AS BIGINT) AS n_r_plus1,
       round((coc.r + 1) * CAST(coalesce(nxt.n_r_plus1, 0) AS DOUBLE)
             / coc.n_r, 6) AS r_star,
       round(CAST(n1 AS DOUBLE) / n_tokens, 6) AS unseen_mass
FROM coc LEFT JOIN nxt USING (r), tot, n1
WHERE coc.r <= 5
""",
)


# Chao1 vocabulary richness.
#
# Reference anchor: the reference's vocabulary is whatever arrives in
# today's feed batch (src/etl/rss_feed_etl.py); Chao1 answers how much
# vocabulary the NEXT batches will still add — the type-count twin of
# ``good_turing_mass``'s unseen mass, over the same trigram tail.


def _q_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.chao1_vocab_estimate(docs, ngram=3)


_register(
    "chao1_vocab_estimate",
    _q_chao1,
    r"""
WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents),
toks AS (
  SELECT unnest(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tok
  FROM t),
types AS (SELECT tok, count(*) AS r FROM toks GROUP BY 1),
agg AS (SELECT CAST(count(*) AS BIGINT) AS v,
               CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(r) AS BIGINT) AS nt
        FROM types)
SELECT v AS v_observed, n1, n2,
       round(v + CAST(n1 AS DOUBLE) * (n1 - 1) / (2.0 * (n2 + 1)), 6)
         AS chao1,
       round(CAST(1.0 AS DOUBLE) - CAST(n1 AS DOUBLE) / nt, 6) AS coverage
FROM agg
""",
)


# Source-token mutual information and the pairwise source Jensen-Shannon
# divergence matrix.
#
# Reference anchor: the reference treats every feed as interchangeable
# input to one pipeline (src/etl/rss_feed_etl.py); MI prices how far that
# assumption is from true at the corpus level, and the JSD matrix says
# WHICH source pairs are stylistic clones — the distributional companion
# of ``cross_source_dup_matrix``.

_TRI = (
    r"list_transform(range(1, len(w) - 1), "
    r"i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"
)
# Round 11 (guide §2.3, lockstep with the Spark operators): the trigram
# key is the 60-bit md5 code (Spark's functions.hashing.md5_bucket ==
# DuckDB's _hexfold) — narrower count/join/window keys on both engines,
# identical collisions, hash-exact parity.
_MI_TOKS = (
    r"SELECT source AS g, "
    rf"unnest(list_transform({_TRI}, t -> {_hexfold('t')})) AS tok "
    r"FROM (SELECT source, string_split_regex(trim(lower(text)), '\s+') AS w "
    r"FROM documents)"
)


def _q_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.source_token_mutual_info(docs)


_register(
    "source_token_mutual_info",
    _q_mi,
    f"""
WITH toks AS ({_MI_TOKS}),
counts AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1, 2),
ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM counts GROUP BY 1),
nt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS n_t FROM counts GROUP BY 1),
alln AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_all,
                CAST(count(*) AS BIGINT) AS n_sources FROM ng),
terms AS (SELECT round((CAST(c AS DOUBLE) / n_all)
                       * ln((CAST(c AS DOUBLE) * n_all)
                            / (CAST(n_g AS DOUBLE) * n_t)), 9) AS term
          FROM counts JOIN ng USING (g) JOIN nt USING (tok)
          CROSS JOIN alln),
mi AS (SELECT round(CAST(sum(CAST(term AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS mi_nats FROM terms),
ntypes AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM nt),
h AS (SELECT round(CAST(sum(CAST(round(
            -(CAST(n_g AS DOUBLE) / n_all)
            * ln(CAST(n_g AS DOUBLE) / n_all), 9)
          AS DECIMAL(30,10))) AS DOUBLE), 6) AS h_source_nats
      FROM ng CROSS JOIN alln)
SELECT n_all AS n_tokens, n_sources, n_types, mi_nats, h_source_nats,
       CASE WHEN h_source_nats > 0
            THEN round(mi_nats / h_source_nats, 6) END AS nmi
FROM alln CROSS JOIN mi CROSS JOIN ntypes CROSS JOIN h
""",
)


def _q_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.source_js_divergence_matrix(docs)


_register(
    "source_js_divergence_matrix",
    _q_jsd,
    f"""
WITH toks AS ({_MI_TOKS}),
counts AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1, 2),
totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
cj AS (SELECT a.g AS ga, b.g AS gb, a.c AS ca, b.c AS cb,
              ta.n AS na, tb.n AS nb
       FROM counts a JOIN counts b ON a.tok = b.tok AND a.g < b.g
       JOIN totals ta ON ta.g = a.g
       JOIN totals tb ON tb.g = b.g),
ps AS (SELECT ga, gb, ca, cb,
              CAST(ca AS DOUBLE) / na AS p1,
              CAST(cb AS DOUBLE) / nb AS p2
       FROM cj),
bt AS (SELECT ga, gb, ca, cb,
              round((p1 / 2.0) * ln((2.0 * p1) / (p1 + p2))
                    + (p2 / 2.0) * ln((2.0 * p2) / (p1 + p2)), 9) AS t
       FROM ps),
pair_agg AS (SELECT ga, gb,
                    CAST(sum(CAST(t AS DECIMAL(30,10))) AS DOUBLE) AS sb,
                    CAST(sum(ca) AS BIGINT) AS s1,
                    CAST(sum(cb) AS BIGINT) AS s2,
                    CAST(count(*) AS BIGINT) AS n_common_types
             FROM bt GROUP BY 1, 2),
grid AS (SELECT ta.g AS ga, ta.n AS na, tb.g AS gb, tb.n AS nb
         FROM totals ta CROSS JOIN totals tb WHERE ta.g < tb.g)
SELECT ga AS source_a, gb AS source_b,
       CAST(coalesce(n_common_types, 0) AS BIGINT) AS n_common_types,
       round(coalesce(sb, 0.0)
             + round((ln(2.0) / 2.0)
                     * (2.0 - CAST(coalesce(s1, 0) AS DOUBLE) / na
                            - CAST(coalesce(s2, 0) AS DOUBLE) / nb), 9), 6)
         AS jsd_nats
FROM grid LEFT JOIN pair_agg USING (ga, gb)
""",
)


# Kneser-Ney bigram perplexity and the Church-Gale term burstiness profile.
#
# Reference anchor: the reference has no language-model notion of quality
# at all (its filters are keyword membership, run_job_filter.py); KN
# smoothing is the LM the CCNet-style quality tier actually uses, and the
# burstiness profile is the stopword-free way to find the topical
# vocabulary its keyword lists are written against.

_KN_D = 0.75


def _q_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.kneser_ney_bigram_ppl(docs, discount=_KN_D)


_register(
    "kneser_ney_bigram_ppl",
    _q_kn,
    f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
           FROM documents),
bigs AS (SELECT doc_id AS id,
                unnest(list_transform(range(1, len(w)),
                       i -> {{'a': w[i], 'b': w[i+1]}}),
                       recursive := true)
         FROM t),
c12 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n2 FROM bigs GROUP BY 1, 2),
lft AS (SELECT a, CAST(sum(n2) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n1pl FROM c12 GROUP BY 1),
rgt AS (SELECT b, CAST(count(*) AS BIGINT) AS n1pr FROM c12 GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n1pt FROM c12),
scored AS (
  SELECT bigs.id,
         round(-ln(greatest(CAST(n2 AS DOUBLE) - CAST({_KN_D} AS DOUBLE),
                            CAST(0.0 AS DOUBLE)) / c1
                   + (CAST({_KN_D} AS DOUBLE) * CAST(n1pl AS DOUBLE) / c1)
                     * (CAST(n1pr AS DOUBLE) / n1pt)), 9) AS nll
  FROM bigs JOIN c12 USING (a, b) JOIN lft USING (a) JOIN rgt USING (b)
  CROSS JOIN tot)
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(CAST(nll AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6)
         AS kn_logppl
FROM scored GROUP BY 1
""",
)


_TB_TOP = 30


def _q_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.term_burstiness_profile(docs, top=_TB_TOP)


_register(
    "term_burstiness_profile",
    _q_burst,
    f"""
WITH tc AS (
  SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY 1, 2),
stats AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS tf,
         CAST(count(*) AS BIGINT) AS df_docs,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM tc GROUP BY 1
  ORDER BY tf DESC, term ASC LIMIT {_TB_TOP}),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT term, tf, df_docs,
       round(CAST(tf AS DOUBLE) / n_docs, 6) AS mean_per_doc,
       round((CAST(s2 AS DOUBLE) / n_docs
              - (CAST(tf AS DOUBLE) / n_docs) * (CAST(tf AS DOUBLE) / n_docs))
             / (CAST(tf AS DOUBLE) / n_docs), 6) AS vmr,
       round(CAST(tf AS DOUBLE) / df_docs, 6) AS mean_when_present
FROM stats CROSS JOIN nd
""",
)


_HILL_K = 100

_TRI_TOKS = (
    r"SELECT unnest(list_transform(range(1, len(w) - 1), "
    r"i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tok "
    r"FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS w "
    r"FROM documents)"
)


def _q_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return textstats.hill_tail_index(docs, k=_HILL_K)


_register(
    "hill_tail_index",
    _q_hill,
    f"""
WITH tris AS ({_TRI_TOKS}),
counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM tris GROUP BY 1),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM counts),
top AS (SELECT f, tok FROM counts
        ORDER BY f DESC, tok ASC LIMIT {_HILL_K + 1}),
ranked AS (SELECT f, round(ln(CAST(f AS DOUBLE)), 9) AS lnf,
                  row_number() OVER (ORDER BY f DESC, tok ASC) AS r
           FROM top),
head AS (SELECT CAST(sum(CAST(lnf AS DECIMAL(30,10))) AS DOUBLE)
                  / {float(_HILL_K)} AS mean_ln
         FROM ranked WHERE r <= {_HILL_K}),
boundary AS (SELECT f AS f_k1, lnf AS ln_k1 FROM ranked
             WHERE r = {_HILL_K + 1})
SELECT CAST({_HILL_K} AS BIGINT) AS k, n_types, f_k1,
       CASE WHEN mean_ln > ln_k1
            THEN round(1.0 / (mean_ln - ln_k1), 6) END AS hill_alpha
FROM boundary CROSS JOIN head CROSS JOIN nt
""",
)

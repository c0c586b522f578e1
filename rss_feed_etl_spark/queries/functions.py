"""Queries whose first engine call is a column function from ``functions/``:
HTML cleaning, PII redaction, URL canonicalization, unicode normalization,
token budgets, LLM response repair and FDR selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import _register
from ..functions.hashing import md5_bucket
from ..functions.llm_repair import match_percentage_col
from ..functions.text import (
    PII_EMAIL,
    PII_PHONE,
    PII_SSN,
    normalize_unicode,
    redact_pii,
    tokens,
)
from ..functions.urls import url_dedup
from ..operators import dedup, packing, profiling, sampling
from ..operators.dedup import N_MINHASH
from ..operators.textstats import STOPWORDS_EN
from .corpus import (
    _BAND_LIST,
    _MH_LIST,
    _NTOK,
    _SHINGLES,
    _STOPLIST,
    _W,
    _code,
    _hexfold,
)


# ---------------------------------------------------------------------------
# HTML → text cleaning (X1/F5) through the Arrow-batched pandas UDF
# ---------------------------------------------------------------------------


def _q_html_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap each document in deterministic HTML (tags + a script block +
    entities), clean it with the pandas UDF, and return the text — the
    UDF is regex + entity replacement, so DuckDB replicates it exactly
    (its RE2 lacks backreferences, so the oracle spells the script|style
    alternation out; equivalent on non-nested input)."""
    from ..functions.text import html_to_text_udf

    docs = td.load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit('<p>Job: <b>'),
        F.col("text"),
        F.lit('</b> <a href="https://example.com/apply?id='),
        F.col("doc_id").cast("string"),
        F.lit('">apply here</a></p>'
              '<script type="text/javascript">var x = 1;</script>'
              "&amp; more &lt;stuff&gt;"),
    )
    return docs.select("doc_id", html_to_text_udf()(raw).alias("text_clean"))


_register(
    "html_clean",
    _q_html_clean,
    r"""
WITH h AS (
  SELECT doc_id,
         '<p>Job: <b>' || text ||
         '</b> <a href="https://example.com/apply?id=' || CAST(doc_id AS VARCHAR) ||
         '">apply here</a></p>' ||
         '<script type="text/javascript">var x = 1;</script>&amp; more &lt;stuff&gt;'
           AS raw
  FROM documents)
SELECT doc_id,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'g'),
               '(?is)<a\s[^>]*?href="([^"]*)"[^>]*>(.*?)</a>', '\2 (\1)', 'g'),
             '<[^>]+>', ' ', 'g'),
           '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', chr(39)),
         '\s+', ' ', 'g')) AS text_clean
FROM h
""",
)


# --- PII redaction ---------------------------------------------------------


def _q_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically plant an email, a phone number, and an SSN in each
    document, then scrub them — the testdata corpus itself is PII-free, so
    the query demonstrates redaction end-to-end while staying exactly
    reproducible on both engines."""
    docs = td.load_table(spark, sf_dir, "documents")
    tail = F.concat(
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call (312) 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" SSN 123-45-6789."),
    )
    raw = F.concat(F.col("text"), tail)
    return docs.select("doc_id", redact_pii(raw).alias("text_redacted"))


_RAW_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or call (312) 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' SSN 123-45-6789.'"
)
_register(
    "pii_redact",
    _q_pii,
    f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace({_RAW_SQL}, '{PII_SSN}', '[SSN]', 'g'),
           '{PII_PHONE}', '[PHONE]', 'g'),
         '{PII_EMAIL}', '[EMAIL]', 'g') AS text_redacted
FROM documents
""",
)


# --- canonical-URL dedup ---------------------------------------------------

# synthetic URL variants built deterministically from events: the same item
# appears with tracking params, a trailing slash, or a fragment, plus a
# case-variant scheme/host — canonicalization must collapse all of them
_URL_EXPR_SQL = """
'HTTPS://Example.COM/item/' || CAST(event_id % 500 AS VARCHAR) ||
CASE WHEN event_id % 3 = 0
     THEN '?utm_source=feed&utm_id=' || CAST(event_id % 7 AS VARCHAR)
     WHEN event_id % 3 = 1 THEN '/'
     ELSE '#section' END
"""


def _url_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    url = F.concat(
        F.lit("HTTPS://Example.COM/item/"),
        (F.col("event_id") % 500).cast("string"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_id="), (F.col("event_id") % 7).cast("string")
            ),
        )
        .when(F.col("event_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit("#section")),
    )
    return ev.select("event_id", url.alias("link"))


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return url_dedup(_url_variants(spark, sf_dir), url_col="link", id_col="event_id")


_register(
    "url_canonical_dedup",
    _q_url_dedup,
    f"""
WITH raw AS (SELECT event_id, {_URL_EXPR_SQL} AS link FROM events),
canon AS (
  SELECT event_id,
         s6 AS canonical_url
  FROM (
    SELECT event_id,
           lower(regexp_extract(s5, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*', 0)) ||
             substr(s5, length(regexp_extract(s5, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*', 0)) + 1)
             AS s6
    FROM (
      SELECT event_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(trim(link), '#.*$', '', 'g'),
                     '(utm_[a-z0-9_]+|fbclid|gclid)=[^&]*&', '', 'g'),
                   '[?&](utm_[a-z0-9_]+|fbclid|gclid)=[^&]*$', '', 'g'),
                 '[?&]$', '', 'g'),
               '/$', '', 'g') AS s5
      FROM raw)))
SELECT canonical_url,
       min(event_id) AS keeper_id,
       count(*) AS n_variants
FROM canon GROUP BY canonical_url
""",
)


# Token-budget corpus selection — fill a token budget with the highest-quality
# documents (quality = stopword naturalness, the same signal
# ``corpus_quality_filter`` uses).  The distributed form (score-grid prefix sum, no global window) is
# bit-identical to the oracle's single ORDER BY score window because token
# counts are integers and grid cells are monotone in score.

_BUDGET = 20_000  # selective at every sf (sf0.01's corpus is ~60k tokens)


def _q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    c = F.col("text")
    toks = tokens(c)
    n_tok = F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS_EN)))
    score = F.when(n_tok > 0, n_stop / n_tok.cast("double")).otherwise(F.lit(0.0))
    scored = docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        score.alias("score"),
    )
    return sampling.select_by_token_budget(scored, budget=_BUDGET)


_register(
    "token_budget_select",
    _q_token_budget,
    f"""
WITH t AS (
  SELECT doc_id,
         CAST({_NTOK} AS BIGINT) AS n_tokens,
         CASE WHEN {_NTOK} > 0
              THEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   t -> lower(t) IN ({_STOPLIST})))
                   / CAST({_NTOK} AS DOUBLE)
              ELSE 0.0 END AS score
  FROM documents),
c AS (
  SELECT doc_id, n_tokens, score,
         sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t)
SELECT doc_id, n_tokens, score FROM c WHERE cum <= {_BUDGET}
""",
)


# --- unicode normalization --------------------------------------------------
# The synthetic corpus is ASCII, so the query first INJECTS the messy
# characters deterministically (curly-quoted 'data', NBSP after 'the',
# em-dash for ' - ') and then proves the normalizer maps them back out.


def _q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    messy = F.replace(
        F.replace(F.col("text"), F.lit(" data "), F.lit(" “data” ")),
        F.lit(" the "),
        F.lit(" the "),
    )
    norm = normalize_unicode(messy)
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("bigint").alias("n_chars"),
    )


_register(
    "unicode_normalized",
    _q_normalize,
    """
WITH messy AS (
  SELECT doc_id,
         replace(replace(text, ' data ', ' “data” '),
                 ' the ', ' the ') AS m
  FROM documents),
norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(
             translate(m, '‘’“”–— ', '''''""-- '),
             '…', '...', 'g'),
             '[\\x00-\\x1f\\x7f]', ' ', 'g'),
             '\\s+', ' ', 'g')) AS n
  FROM messy)
SELECT doc_id, md5(n) AS norm_md5, CAST(length(n) AS BIGINT) AS n_chars
FROM norm
""",
)


# LLM response repair (reference F15/F16).
#
# The repair ladder in ``functions/llm_repair.py`` mirrors the reference's
# JSON+regex recovery (run_ats_enrichment.py:784-859,
# src/utils/ats_matcher.py:79-127).  The oracle-checkable slice is the pure
# regexp percentage ladder (``match_percentage_col``) — the ``from_json``
# structured path is Spark-only and pytest-covered
# (tests/test_llm_client_repair.py).
#
# The query synthesizes the reference's four malformed-response classes
# deterministically from the documents table (single-quoted pseudo-JSON,
# free prose with a % mention, %-suffixed JSON string values, and no number
# at all), then recovers the percentage with the identical regex on both
# engines.


def _q_llm_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id")
    pct = (F.col("doc_id") % 101).cast("string")
    resp = (
        F.when(
            (F.col("doc_id") % 4) == 0,
            F.concat(
                F.lit("[{'job_number': 1, 'match_percentage': "),
                pct,
                F.lit("%}]"),
            ),
        )
        .when(
            (F.col("doc_id") % 4) == 1,
            F.concat(
                F.lit("I think this is about a "), pct, F.lit("% match overall.")
            ),
        )
        .when(
            (F.col("doc_id") % 4) == 2,
            F.concat(
                F.lit('{"match_percentage": "'),
                pct,
                F.lit('%", "missing_skills": []}'),
            ),
        )
        .otherwise(F.lit("the model refused to answer"))
    )
    return docs.select(
        "doc_id",
        F.coalesce(match_percentage_col(resp), F.lit(-1.0)).alias("match_pct"),
    )


_register(
    "llm_response_repair",
    _q_llm_repair,
    r"""
WITH r AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN '[{''job_number'': 1, ''match_percentage'': '
                       || CAST(doc_id % 101 AS VARCHAR) || '%}]'
           WHEN 1 THEN 'I think this is about a '
                       || CAST(doc_id % 101 AS VARCHAR) || '% match overall.'
           WHEN 2 THEN '{"match_percentage": "'
                       || CAST(doc_id % 101 AS VARCHAR) || '%", "missing_skills": []}'
           ELSE 'the model refused to answer'
         END AS resp
  FROM documents),
x AS (
  SELECT doc_id,
         regexp_extract(resp, 'match_percentage"?:?\s*"?(\d+)', 1) AS labeled,
         regexp_extract(resp, '(\d+)\s*%', 1) AS anywhere
  FROM r),
y AS (
  SELECT doc_id,
         CAST(CASE WHEN labeled <> '' THEN labeled
                   WHEN anywhere <> '' THEN anywhere END AS DOUBLE) AS v
  FROM x)
SELECT doc_id,
       coalesce(CASE WHEN v IS NOT NULL THEN least(100.0, v) END, -1.0) AS match_pct
FROM y
""",
)


# --- crawl-fragment stitching -------------------------------------------------

_ST_K = 4


def _q_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant split fragments: every document with >= 2k tokens is cut at
    its midpoint with a k-token overlap (A = first half + overlap, B =
    second half), so A's tail gram equals B's head gram by construction
    and the stitcher must recover the (A, B) pairs."""
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = tokens("text")
    t = F.floor(F.size(w) / 2).cast("int")
    eligible = docs.filter(F.size(w) >= 2 * _ST_K)
    a = eligible.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, F.lit(1), t + _ST_K)).alias("text"),
    )
    b = eligible.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, t + 1, F.size(w) - t)).alias("text"),
    )
    aug = docs.unionByName(a).unionByName(b)
    return dedup.chunk_stitch_pairs(aug, id_col="doc_id", text_col="text", k=_ST_K)


_register(
    "chunk_stitch_pairs",
    _q_stitch,
    rf"""
WITH t0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
            FROM documents),
aug AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(w[1:(len(w) // 2 + {_ST_K})], ' ')
  FROM t0 WHERE len(w) >= {2 * _ST_K}
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(w[(len(w) // 2 + 1):len(w)], ' ')
  FROM t0 WHERE len(w) >= {2 * _ST_K}),
st AS (SELECT id, string_split_regex(trim(lower(text)), '\s+') AS t FROM aug),
staged AS (SELECT id, t FROM st WHERE len(t) >= {_ST_K}),
heads AS (SELECT id, array_to_string(t[1:{_ST_K}], ' ') AS boundary FROM staged),
tails AS (SELECT id, array_to_string(t[(len(t) - {_ST_K - 1}):len(t)], ' ')
              AS boundary
          FROM staged),
hb AS (SELECT boundary FROM heads GROUP BY 1 HAVING count(*) <= 1000)
SELECT tails.id AS prev_id, heads.id AS next_id, boundary
FROM tails
JOIN hb USING (boundary)
JOIN heads USING (boundary)
WHERE tails.id <> heads.id
""",
)


# shared minhash CTE chain (the registered minhash_lsh_neardup oracle's
# exact fragments) over a corpus CTE named ``aug`` with (id, text)


def _mh_ctes(threshold: float) -> str:
    return f"""
codes AS (SELECT id, list_transform({_SHINGLES.format(w=_W)}, s -> {_code("s")}) AS codes
          FROM aug),
sigs AS (SELECT id, [{_MH_LIST}] AS sig FROM codes),
banded AS (SELECT id, sig, unnest([{_BAND_LIST}]) AS bucket FROM sigs),
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
, pairs AS (SELECT * FROM est WHERE est_jaccard >= {threshold})"""


# --- cross-source duplicate-flow matrix ---------------------------------------

_XS_THR = 0.25


def _q_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    toks = tokens("text")
    mirror = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.ceil(F.size(toks) * 0.8).cast("int"))
        ).alias("text"),
        F.concat(F.lit("mirror-"), F.col("source")).alias("source"),
    )
    aug = docs.unionByName(mirror)
    return dedup.cross_source_dup_matrix(
        aug, id_col="doc_id", text_col="text", source_col="source",
        threshold=_XS_THR,
    )


_register(
    "cross_source_dup_matrix",
    _q_source_matrix,
    f"""
WITH aug0 AS (
  SELECT doc_id AS id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS id,
         array_to_string(w[1:CAST(ceil(0.8*len(w)) AS INT)], ' ') AS text,
         'mirror-' || source AS source
  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
        FROM documents)),
aug AS (SELECT id, text FROM aug0),{_mh_ctes(_XS_THR)}
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN aug0 sa ON sa.id = pairs.id_a
JOIN aug0 sb ON sb.id = pairs.id_b
GROUP BY 1, 2
""",
)


# Benjamini-Hochberg FDR selection and Simple Good-Turing unseen-mass
# estimation.
#
# Reference anchor: the reference eyeballs per-feed summary counts
# (src/etl/rss_feed_etl.py); BH is what keeps a 300-segment metric sweep
# from fabricating wins, and Good-Turing prices how much vocabulary the
# NEXT crawl shard will add — the planning twin of vocab_coverage_curve.

# --- BH selection over a planted test battery --------------------------------------
# 200 tests with md5-uniform null p-values; every 20th is a planted
# signal (p divided by 1e4).  BH at alpha=0.1 must pick up the signals
# and almost none of the nulls.

_BH_ALPHA = 0.1
_BH_M = 200


def _q_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = spark.range(_BH_M).select(F.col("id").cast("long").alias("test_id"))
    u = (
        md5_bucket(F.concat(F.lit("bh-v1:"), F.col("test_id").cast("string")))
        % 1000000
    ).cast("double") / 1000000.0
    p = F.when(F.col("test_id") % 20 == 0, u / 10000.0).otherwise(u)
    tests = ids.select("test_id", p.alias("p"))
    return profiling.bh_fdr_select(tests, alpha=_BH_ALPHA)


_BH_HK = _hexfold("('bh-v1:' || CAST(test_id AS VARCHAR))")

_register(
    "bh_fdr_select",
    _q_bh,
    f"""
WITH ids AS (SELECT CAST(unnest(range({_BH_M})) AS BIGINT) AS test_id),
tests AS (
  SELECT test_id,
         CASE WHEN test_id % 20 = 0
              THEN (({_BH_HK} % 1000000) / CAST(1000000.0 AS DOUBLE)) / 10000.0
              ELSE ({_BH_HK} % 1000000) / CAST(1000000.0 AS DOUBLE)
         END AS p
  FROM ids),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tests),
ranked AS (SELECT test_id, p,
                  row_number() OVER (ORDER BY p ASC, test_id ASC) AS rank
           FROM tests),
kstar AS (SELECT CAST(coalesce(max(rank), 0) AS BIGINT) AS k
          FROM ranked, m WHERE p <= rank * {_BH_ALPHA} / m)
SELECT test_id, round(p, 6) AS p, CAST(rank AS BIGINT) AS rank,
       m.m AS n_tests, kstar.k AS k_selected
FROM ranked, m, kstar WHERE rank <= kstar.k
""",
)


# SFT chat-template export — ``packing.sft_chat_export`` registered as a
# continuation-tuning export over the documents table (prompt = first 80% of
# tokens, completion = the final 20% — the supervision split a
# continuation/FIM-style SFT set uses when no labeled pairs exist).
#
# Budget 48 sits inside the corpus token-length band (10–99, median 56),
# so both truncation branches are realized: long docs left-truncate their
# prompt (completion always intact), short docs export whole.
#
# Reference anchor: the reference ends at scored rows in a sheet
# (run_ats_enrichment.py writes scores back to Google Sheets); this is
# the missing last mile of a TRAINING pipeline — formatting curated text
# into loss-masked, shard-addressed trainer records.

_SFT_BUDGET = 48
_SFT_SHARDS = 8
_SFT_SALT = "sft-v1"
_SFT_SYSTEM = "You are a helpful assistant."


def _q_sft_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    n = F.size(toks)
    cut = F.ceil(n * 0.8).cast("int")
    pairs = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, cut)).alias("prompt"),
        F.concat_ws(" ", F.slice(toks, cut + 1, n - cut)).alias("completion"),
    ).filter(n - cut >= 1)
    return packing.sft_chat_export(
        pairs,
        id_col="doc_id",
        system=_SFT_SYSTEM,
        budget_tokens=_SFT_BUDGET,
        n_shards=_SFT_SHARDS,
        salt=_SFT_SALT,
    )


_SFT_SHARD_SQL = (
    _hexfold(f"('{_SFT_SALT}:shard:' || CAST(doc_id AS VARCHAR))")
    + f" % {_SFT_SHARDS}"
)

_register(
    "sft_chat_export",
    _q_sft_export,
    f"""
WITH t AS (SELECT doc_id, {_W} AS w FROM documents),
s AS (SELECT doc_id, w, len(w) AS n,
             CAST(ceil(0.8 * len(w)) AS INT) AS cut
      FROM t WHERE len(w) - CAST(ceil(0.8 * len(w)) AS INT) >= 1),
b AS (SELECT doc_id, w, n, cut, n - cut AS n_c,
             greatest(least({_SFT_BUDGET} - (n - cut), cut), 0) AS keep
      FROM s),
r AS (SELECT doc_id, n_c, keep, cut,
             '<|system|>' || chr(10) || '{_SFT_SYSTEM}' || chr(10)
               || '<|user|>' || chr(10)
               || coalesce(array_to_string(w[cut - keep + 1:cut], ' '), '')
               || chr(10) || '<|assistant|>' || chr(10) AS head,
             coalesce(array_to_string(w[cut + 1:n], ' '), '') AS completion
      FROM b)
SELECT doc_id,
       CAST(keep AS BIGINT) AS n_prompt_tokens,
       CAST(n_c AS BIGINT) AS n_completion_tokens,
       cut > keep AS truncated,
       CAST(length(head) + 1 AS BIGINT) AS loss_start_char,
       md5(head || completion) AS record_md5,
       CAST({_SFT_SHARD_SQL} AS BIGINT) AS shard
FROM r
""",
)

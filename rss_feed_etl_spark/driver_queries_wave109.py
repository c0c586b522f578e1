"""Driver-contract queries, wave 109: tokenizer-budget OOV curve and
crawl-fragment stitching.

Reference anchor: extends the reference's content filters
(src/rss_feed_etl/core/data_filter.py) toward tokenizer design
(vocabulary budget vs token coverage) and corpus reconstruction
(re-joining documents a chunker split with overlap — the inverse of
``chunk_documents``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import _register
from .functions.text import tokens
from .operators import dedup, textstats

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

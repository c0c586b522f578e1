"""Sequence-packing queries over ``operators/packing.py``: chunking, span
corruption, context overflow and truncation loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import testdata as td
from ..driver_queries import _register
from ..operators import packing
from .corpus import _NTOK, _W, _hexfold


# --- document chunking -----------------------------------------------------

_CHUNK_W = 16
_CHUNK_S = 12


def _q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return packing.chunk_documents(
        docs, chunk_tokens=_CHUNK_W, stride=_CHUNK_S
    )


_register(
    "document_chunks",
    _q_chunking,
    f"""
WITH base AS (SELECT doc_id, {_W} AS w, len({_W}) AS n FROM documents),
idx AS (
  SELECT doc_id, w, n,
         unnest(range(0, 1 + CAST(ceil(greatest(n - {_CHUNK_W}, 0) * 1.0 / {_CHUNK_S}) AS BIGINT))) AS i
  FROM base),
st AS (
  SELECT DISTINCT doc_id, w,
         least(i * {_CHUNK_S} + 1, greatest(n - {_CHUNK_W} + 1, 1)) AS start
  FROM idx)
SELECT doc_id,
       row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1 AS chunk_idx,
       start,
       len(w[start:start + {_CHUNK_W} - 1]) AS n_tokens,
       md5(array_to_string(w[start:start + {_CHUNK_W} - 1], ' ')) AS chunk_md5
FROM st
""",
)


_SC_BLOCK = 3
_SC_PCT = 15
_SC_SALT = "t5-v1"


def _q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.span_corruption(
        td.load_table(spark, sf_dir, "documents"),
        block=_SC_BLOCK, mask_pct=_SC_PCT, salt=_SC_SALT,
    )


def _span_sql() -> str:
    h = _hexfold(
        f"('{_SC_SALT}:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))"
    )
    bt = f"array_to_string(w[b * {_SC_BLOCK} + 1 : (b + 1) * {_SC_BLOCK}], ' ')"
    sent = "'<extra_id_' || CAST(list_sum(rs[1 : b + 1]) - 1 AS VARCHAR) || '>'"
    return f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
         CAST(ceil(len(string_split_regex(trim(text), '\\s+'))
                   / {_SC_BLOCK}.0) AS INT) AS nb
  FROM documents),
m AS (SELECT *, list_transform(range(nb),
        b -> CAST({h} % 100 < {_SC_PCT} AS INT)) AS mk FROM t),
r AS (SELECT *, list_transform(range(nb),
        b -> CAST(mk[b + 1] = 1 AND (b = 0 OR mk[b] = 0) AS INT)) AS rs FROM m),
parts AS (
  SELECT doc_id,
         CAST(list_sum(rs) AS BIGINT) AS n_spans,
         list_transform(range(nb),
           b -> CASE WHEN rs[b + 1] = 1 THEN {sent}
                     WHEN mk[b + 1] = 1 THEN ''
                     ELSE {bt} END) AS pin,
         list_transform(range(nb),
           b -> CASE WHEN rs[b + 1] = 1 THEN {sent} || ' ' || {bt}
                     WHEN mk[b + 1] = 1 THEN {bt}
                     ELSE '' END) AS ptg
  FROM r)
SELECT doc_id, n_spans,
       coalesce(array_to_string(list_filter(pin, x -> x <> ''), ' '), '') AS corrupted,
       coalesce(array_to_string(list_filter(ptg, x -> x <> ''), ' '), '') AS target
FROM parts
"""


_register("span_corruption", _q_span_corruption, _span_sql())


# --- context-window padding accounting ---------------------------------------

_SEQ = 512


def _q_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.context_overflow_stats(
        td.load_table(spark, sf_dir, "documents"), seq_len=_SEQ
    )


_register(
    "context_overflow_stats",
    _q_overflow,
    rf"""
WITH t AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n
  FROM documents),
s AS (SELECT source, n, CAST(ceil(n / {_SEQ}.0) AS BIGINT) AS chunks FROM t)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(chunks) AS BIGINT) AS n_chunks,
       CAST(sum(chunks) * {_SEQ} - sum(n) AS BIGINT) AS pad_tokens,
       CASE WHEN sum(chunks) > 0
            THEN round((sum(chunks) * {_SEQ} - sum(n))
                       / (sum(chunks) * {_SEQ}.0), 6)
            ELSE 0.0 END AS pad_ratio
FROM s GROUP BY 1
""",
)


_TL_CUTS = (64, 128, 256, 512)


def _q_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return packing.truncation_loss_curve(docs, cutoffs=_TL_CUTS)



_register(
    "truncation_loss_curve",
    _q_truncation,
    f"""
WITH lens AS (SELECT {_NTOK} AS len, CAST(count(*) AS BIGINT) AS c
              FROM documents GROUP BY 1),
cand AS (SELECT * FROM (VALUES {", ".join(f"({c})" for c in _TL_CUTS)})
         t(cutoff)),
g AS (SELECT cutoff, len, c,
             CASE WHEN len > cutoff THEN len - cutoff ELSE 0 END AS lost
      FROM cand CROSS JOIN lens),
a AS (SELECT cutoff,
             CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN len > cutoff THEN c ELSE 0 END) AS BIGINT)
               AS n_truncated,
             CAST(sum(len * c) AS BIGINT) AS tokens_total,
             CAST(sum(lost * c) AS BIGINT) AS tokens_lost
      FROM g GROUP BY 1)
SELECT cutoff, n_docs, n_truncated,
       round(CAST(n_truncated AS DOUBLE) / n_docs, 6) AS frac_docs_truncated,
       tokens_total, tokens_lost,
       round(CAST(tokens_lost AS DOUBLE) / tokens_total, 6)
         AS frac_tokens_lost
FROM a
""",
)

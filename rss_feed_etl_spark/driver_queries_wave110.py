"""Driver-contract queries, wave 110: near-dedup decision analytics —
threshold sensitivity and the cross-source duplicate-flow matrix, both
read off ONE MinHash signature pass.

Reference anchor: the reference dedups blindly at a fixed key
(run_job_filter.py); these are the diagnostics a pipeline owner reads
to CHOOSE the near-dup threshold and to see which feeds mirror which.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import _register
from .driver_queries_corpus import _AUG_SQL, _BAND_LIST, _MH_LIST, _SHINGLES, _W, _code
from .driver_queries_corpus import _aug_docs
from .functions.text import tokens
from .operators import dedup
from .operators.dedup import N_MINHASH

_SW_THRESHOLDS = (0.25, 0.5, 0.75, 0.9)
_SW_LO = min(_SW_THRESHOLDS)

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


def _q_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_threshold_sweep(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text",
        thresholds=_SW_THRESHOLDS,
    )


_SW_LIST = ", ".join(f"CAST({t} AS DOUBLE)" for t in sorted(_SW_THRESHOLDS))

_register(
    "minhash_threshold_sweep",
    _q_sweep,
    f"""
WITH {_AUG_SQL},{_mh_ctes(_SW_LO)},
sz AS (SELECT unnest([{_SW_LIST}]) AS threshold)
SELECT threshold,
       CAST(sum(CASE WHEN est_jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pairs
FROM sz CROSS JOIN pairs
GROUP BY 1
""",
)


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

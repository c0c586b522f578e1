"""Feature-encoding queries over ``operators/features.py``: leave-one-out
target encoding and feature hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import testdata as td
from ..driver_queries import _register
from ..operators import features
from .corpus import _code


# Feature engineering — leave-one-out target encoding (m-estimate smoothed) and
# signed hashing-trick token features.

_PRIOR = 10.0


def _q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return features.target_encode_loo(
        ev, "event_id", "event_type", "value", prior_weight=_PRIOR
    )


_register(
    "target_encode_loo",
    _q_target_encode,
    f"""
WITH g AS (
  SELECT CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS gmean
  FROM events),
c AS (
  SELECT event_type AS cat, sum(CAST(value AS DECIMAL(30,10))) AS s,
         count(*) AS n
  FROM events GROUP BY 1)
SELECT e.event_id AS id, e.event_type AS cat,
       round((CAST(c.s - CAST(e.value AS DECIMAL(30,10)) AS DOUBLE)
              + {_PRIOR} * g.gmean)
             / CAST(c.n - 1 + {_PRIOR} AS DOUBLE), 6) AS enc
FROM events e
JOIN c ON e.event_type = c.cat
CROSS JOIN g
""",
)

_D = 32


def _q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return features.feature_hash_encode(docs, "doc_id", "text", n_buckets=_D)


_register(
    "feature_hash_encode",
    _q_feature_hash,
    rf"""
WITH t AS (
  SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents WHERE trim(text) <> ''),
c AS (SELECT id, {_code('tok')} AS code FROM t)
SELECT id, CAST(code % {_D} AS BIGINT) AS bucket,
       CAST(sum(CASE WHEN (code // {_D}) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)
         AS weight
FROM c GROUP BY 1, 2
""",
)

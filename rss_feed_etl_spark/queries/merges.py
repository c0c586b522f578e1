"""Merge queries over ``operators/merges.py``: SCD2 snapshots and
enrichment, ordered CDC apply and golden records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import ORACLES, _keyed_split, _register, _scd2_history
from ..operators import joins, merges


# --- SCD2 point-in-time snapshot --------------------------------------------

_SNAP_AT = "2024-01-20 00:00:00"  # between SCD2_CLOSED_END and AS_OF


def _q_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, batch, _ = _keyed_split(spark, sf_dir)
    history = _scd2_history(spark, sf_dir)
    merged = merges.merge_scd2(batch, history, as_of=td.AS_OF)
    return merges.scd2_snapshot_at(merged, _SNAP_AT)


_register(
    "scd2_snapshot_asof",
    _q_scd2_snapshot,
    f"""
SELECT * FROM ({ORACLES["scd2_merge"]}) v
WHERE effective_start <= TIMESTAMP '{_SNAP_AT}'
  AND (effective_end IS NULL OR effective_end > TIMESTAMP '{_SNAP_AT}')
""",
)


# --- ordered CDC apply ------------------------------------------------------

_CDC_OP = (
    "CASE WHEN event_id % 10 = 0 THEN 'D' "
    "WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END"
)


def _q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = td.load_table(spark, sf_dir, "events")
    log = events.select(
        "user_id", "ts", "event_id", F.expr(_CDC_OP).alias("op"), "value"
    )
    return merges.cdc_apply_ordered(log, key="user_id")


_register(
    "cdc_apply_ordered",
    _q_cdc_apply,
    f"""
WITH ops AS (
  SELECT user_id, ts, event_id, {_CDC_OP} AS op, value FROM events),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
  FROM ops)
SELECT user_id, op AS last_op, round(value, 6) AS last_value,
       ts AS last_ts, n_ops
FROM r WHERE rn = 1 AND op <> 'D'
""",
)


# Golden-record survivorship merge, incremental aggregate-table maintenance,
# and join cardinality estimation.

# --- golden record ----------------------------------------------------------

_GR_COMPONENTS = 200


def _q_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    members = docs.select(
        (F.col("doc_id") % _GR_COMPONENTS).alias("component_id"),
        F.col("doc_id").alias("id"),
        (F.substring("source", 4, 10).cast("int") % 5).alias("priority"),
        F.when(F.col("n_chars") % 3 == 0, None).otherwise(F.col("lang")).alias("lang"),
        F.when(F.col("n_chars") % 5 == 0, None).otherwise(F.col("text")).alias("text"),
    )
    return merges.golden_record(members)


_register(
    "golden_record",
    _q_golden,
    f"""
WITH m AS (
  SELECT doc_id % {_GR_COMPONENTS} AS component_id,
         doc_id AS id,
         CAST(substr(source, 4) AS INT) % 5 AS priority,
         CASE WHEN n_chars % 3 = 0 THEN NULL ELSE lang END AS lang,
         CASE WHEN n_chars % 5 = 0 THEN NULL ELSE text END AS text
  FROM documents)
SELECT component_id,
       arg_min(lang, CAST(lang IS NULL AS BIGINT) * 1000000000000000
                     + CAST(priority AS BIGINT) * 10000000000000 + id) AS lang,
       arg_min(text, CAST(text IS NULL AS BIGINT) * 1000000000000000
                     + CAST(priority AS BIGINT) * 10000000000000 + id) AS text,
       CAST(count(*) AS BIGINT) AS n_members
FROM m GROUP BY 1
""",
)


# SCD2 history reconstruction from a CDC stream, time-weighted averages, and
# degree-oriented triangle counting over the item co-occurrence graph.

# --- CDC → SCD2 history -----------------------------------------------------


def _q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = td.load_table(spark, sf_dir, "events")
    log = events.select(
        "user_id", "ts", "event_id", F.expr(_CDC_OP).alias("op"),
        F.round("value", 2).alias("value"),
    )
    return merges.cdc_to_scd2(log, key="user_id")


_register(
    "cdc_to_scd2",
    _q_cdc_scd2,
    f"""
WITH ops AS (
  SELECT user_id, ts, event_id, {_CDC_OP} AS op, round(value, 2) AS value
  FROM events),
l AS (
  SELECT *, lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS e
  FROM ops)
SELECT user_id, value, ts AS effective_start, e AS effective_end,
       CAST(e IS NULL AS INT) AS current_flag
FROM l WHERE op IN ('I', 'U')
""",
)


# Point-in-time SCD2 enrichment — facts joined to the dimension version
# effective at event time, with the version history itself reconstructed from
# the CDC stream (composing ``cdc_to_scd2`` with ``scd2_interval_enrich``).

# --- point-in-time enrichment -----------------------------------------------


def _q_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = td.load_table(spark, sf_dir, "events")
    # version history from the I/U/D change stream (CDC rows = every 3rd
    # event), enriched onto the remaining fact rows at their event time
    log = events.filter(F.col("event_id") % 3 == 0).select(
        "user_id", "ts", "event_id", F.expr(_CDC_OP).alias("op"),
        F.round("value", 2).alias("value"),
    )
    versions = merges.cdc_to_scd2(log, key="user_id")
    facts = events.filter(F.col("event_id") % 3 != 0).select(
        "event_id", "user_id", "ts", "event_type"
    )
    out = joins.scd2_interval_enrich(
        facts, versions, key="user_id", value_cols=["value"]
    )
    return out.select(
        "event_id", "user_id", "event_type",
        F.col("dim_value").alias("effective_value"),
    )


_register(
    "scd2_pointwise_enrich",
    _q_scd2_enrich,
    f"""
WITH ops AS (
  SELECT user_id, ts, event_id, {_CDC_OP} AS op, round(value, 2) AS value
  FROM events WHERE event_id % 3 = 0),
v AS (
  SELECT user_id, value, ts AS s,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS e,
         op
  FROM ops),
versions AS (SELECT user_id, value, s, e FROM v WHERE op IN ('I', 'U')),
facts AS (SELECT event_id, user_id, ts, event_type
          FROM events WHERE event_id % 3 <> 0)
SELECT f.event_id, f.user_id, f.event_type,
       ver.value AS effective_value
FROM facts f
LEFT JOIN versions ver
  ON f.user_id = ver.user_id
 AND f.ts >= ver.s AND (ver.e IS NULL OR f.ts < ver.e)
""",
)

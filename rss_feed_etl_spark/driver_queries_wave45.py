"""Driver-contract queries, wave 45: SCD2 history reconstruction from a
CDC stream, time-weighted averages, and degree-oriented triangle counting
over the item co-occurrence graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import _register
from .driver_queries_wave38 import _CDC_OP
from .functions.arrays import ordered_pairs
from .operators import graph, merges, timeseries as ts

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


# --- time-weighted average --------------------------------------------------


def _q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.time_weighted_average(td.load_table(spark, sf_dir, "events"))


_register(
    "time_weighted_average",
    _q_twap,
    """
WITH l AS (
  SELECT event_type, value,
         lead(epoch(ts)) OVER (PARTITION BY event_type
                               ORDER BY ts ASC, event_id ASC)
           - epoch(ts) AS dt
  FROM events)
SELECT event_type,
       round(sum(value * dt) / sum(dt), 6) AS twap,
       round(avg(value), 6) AS plain_mean,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM l WHERE dt IS NOT NULL
GROUP BY 1
""",
)


# --- triangle counting ------------------------------------------------------


def _item_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    ui = ev.select(
        "user_id", F.get_json_object("props", "$.k").cast("int").alias("item")
    ).distinct()
    per_user = ui.groupBy("user_id").agg(
        F.sort_array(F.collect_set("item")).alias("items")
    )
    pairs = ordered_pairs(
        F.col("items"),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    return (
        per_user.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.triangle_count(_item_edges(spark, sf_dir))


_EDGES_SQL = """
ui AS (
  SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS INT) AS item
  FROM events WHERE event_type = 'view'),
e AS (
  SELECT DISTINCT x.item AS a, y.item AS b
  FROM ui x JOIN ui y ON x.user_id = y.user_id AND x.item < y.item)
"""

_register(
    "item_triangle_count",
    _q_triangles,
    f"""
WITH {_EDGES_SQL},
deg AS (SELECT v, count(*) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1),
o AS (SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                  THEN a ELSE b END AS lo,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                  THEN b ELSE a END AS hi
      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
od AS (SELECT lo, count(*) AS c FROM o GROUP BY 1),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
SELECT n_triangles,
       (SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) FROM od) AS n_wedges
FROM tri
""",
)

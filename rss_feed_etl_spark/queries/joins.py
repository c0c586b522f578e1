"""Join queries over ``operators/joins.py``: as-of, interval, snapshot-diff,
foreign-key profiling and Bloom-pruned joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import WITH_TABLES, _CHANGED_SQL, _keyed_split, _register
from ..operators import joins
from ..operators.joins import asof_join


# ---------------------------------------------------------------------------
# as-of join: latest order per customer as of each event (J — beyond ref)
# ---------------------------------------------------------------------------


def _q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = td.load_table(spark, sf_dir, "orders")
    # one right row per (key, ts): ties broken keep-max-orderkey
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    ords = (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    return asof_join(
        ev,
        ords,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
    ).select("event_id", "user_id", "o_orderkey", "o_totalprice")


_register(
    "asof_latest_order",
    _q_asof_latest_order,
    """
WITH r AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders),
d AS (SELECT * FROM r WHERE rn = 1)
SELECT e.event_id, e.user_id, d.o_orderkey, d.o_totalprice
FROM events e
ASOF LEFT JOIN d ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
""",
)


# --- interval (range) join ------------------------------------------------

_WINDOW_S = 1800  # purchases within 30 min after a click


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    out = joins.interval_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        min_delta_s=0, max_delta_s=_WINDOW_S,
    )
    return out.select(
        "user_id",
        "click_id",
        F.col("r_purchase_id").alias("purchase_id"),
        (F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("ts"))).alias("delta_us"),
    )


_register(
    "click_purchase_window",
    _q_interval_join,
    f"""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND epoch_us(p.ts) - epoch_us(c.ts) <= {_WINDOW_S} * 1000000
""",
)


# --- snapshot diff ---------------------------------------------------------


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, _, _ = _keyed_split(spark, sf_dir)
    # derive a batch exercising every status: uid%4==0 rows pass through
    # verbatim (unchanged), %4==1 get a new summary (changed), %4==2 are
    # re-keyed (added + their original keys removed), %4==3 are absent
    # (removed)
    uid = F.regexp_extract("link", "u(\\d+)", 1).cast("int")
    batch = (
        hist.filter(uid % 4 == 0)
        .unionByName(hist.filter(uid % 4 == 1).withColumn("summary", F.lit("CHANGED")))
        .unionByName(
            hist.filter(uid % 4 == 2).withColumn(
                "link", F.concat(F.lit("x"), F.col("link"))
            )
        )
    )
    return joins.snapshot_diff(hist, batch)


_STAGE_COLS_SQL = ("job_title, link, entry_title, published, feed_title, "
                   "reader, time_window, summary, notes")

_register(
    "snapshot_diff",
    _q_snapshot_diff,
    f"""
{WITH_TABLES},
uidx AS (
  SELECT *, CAST(regexp_extract(link, 'u(\\d+)', 1) AS INT) AS uid FROM hist),
batch2 AS (
  SELECT {_STAGE_COLS_SQL} FROM uidx WHERE uid % 4 = 0
  UNION ALL
  SELECT job_title, link, entry_title, published, feed_title,
         reader, time_window, 'CHANGED' AS summary, notes
  FROM uidx WHERE uid % 4 = 1
  UNION ALL
  SELECT job_title, 'x' || link AS link, entry_title, published, feed_title,
         reader, time_window, summary, notes
  FROM uidx WHERE uid % 4 = 2)
SELECT status, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT CASE WHEN h.link IS NULL THEN 'added'
              WHEN b.link IS NULL THEN 'removed'
              WHEN {_CHANGED_SQL} THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM batch2 b FULL OUTER JOIN hist h ON b.link = h.link)
GROUP BY status
""",
)


# --- FK profile -------------------------------------------------------------


def _q_fk_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.fk_profile(
        td.load_table(spark, sf_dir, "lineitem"),
        td.load_table(spark, sf_dir, "orders"),
        fk="l_orderkey",
        pk="o_orderkey",
    )


_register(
    "fk_profile_lineitem_orders",
    _q_fk_profile,
    """
WITH per_key AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
keys AS (SELECT DISTINCT o_orderkey AS k, 1 AS in_dim FROM orders),
j AS (SELECT per_key.*, keys.in_dim FROM per_key LEFT JOIN keys USING (k)),
s AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_fact,
         CAST(count(*) AS BIGINT) AS n_distinct_fk,
         CAST(sum(CASE WHEN in_dim IS NULL THEN c ELSE 0 END) AS BIGINT)
           AS n_orphan_facts,
         CAST(max(c) AS BIGINT) AS max_fanout,
         round(avg(c), 6) AS avg_fanout
  FROM j),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_dim FROM orders)
SELECT n_fact, n_dim, n_distinct_fk, n_orphan_facts, max_fanout, avg_fanout
FROM s, nd
""",
)


# --- bloom-filter join pruning ---------------------------------------------

_BLOOM_MIN_PRICE = 450_000.0


def _q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = td.load_table(spark, sf_dir, "lineitem")
    orders = td.load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _BLOOM_MIN_PRICE
    )
    joined = joins.bloom_prune_join(
        li, orders, fact_key="l_orderkey", dim_key="o_orderkey"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


_register(
    "bloom_prune_revenue",
    _q_bloom_join,
    f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_totalprice > {_BLOOM_MIN_PRICE}
GROUP BY 1
""",
)

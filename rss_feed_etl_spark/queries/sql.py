"""Queries built from DataFrame and SQL primitives alone (no ``operators/``,
``plans/``, ``streaming/`` or ``functions/`` call first): grouping sets,
windows, set operations, pivots, TPC-H shapes and the streaming folds.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import ORACLES, _register
from ..functions.text import tokens
from ..sources import parquet as pq
from ..streaming import incremental
from .corpus import _BAND_LIST, _MH_LIST, _SHINGLES, _W, _code, _stage_waves


# Spark-native analytics the reference lacks (SURVEY §2.10 "absent from
# reference" — window analytics, grouping sets/rollup/cube, set operations,
# as-of join), the multimodal decode plumbing, and a micro-batch
# incremental-merge fold.
#
# Registered into ``driver_queries.QUERIES`` / ``ORACLES`` like the corpus queries.
# Determinism rules are the same: every float that crosses an accumulation
# boundary is rounded, every window has a total order, and the multimodal
# "decode" stub is md5-byte arithmetic both engines compute identically.

# ---------------------------------------------------------------------------
# rollup / cube / grouping sets (A — beyond ref; Catalyst expands to one
# shuffle with grouping-id, partial aggregation map-side)
# ---------------------------------------------------------------------------


def _q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = td.load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = td.load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = td.load_table(spark, sf_dir, "orders")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        joined.withColumn("o_year", F.year("o_orderdate"))
        .rollup("n_name", "o_year")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


_register(
    "revenue_rollup",
    _q_revenue_rollup,
    """
SELECT n.n_name, year(o.o_orderdate) AS o_year,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n_name, o_year)
""",
)


def _q_order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = td.load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_register(
    "order_stats_cube",
    _q_order_cube,
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)


_GS_SQL = """
WITH ev AS (SELECT *, user_id % 10 AS user_bucket FROM events)
SELECT event_type, user_bucket, count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM ev
GROUP BY GROUPING SETS ((event_type), (user_bucket), (event_type, user_bucket), ())
"""


def _q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    td.load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_GS_SQL)


_register("events_grouping_sets", _q_events_grouping_sets, _GS_SQL)


# ---------------------------------------------------------------------------
# window analytics: running totals + sessionization (O/F — beyond ref)
# ---------------------------------------------------------------------------


def _q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    ob = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = ob.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = ob.rowsBetween(-3, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(run), 6).alias("running_total"),
        F.round(F.avg("value").over(mov), 6).alias("moving_avg4"),
    )


_register(
    "running_totals",
    _q_running_totals,
    """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS running_total,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
         AS moving_avg4
FROM events
""",
)


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization: lag + cumulative sum of new-session
    flags — integer arithmetic on epoch micros, exact in both engines."""
    ev = td.load_table(spark, sf_dir, "events")
    ob = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(ob))
    new_sess = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    run = ob.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.withColumn("__new", new_sess).select(
        "event_id",
        "user_id",
        F.sum("__new").over(run).alias("session_id"),
    )


_register(
    "sessionize",
    _q_sessionize,
    """
WITH g AS (
  SELECT event_id, user_id, ts,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_us
  FROM events)
SELECT event_id, user_id,
       CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM g
""",
)


# ---------------------------------------------------------------------------
# set operations (U — beyond ref: INTERSECT / EXCEPT as table ops)
# ---------------------------------------------------------------------------


def _high_value_users(spark: SparkSession, sf_dir: str, etype: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == etype) & (F.col("value") > 150))
        .select("user_id")
        .distinct()
    )


def _q_users_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _high_value_users(spark, sf_dir, "click").subtract(
        _high_value_users(spark, sf_dir, "purchase")
    )


def _q_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _high_value_users(spark, sf_dir, "click").intersect(
        _high_value_users(spark, sf_dir, "purchase")
    )


_HV = (
    "SELECT DISTINCT user_id FROM events WHERE event_type = '{t}' AND value > 150"
)
_register(
    "users_click_not_purchase",
    _q_users_except,
    f"{_HV.format(t='click')}\nEXCEPT\n{_HV.format(t='purchase')}",
)
_register(
    "users_click_and_purchase",
    _q_users_intersect,
    f"{_HV.format(t='click')}\nINTERSECT\n{_HV.format(t='purchase')}",
)


# ---------------------------------------------------------------------------
# JSON parse (F14/F15) and event-time tumbling windows (§2.9)
# ---------------------------------------------------------------------------


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json on the props column (reference F15 parses LLM JSON output;
    F14 re-encodes at the sink) — extract k, aggregate per event_type, and
    re-encode a JSON summary string."""
    ev = td.load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "k", F.from_json(F.col("props"), "k INT").getField("k")
    )
    return parsed.groupBy("event_type").agg(
        F.sum("k").alias("k_sum"),
        F.count(F.col("k")).alias("k_n"),
        F.to_json(F.struct(F.min("k").alias("lo"), F.max("k").alias("hi"))).alias(
            "k_range_json"
        ),
    )


_register(
    "json_props_summary",
    _q_json_props,
    """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
       count(json_extract(props, '$.k')) AS k_n,
       '{"lo":' || min(CAST(json_extract(props, '$.k') AS INT))
         || ',"hi":' || max(CAST(json_extract(props, '$.k') AS INT)) || '}'
         AS k_range_json
FROM events
GROUP BY event_type
""",
)


def _q_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation — the batch form of the
    streaming windowed_event_counts (streaming/incremental.py); window()
    here is exactly what the watermarked streaming aggregate runs."""
    ev = td.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_register(
    "daily_event_windows",
    _q_daily_windows,
    """
SELECT date_trunc('day', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# timezone conversion + formatting (F8/F9 — the reference's published-time
# UTC → US/Central conversion, etl.py:129-133)
# ---------------------------------------------------------------------------


def _q_tz_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    central = F.from_utc_timestamp(F.col("ts"), "US/Central")
    return ev.select(
        "event_id",
        F.date_format(central, "yyyy-MM-dd HH:mm:ss").alias("central_time"),
    )


_register(
    "tz_convert_format",
    _q_tz_convert,
    """
SELECT event_id,
       strftime(timezone('US/Central', timezone('UTC', ts)), '%Y-%m-%d %H:%M:%S')
         AS central_time
FROM events
""",
)


# --- returned-item revenue (TPC-H Q10 shape) ------------------------------


def _q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-table join-agg: lineitem ⋈ orders shuffle on the fact key after
    the returnflag filter pushes into the lineitem scan; customer and
    nation are dimensions and broadcast (`F.broadcast` hints — at 100 TB
    the only exchange is the orderkey co-shuffle + the final partial-agg
    on custkey); top-20 via orderBy+limit = TakeOrderedAndProject."""
    li = td.load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = td.load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = F.broadcast(
        td.load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey"
        )
    )
    nat = F.broadcast(
        td.load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_register(
    "returned_revenue_topk",
    _q_returned_revenue,
    """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)


# Transitive near-dup clustering, sliding event-time windows, pivot
# aggregation, and period-over-period window analytics.
#
# ``neardup_components`` is the capstone of the corpus dedup suite: the
# MinHash pair graph's connected components, computed iteratively on Spark
# and replayed in the DuckDB oracle as a recursive CTE — a genuinely
# iterative algorithm, still exactly oracle-checked.

# --- sliding event-time windows -------------------------------------------

_SLIDE_MIN = 30
_WIN_MIN = 60


def _q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (duration 1h, slide 30min) — each event lands in
    exactly two windows.  ``F.window`` is the same construct Structured
    Streaming uses for watermarked sliding aggregation; in batch it
    compiles to an explode over the window set + one hash aggregate
    (shuffle key = window start), no self-union."""
    ev = td.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", f"{_WIN_MIN} minutes", f"{_SLIDE_MIN} minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_events",
            "total_value",
        )
    )


# each event belongs to the windows starting at floor_30min(ts) and
# floor_30min(ts) - 30min; DuckDB's time_bucket shares Spark's epoch-aligned
# grid for sub-day intervals
_register(
    "sliding_event_windows",
    _q_sliding_windows,
    f"""
WITH w AS (
  SELECT time_bucket(INTERVAL '{_SLIDE_MIN} minutes', ts)
           - k * INTERVAL '{_SLIDE_MIN} minutes' AS win_start,
         value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
SELECT win_start,
       win_start + INTERVAL '{_WIN_MIN} minutes' AS win_end,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM w GROUP BY win_start
""",
)


# --- pivot aggregation -----------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type matrix via ``pivot``.  The pivot values are
    declared explicitly: Spark then skips the distinct-values pre-query
    and plans a single hash aggregate keyed on user_id with one
    conditional-count expression per column — same exchange count as a
    plain groupBy."""
    ev = td.load_table(spark, sf_dir, "events")
    out = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


_register(
    "event_type_pivot",
    _q_event_pivot,
    f"""
SELECT user_id,
       {", ".join(f"count(*) FILTER (event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES)}
FROM events GROUP BY user_id
""",
)


# --- period-over-period revenue (lag window) ------------------------------


def _q_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily gross revenue with 1-day and 7-day lag deltas.  The aggregate
    shuffles on ship-day (partial aggregation map-side first); the lag
    window then runs over the tiny day-grain result — an unpartitioned
    window is fine exactly because the input is one row per day, never
    the fact table."""
    li = td.load_table(spark, sf_dir, "lineitem")
    # sum in DECIMAL: cents are exact and addition is order-independent, so
    # 2499 day-groups hash-match the oracle bit-for-bit (a double sum lands
    # on the wrong side of a cent boundary for a handful of days)
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("ship_day")).agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue")
    )
    w = Window.orderBy("ship_day")
    return daily.select(
        "ship_day",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue", 1).over(w), 2).alias("dod_delta"),
        F.round(F.col("revenue") - F.lag("revenue", 7).over(w), 2).alias("wow_delta"),
    )


_register(
    "daily_revenue_wow",
    _q_revenue_wow,
    """
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS ship_day,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
              AS DOUBLE) AS revenue
  FROM lineitem GROUP BY 1)
SELECT ship_day, revenue,
       round(revenue - lag(revenue, 1) OVER (ORDER BY ship_day), 2) AS dod_delta,
       round(revenue - lag(revenue, 7) OVER (ORDER BY ship_day), 2) AS wow_delta
FROM daily
""",
)


# Promo revenue ratio (the last unused testdata table, ``part``, joins the fact
# scan) and the custom-UDAF surface (Arrow grouped-agg pandas UDF).

# --- promo revenue ratio (TPC-H Q14 shape) --------------------------------


def _q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from PROMO-type parts, by month.  ``part`` is a
    dimension — broadcast, so the only exchange is the final month-grain
    aggregation; revenue sums in DECIMAL for bit-exact oracle parity.
    Conditional aggregation (sum-when) replaces Q14's two-scan ratio."""
    li = td.load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        td.load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(12,2)"))), 2)
            .cast("double")
            .alias("promo_revenue"),
            F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
            # ratio in DOUBLE: the sums are exact decimals on both engines,
            # but decimal DIVISION scale/rounding rules differ between
            # Spark and DuckDB — casting the operands first makes the
            # division bit-identical
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(12,2)"))).cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("promo_pct"),
        )
    )


_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
_PROMO = f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE CAST(0 AS DECIMAL(12,2)) END"
_register(
    "promo_revenue_ratio",
    _q_promo_revenue,
    f"""
SELECT date_trunc('month', l_shipdate) AS ship_month,
       CAST(round(sum({_PROMO}), 2) AS DOUBLE) AS promo_revenue,
       CAST(round(sum({_REV}), 2) AS DOUBLE) AS total_revenue,
       round(100.0 * CAST(sum({_PROMO}) AS DOUBLE) / CAST(sum({_REV}) AS DOUBLE), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
)


# --- compaction plan --------------------------------------------------------

_COMPACT_TARGET = 40_000


def _q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    files = ev.groupBy(
        F.col("event_type").alias("part"),
        F.to_date("ts").alias("file_id"),
    ).agg((F.count("*") * 557).cast("bigint").alias("bytes"))
    out = pq.plan_compaction(
        files, partition_col="part", file_col="file_id", bytes_col="bytes",
        target_bytes=_COMPACT_TARGET,
    )
    return out.select(
        "part", F.date_format("file_id", "yyyy-MM-dd").alias("file_id"),
        "bytes", "bin", "bin_bytes", "n_bin_files",
    )


_register(
    "compaction_plan",
    _q_compaction,
    f"""
WITH files AS (
  SELECT event_type AS part, CAST(ts AS DATE) AS file_id,
         CAST(count(*) * 557 AS BIGINT) AS bytes
  FROM events GROUP BY 1, 2),
staged AS (
  SELECT *, CAST(floor(
      (sum(bytes) OVER (PARTITION BY part ORDER BY bytes DESC, file_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       - bytes) / {float(_COMPACT_TARGET)}) AS INT) AS bin
  FROM files)
SELECT part, strftime(file_id, '%Y-%m-%d') AS file_id, bytes, bin,
       CAST(sum(bytes) OVER (PARTITION BY part, bin) AS BIGINT) AS bin_bytes,
       CAST(count(*) OVER (PARTITION BY part, bin) AS BIGINT) AS n_bin_files
FROM staged
""",
)


# The streaming ↔ curation composition capstone (VERDICT r8 #7) — the curation
# pipeline's quality + exact-dedup gates running as a ``foreachBatch``
# incremental curation over the epoch sink, folded back to the one-shot batch
# answer.
#
# The corpus arrives in THREE micro-batches (``doc_id % 3`` — a real
# arrival shuffle, not id-contiguous waves) augmented with planted exact
# duplicates (``+2M`` copies of every 7th document; ``2000000 % 3 == 2``
# so every duplicate lands in a DIFFERENT micro-batch than its original —
# the cross-batch fold is what the plant exercises).  After ingest, epochs
# 0–1 are compacted into the base partition (min-id fold pre-reduced into
# storage) while epoch 2 stays live, so the read view exercises the
# mixed base + epoch path.  The oracle replays the whole thing as the
# equivalent ONE-SHOT batch: Gopher gate → min-id-per-fingerprint — equal
# by the fold-equals-batch property (min-id-per-fingerprint is
# associative, commutative, idempotent), which
# ``tests/test_incremental_curation.py`` additionally pins against
# arrival-order permutations and compaction horizons.
#
# Reference anchor: the reference's cron-rerun "streaming" (scd1_manager
# idempotent upserts; src/etl/rss_feed_etl.py filter pipeline) composed
# into the continuous-curation shape a 100 TB training-data pipeline runs.

_IC_EPOCHS = 3
_IC_DUP_EVERY = 7
_IC_DUP_OFFSET = 2000000
_IC_MINSTOP = 0  # multilingual corpus: EN stopword rule disabled (as in curation_pipeline)

_GOPHER_SQL = ORACLES["gopher_quality_flags"]
# DuckDB is case-insensitive, so guard against any-case table references:
# a lowercase "from documents" added later must not slip past the rewrite.
assert (
    len(re.findall(r"(?i)from\s+documents\b", _GOPHER_SQL)) == 1
), "gopher oracle shape changed"
_GOPHER_AUG = _GOPHER_SQL.replace(
    "FROM documents", "FROM (SELECT doc_id, text FROM aug)"
)


def _aug_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    dups = docs.filter(F.col("doc_id") % _IC_DUP_EVERY == 0).select(
        (F.col("doc_id") + _IC_DUP_OFFSET).alias("doc_id"), "text", "source"
    )
    return docs.unionByName(dups)


def _q_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _aug_exact_docs(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="inc_curation_")
    try:
        return _run_incremental_curation(spark, docs, work)
    finally:
        # the eager localCheckpoint inside severs the result's plan from
        # the sink dirs, so the corpus-sized working copies can go now —
        # the bench re-runs this query up to 4x per child process and the
        # dirs would otherwise pile up in /tmp (ADVICE r9)
        shutil.rmtree(work, ignore_errors=True)


def _run_incremental_curation(
    spark: SparkSession, docs: DataFrame, work: str
) -> DataFrame:
    target = os.path.join(work, "target")
    ckpt = os.path.join(work, "ckpt")
    # one landing file per arrival wave so maxFilesPerTrigger=1 replays
    # each wave as its own micro-batch under the availableNow trigger;
    # staged in ONE partitioned write pass (see ``_stage_waves``) instead
    # of an eager corpus checkpoint + one filtered write per wave
    landing, docs = _stage_waves(spark, docs, work, _IC_EPOCHS)
    stream = (
        spark.readStream.format("parquet")
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .load(landing)
    )
    q = incremental.curate_stream_to_parquet(
        stream, target, ckpt, min_stopwords=_IC_MINSTOP
    )
    q.awaitTermination()
    # fold the checkpoint-committed horizon into the base; the newest
    # epoch stays live, so the view reads the mixed base + epoch path
    incremental.compact_curated_epochs(spark, target, upto_epoch=_IC_EPOCHS - 2)
    curated = incremental.curated_read_view(spark, target)
    raw = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_raw"))
    cur = curated.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_curated"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
    )
    out = raw.join(cur, "source", "left").select(
        "source",
        "n_raw",
        F.coalesce(F.col("n_curated"), F.lit(0)).cast("bigint").alias("n_curated"),
        "min_id",
        "max_id",
    )
    # materialize before returning: the temp sink must outlive the plan,
    # and a caller may execute the frame after this function's dirs are
    # eligible for cleanup
    return out.localCheckpoint(eager=True)


_register(
    "incremental_curation_fold",
    _q_incremental_curation,
    rf"""
WITH aug AS MATERIALIZED (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {_IC_DUP_OFFSET}, text, source FROM documents
  WHERE doc_id % {_IC_DUP_EVERY} = 0),
g AS (SELECT doc_id FROM ({_GOPHER_AUG})
      WHERE flag_word_count = 1 AND flag_mean_word_len = 1
        AND flag_alpha = 1 AND n_stopwords >= {_IC_MINSTOP}),
f AS (SELECT a.doc_id, a.source,
             md5(lower(trim(regexp_replace(a.text, '\s+', ' ', 'g')))) AS fp
      FROM aug a JOIN g USING (doc_id)),
surv AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY 1),
cur AS (SELECT f2.source, f2.doc_id
        FROM surv JOIN f f2 ON f2.fp = surv.fp AND f2.doc_id = surv.doc_id),
raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM aug GROUP BY 1),
c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_curated,
             CAST(min(doc_id) AS BIGINT) AS min_id,
             CAST(max(doc_id) AS BIGINT) AS max_id
      FROM cur GROUP BY 1)
SELECT raw.source, n_raw,
       CAST(coalesce(n_curated, 0) AS BIGINT) AS n_curated, min_id, max_id
FROM raw LEFT JOIN c USING (source)
""",
)


# The NEAR-dup stage of the incremental curation fold (VERDICT r9 #6) — quality
# gate + exact dedup + MinHash band-bucket near-dup running as a
# ``foreachBatch`` incremental curation, folded back to the one-shot batch
# answer.
#
# The corpus arrives in THREE micro-batches (``doc_id % 3``) augmented
# with BOTH duplicate kinds: an 80%-token-prefix NEAR duplicate of every
# document (``+1M`` — the corpus queries' augmentation; at 8 bands × 4 rows over
# 32 minhash perms a ~0.79-Jaccard prefix copy collides in ≥1 band with
# p≈0.98, so the near-dup stage has real victims) and EXACT copies of
# every 7th document (``+2M``).  ``1000000 % 3 == 1`` and
# ``2000000 % 3 == 2``, so each plant lands in a DIFFERENT micro-batch
# than its original — both cross-batch folds are exercised.  After
# ingest, the two sinks are compacted to MIXED horizons (curated rows
# through epoch 1, bucket champions through epoch 0), so the read view
# walks reduced-base + live-epoch paths on both sides.
#
# Cross-batch near-dup is the FOLD: min-id-per-band-bucket is
# associative, commutative, and idempotent, so the folded champion table
# equals the one-shot batch champion table, and a survivor of the exact
# stage is kept iff no band bucket of its own signature holds a smaller
# champion.  ``tests/test_incremental_neardup.py`` pins fold-equals-batch
# across arrival permutations, mixed compaction horizons, and a
# compactor crash point.
#
# Reference anchor: the reference's cron-rerun streaming (scd1_manager
# idempotent upserts, src/etl/rss_feed_etl.py filter pipeline) composed
# with the LSH dedup a 100 TB continuous-curation pipeline needs.

_NE = 3  # micro-batches
_DUP_EVERY = 7
_EXACT_OFFSET = 2000000
_NEAR_OFFSET = 1000000
_MINSTOP = 0



def _aug_near_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    toks = tokens("text")
    near = docs.select(
        (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.ceil(F.size(toks) * 0.8).cast("int"))
        ).alias("text"),
        "source",
    )
    exact = docs.filter(F.col("doc_id") % _DUP_EVERY == 0).select(
        (F.col("doc_id") + _EXACT_OFFSET).alias("doc_id"), "text", "source"
    )
    return docs.unionByName(near).unionByName(exact)


def _q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _aug_near_docs(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="inc_neardup_")
    try:
        return _run(spark, docs, work)
    finally:
        # the eager localCheckpoint inside severs the result's plan from
        # the sink dirs (the incremental_curation_fold cleanup discipline)
        shutil.rmtree(work, ignore_errors=True)


def _run(spark: SparkSession, docs: DataFrame, work: str) -> DataFrame:
    landing = os.path.join(work, "landing")
    target = os.path.join(work, "target")
    buckets = os.path.join(work, "buckets")
    ckpt = os.path.join(work, "ckpt")
    # staged in ONE partitioned write pass (see ``_stage_waves``) instead
    # of an eager corpus checkpoint + one filtered write per wave; the
    # read-back parquet feeds the stream schema and the raw scorecard
    landing, docs = _stage_waves(spark, docs, work, _NE)
    stream = (
        spark.readStream.format("parquet")
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .load(landing)
    )
    q = incremental.curate_stream_to_parquet(
        stream,
        target,
        ckpt,
        min_stopwords=_MINSTOP,
        neardup_bucket_path=buckets,
    )
    q.awaitTermination()
    # mixed horizons: curated rows fold through epoch 1, champions only
    # through epoch 0 — the read view must mix reduced base and live
    # epochs on BOTH sinks
    incremental.compact_curated_epochs(spark, target, upto_epoch=1)
    incremental.compact_bucket_epochs(spark, buckets, upto_epoch=0)
    curated = incremental.curated_read_view(
        spark, target, neardup_bucket_path=buckets
    )
    raw = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_raw"))
    cur = curated.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_curated"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
    )
    out = raw.join(cur, "source", "left").select(
        "source",
        "n_raw",
        F.coalesce(F.col("n_curated"), F.lit(0)).cast("bigint").alias("n_curated"),
        "min_id",
        "max_id",
    )
    return out.localCheckpoint(eager=True)


_register(
    "incremental_neardup_fold",
    _q_incremental_neardup,
    rf"""
WITH aug AS MATERIALIZED (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {_NEAR_OFFSET},
         array_to_string(w[1:CAST(ceil(0.8*len(w)) AS INT)], ' '), source
  FROM (SELECT doc_id, source, {_W} AS w FROM documents)
  UNION ALL
  SELECT doc_id + {_EXACT_OFFSET}, text, source FROM documents
  WHERE doc_id % {_DUP_EVERY} = 0),
g AS (SELECT doc_id FROM ({_GOPHER_AUG})
      WHERE flag_word_count = 1 AND flag_mean_word_len = 1
        AND flag_alpha = 1 AND n_stopwords >= {_MINSTOP}),
f AS (SELECT a.doc_id, a.source, a.text,
             md5(lower(trim(regexp_replace(a.text, '\s+', ' ', 'g')))) AS fp
      FROM aug a JOIN g USING (doc_id)),
sv AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY 1),
surv AS (SELECT f2.source, f2.doc_id, f2.text
         FROM sv JOIN f f2 ON f2.fp = sv.fp AND f2.doc_id = sv.doc_id),
codes AS (SELECT doc_id, source,
                 list_transform({_SHINGLES.format(w=_W)}, s -> {_code("s")}) AS codes
          FROM surv),
sigs AS (SELECT doc_id, source, [{_MH_LIST}] AS sig FROM codes),
banded AS (SELECT doc_id, source, unnest([{_BAND_LIST}]) AS bucket FROM sigs),
champ AS (SELECT bucket, min(doc_id) AS ch FROM banded GROUP BY 1),
kept AS (SELECT b.doc_id, b.source
         FROM banded b JOIN champ c USING (bucket)
         GROUP BY 1, 2 HAVING min(c.ch) = b.doc_id),
raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM aug GROUP BY 1),
c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_curated,
             CAST(min(doc_id) AS BIGINT) AS min_id,
             CAST(max(doc_id) AS BIGINT) AS max_id
      FROM kept GROUP BY 1)
SELECT raw.source, n_raw,
       CAST(coalesce(n_curated, 0) AS BIGINT) AS n_curated, min_id, max_id
FROM raw LEFT JOIN c USING (source)
""",
)

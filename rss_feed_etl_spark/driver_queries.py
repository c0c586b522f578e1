"""Driver-contract queries: every operator from SURVEY.md §2, runnable as
(spark, sf_dir) -> DataFrame, with a matching DuckDB oracle SQL string.

Both sides are generated from the SAME constants and SQL fragments
(testdata.py) so semantics cannot drift.  All queries are deterministic:
fixed AS_OF timestamps, explicit order columns for every dedup, rounded
floats wherever cross-engine accumulation order could differ in the last
ulp.  Column names are aliased identically on both sides (the driver's
compare hashes values under sorted column names).
"""

from __future__ import annotations

import json
import pathlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .operators import dedup, filters, joins, merges
from .plans.filter_pipeline import run_filter_pipeline
from .session import tune_session

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

STAGE_COLS = [
    "job_title",
    "link",
    "entry_title",
    "published",
    "feed_title",
    "reader",
    "time_window",
    "summary",
    "notes",
]
VALUE_COLS = [c for c in STAGE_COLS if c != "link"]
COMPARE_COLS = [c for c in VALUE_COLS if c != "notes"]


def _nb(c: str) -> str:
    """Non-blankish predicate (P5 semantics)."""
    return f"({c} IS NOT NULL AND TRIM({c}) NOT IN ('', 'nan'))"


def _b2n(c: str) -> str:
    """blank_to_null in SQL."""
    return f"(CASE WHEN {c} IS NULL OR TRIM({c}) IN ('', 'nan') THEN NULL ELSE {c} END)"


def _norm(c: str) -> str:
    """Reference change-detection normalization: stringify, NULL→''."""
    return f"COALESCE(CAST({c} AS VARCHAR), '')"


def _kw_keep_sql() -> str:
    parts = []
    for col, kws in td.EXCLUDE_KEYWORDS.items():
        ors = " OR ".join(
            f"contains(lower({col}), '{kw.lower()}')" for kw in kws
        )
        parts.append(f"NOT COALESCE(({ors}), FALSE)")
    return " AND ".join(parts)


def _filtered_sql(as_of: str) -> str:
    """The §3.2 filter stages (P4+P5+P6+P8) over the stage CTE."""
    return f"""
    SELECT {", ".join(STAGE_COLS)}, event_id,
           TIMESTAMP '{as_of}' AS "AS_OF_DT"
    FROM stage
    WHERE published >= TIMESTAMP '{as_of}' - INTERVAL {td.DAYS_BACK} DAY
      AND {_nb("summary")}
      AND {_kw_keep_sql()}
    """


_DEDUP_SQL = """
stage AS ({stage_sql}),
keyed AS ({keyed_sql}),
hist AS (
  SELECT {cols} FROM (
    SELECT *, row_number() OVER (PARTITION BY link ORDER BY ts DESC, event_id DESC) AS rn
    FROM keyed WHERE ts < TIMESTAMP '{cutoff}') WHERE rn = 1),
batch AS (
  SELECT {cols} FROM (
    SELECT *, row_number() OVER (PARTITION BY link ORDER BY ts DESC, event_id DESC) AS rn
    FROM keyed WHERE ts >= TIMESTAMP '{cutoff}') WHERE rn = 1),
batch_recent AS (
  SELECT {cols} FROM (
    SELECT *, row_number() OVER (PARTITION BY link ORDER BY ts DESC, event_id DESC) AS rn
    FROM keyed WHERE ts >= TIMESTAMP '{recent}') WHERE rn = 1)
""".format(
    stage_sql=td.STAGE_ROWS_SQL,
    keyed_sql=td.STAGE_KEYED_SQL,
    cols=", ".join(STAGE_COLS),
    cutoff=td.CUTOFF,
    recent=td.RECENT,
)

WITH_TABLES = "WITH " + _DEDUP_SQL


# ---------------------------------------------------------------------------
# Spark-side table builders (mirror the CTEs above exactly)
# ---------------------------------------------------------------------------


def _stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return td.stage_rows(td.load_table(spark, sf_dir, "events"))


def _keyed_split(spark: SparkSession, sf_dir: str):
    keyed = td.stage_keyed(td.load_table(spark, sf_dir, "events"))
    def snap(pred):
        return dedup.dedup_by_key(
            keyed.filter(pred), "link", ["ts", "event_id"], keep="last"
        ).select(*STAGE_COLS)
    hist = snap(F.col("ts") < td.CUTOFF)
    batch = snap(F.col("ts") >= td.CUTOFF)
    batch_recent = snap(F.col("ts") >= td.RECENT)
    return hist, batch, batch_recent


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """current versions (keep-last < CUTOFF, open) ∪ closed versions
    (keep-first < CUTOFF, ended at SCD2_CLOSED_END)."""
    keyed = td.stage_keyed(td.load_table(spark, sf_dir, "events"))
    pre = keyed.filter(F.col("ts") < td.CUTOFF)
    current = (
        dedup.dedup_by_key(pre, "link", ["ts", "event_id"], keep="last")
        .select(*STAGE_COLS)
        .withColumn("effective_start", F.to_timestamp(F.lit(td.SCD2_START)))
        .withColumn("effective_end", F.lit(None).cast("timestamp"))
        .withColumn("current_flag", F.lit(1))
    )
    closed = (
        dedup.dedup_by_key(pre, "link", ["ts", "event_id"], keep="first")
        .select(*STAGE_COLS)
        .withColumn("effective_start", F.to_timestamp(F.lit(td.SCD2_START)))
        .withColumn("effective_end", F.to_timestamp(F.lit(td.SCD2_CLOSED_END)))
        .withColumn("current_flag", F.lit(0))
    )
    return current.unionByName(closed)


_SCD2_HIST_SQL = f"""
cur AS (
  SELECT *, TIMESTAMP '{td.SCD2_START}' AS effective_start,
         CAST(NULL AS TIMESTAMP) AS effective_end, 1 AS current_flag
  FROM hist),
closed AS (
  SELECT {", ".join(STAGE_COLS)}, TIMESTAMP '{td.SCD2_START}' AS effective_start,
         TIMESTAMP '{td.SCD2_CLOSED_END}' AS effective_end, 0 AS current_flag
  FROM (
    SELECT *, row_number() OVER (PARTITION BY link ORDER BY ts ASC, event_id ASC) AS rn
    FROM keyed WHERE ts < TIMESTAMP '{td.CUTOFF}') WHERE rn = 1)
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None):
    if name in QUERIES:
        # a silent overwrite once masked a broken query for a whole wave
        # (a wave-136 name collided with wave 66's cusum_changepoints and
        # shadowed it out of the registry) — fail at import instead
        raise ValueError(f"duplicate query registration: {name!r}")

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune_session(spark)
        return fn(spark, sf_dir)

    QUERIES[name] = wrapped
    if sql is not None:
        ORACLES[name] = sql


# --- q01 flagship: the §3.2 filter pipeline with append-mode dedup --------


def _q_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage(spark, sf_dir)
    prev = run_filter_pipeline(
        stage,
        existing=None,
        as_of=td.AS_OF_PREV,
        days_back=td.DAYS_BACK,
        content_cols=["summary"],
        exclude_keywords=td.EXCLUDE_KEYWORDS,
    )
    out = run_filter_pipeline(
        stage,
        existing=prev,
        as_of=td.AS_OF,
        days_back=td.DAYS_BACK,
        content_cols=["summary"],
        exclude_keywords=td.EXCLUDE_KEYWORDS,
        key="link",
        tiebreak_cols=["event_id"],
    )
    return out.select(*STAGE_COLS, "AS_OF_DT")


_register(
    "filter_pipeline",
    _q_filter_pipeline,
    f"""
WITH stage AS ({td.STAGE_ROWS_SQL}),
new_out AS ({_filtered_sql(td.AS_OF)}),
prev_out AS ({_filtered_sql(td.AS_OF_PREV)}),
unioned AS (
  SELECT *, 0 AS prio FROM new_out
  UNION ALL
  SELECT *, 1 AS prio FROM prev_out),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY link ORDER BY prio ASC, event_id ASC) AS rn
  FROM unioned)
SELECT {", ".join(STAGE_COLS)}, "AS_OF_DT" FROM ranked WHERE rn = 1
""",
)


# --- q02-q04: merges ------------------------------------------------------


def _q_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, batch, _ = _keyed_split(spark, sf_dir)
    return merges.merge_scd1(batch, hist)


_SCD1_SELECT = ",\n  ".join(
    ["COALESCE(b.link, h.link) AS link"]
    + [
        f"CASE WHEN b.link IS NOT NULL THEN b.{c} ELSE h.{c} END AS {c}"
        for c in VALUE_COLS
        if c != "notes"
    ]
    + [
        "CASE WHEN b.link IS NOT NULL THEN COALESCE("
        + _b2n("b.notes")
        + ", h.notes) ELSE h.notes END AS notes"
    ]
)

_register(
    "scd1_merge",
    _q_scd1,
    f"""
{WITH_TABLES}
SELECT {_SCD1_SELECT}
FROM batch b FULL OUTER JOIN hist h ON b.link = h.link
""",
)


def _q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, batch, _ = _keyed_split(spark, sf_dir)
    return merges.merge_upsert(batch, hist, with_flags=True)


_CHANGED_SQL = " OR ".join(f"{_norm('b.' + c)} <> {_norm('h.' + c)}" for c in COMPARE_COLS)

_UPSERT_SELECT = ",\n  ".join(
    ["COALESCE(b.link, h.link) AS link"]
    + [
        f"CASE WHEN b.link IS NOT NULL THEN b.{c} ELSE h.{c} END AS {c}"
        for c in VALUE_COLS
        if c != "notes"
    ]
    + [
        "CASE WHEN b.link IS NOT NULL AND h.link IS NOT NULL THEN COALESCE("
        + _b2n("h.notes")
        + ", b.notes) WHEN b.link IS NOT NULL THEN b.notes ELSE h.notes END AS notes",
        "CAST(b.link IS NOT NULL AND h.link IS NULL AS INT) AS inserted",
        f"CAST(b.link IS NOT NULL AND h.link IS NOT NULL AND ({_CHANGED_SQL}) AS INT) AS updated",
    ]
)

_register(
    "merge_upsert",
    _q_upsert,
    f"""
{WITH_TABLES}
SELECT {_UPSERT_SELECT}
FROM batch b FULL OUTER JOIN hist h ON b.link = h.link
""",
)


def _q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, batch, _ = _keyed_split(spark, sf_dir)
    history = _scd2_history(spark, sf_dir)
    return merges.merge_scd2(batch, history, as_of=td.AS_OF)


_H_COLS = ",\n    ".join(
    [f"h.{c} AS {c}" for c in VALUE_COLS]
)
_B_COLS = ",\n    ".join(
    [f"b.{c} AS {c}" for c in VALUE_COLS if c != "notes"]
    + [f"COALESCE({_b2n('b.notes')}, h.notes) AS notes"]
)

_register(
    "scd2_merge",
    _q_scd2,
    f"""
{WITH_TABLES},
{_SCD2_HIST_SQL},
j AS (
  SELECT b.link AS b_link, h.link AS h_link,
         {", ".join(f"b.{c} AS b_{c}" for c in VALUE_COLS)},
         {", ".join(f"h.{c} AS h_{c}" for c in VALUE_COLS)},
         h.effective_start AS h_start, h.effective_end AS h_end, h.current_flag AS h_flag,
         (b.link IS NOT NULL AND h.link IS NOT NULL AND
          ({" OR ".join(f"{_norm('b.' + c)} <> {_norm('h.' + c)}" for c in COMPARE_COLS)})) AS changed
  FROM batch b FULL OUTER JOIN cur h ON b.link = h.link)
SELECT h_link AS link, {", ".join(f"h_{c} AS {c}" for c in VALUE_COLS)},
       h_start AS effective_start, CAST(NULL AS TIMESTAMP) AS effective_end, 1 AS current_flag
FROM j WHERE h_link IS NOT NULL AND b_link IS NOT NULL AND NOT changed
UNION ALL
SELECT h_link AS link, {", ".join(f"h_{c} AS {c}" for c in VALUE_COLS)},
       h_start AS effective_start, TIMESTAMP '{td.AS_OF}' AS effective_end, 0 AS current_flag
FROM j WHERE h_link IS NOT NULL AND (changed OR b_link IS NULL)
UNION ALL
SELECT b_link AS link, {", ".join(f"b_{c} AS {c}" for c in VALUE_COLS if c != "notes")},
       COALESCE({_b2n("b_notes")}, h_notes) AS notes,
       TIMESTAMP '{td.AS_OF}' AS effective_start, CAST(NULL AS TIMESTAMP) AS effective_end, 1 AS current_flag
FROM j WHERE b_link IS NOT NULL AND (h_link IS NULL OR changed)
UNION ALL
SELECT link, {", ".join(VALUE_COLS)}, effective_start, effective_end, current_flag FROM closed
""",
)

# NOTE: the third branch lists notes last among value columns; Spark emits
# value columns in STAGE_COLS order.  The driver compares under sorted
# column names, but keep the SQL column order identical anyway via the
# explicit aliases above (names, not positions, are what match).


# --- q05-q06: dedup -------------------------------------------------------


def _q_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, _, _ = _keyed_split(spark, sf_dir)
    return hist


_register(
    "dedup_keep_last",
    _q_dedup_keep_last,
    f"{WITH_TABLES}\nSELECT * FROM hist",
)


def _q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage(spark, sf_dir)
    new = stage.filter(F.col("ts") >= F.lit("2024-01-20").cast("timestamp")).withColumn(
        "src", F.lit("new")
    )
    existing = stage.filter(F.col("ts") < F.lit(td.CUTOFF).cast("timestamp")).withColumn(
        "src", F.lit("existing")
    )
    out = dedup.union_dedup_keep_first(new, existing, "link", ["event_id"])
    return out.select(*STAGE_COLS, "src")


_register(
    "union_dedup_keep_first",
    _q_union_dedup,
    f"""
WITH stage AS ({td.STAGE_ROWS_SQL}),
unioned AS (
  SELECT *, 'new' AS src, 0 AS prio FROM stage WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
  UNION ALL
  SELECT *, 'existing' AS src, 1 AS prio FROM stage WHERE ts < TIMESTAMP '{td.CUTOFF}'),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY link ORDER BY prio ASC, event_id ASC) AS rn
  FROM unioned)
SELECT {", ".join(STAGE_COLS)}, src FROM ranked WHERE rn = 1
""",
)


# --- q07-q10: join shapes -------------------------------------------------


def _q_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, batch, _ = _keyed_split(spark, sf_dir)
    return joins.provenance_outer_join(batch, hist)


_register(
    "provenance_outer_join",
    _q_provenance,
    f"""
{WITH_TABLES}
SELECT COALESCE(b.link, h.link) AS link,
       {", ".join(f"b.{c} AS {c}" for c in VALUE_COLS)},
       {", ".join(f"h.{c} AS {c}_old" for c in VALUE_COLS)},
       CASE WHEN b.link IS NOT NULL AND h.link IS NOT NULL THEN 'both'
            WHEN b.link IS NOT NULL THEN 'left_only'
            ELSE 'right_only' END AS provenance
FROM batch b FULL OUTER JOIN hist h ON b.link = h.link
""",
)


def _q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, _, batch_recent = _keyed_split(spark, sf_dir)
    cur = hist.withColumn("current_flag", F.lit(1))
    return joins.removed_keys(batch_recent, cur).drop("current_flag")


_register(
    "anti_join_removed",
    _q_anti,
    f"""
{WITH_TABLES}
SELECT h.* FROM hist h LEFT JOIN batch_recent b ON h.link = b.link
WHERE b.link IS NULL
""",
)


def _q_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, _, batch_recent = _keyed_split(spark, sf_dir)
    return joins.updated_keys(batch_recent, hist)


_register(
    "semi_join_updated",
    _q_semi,
    f"""
{WITH_TABLES}
SELECT b.* FROM batch_recent b
WHERE EXISTS (SELECT 1 FROM hist h WHERE h.link = b.link)
""",
)


def _q_lookup_notes(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, batch, _ = _keyed_split(spark, sf_dir)
    return joins.lookup_notes(batch, hist).select("link", "entry_title", "notes")


_register(
    "lookup_join_notes",
    _q_lookup_notes,
    f"""
{WITH_TABLES}
SELECT b.link, b.entry_title,
       COALESCE({_b2n("b.notes")}, lut.notes, '') AS notes
FROM batch b LEFT JOIN (SELECT link, notes FROM hist WHERE TRIM(notes) <> '') lut
  ON b.link = lut.link
""",
)


# --- q11: merge metrics (A1) ---------------------------------------------


def _q_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, batch, _ = _keyed_split(spark, sf_dir)
    return merges.merge_counts(batch, hist)


_register(
    "merge_counts",
    _q_counts,
    f"""
{WITH_TABLES}
SELECT CAST(SUM(CASE WHEN b.link IS NOT NULL AND h.link IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS inserted,
       CAST(SUM(CASE WHEN b.link IS NOT NULL AND h.link IS NOT NULL AND ({_CHANGED_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS updated,
       CAST(SUM(CASE WHEN h.link IS NOT NULL AND b.link IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed
FROM batch b FULL OUTER JOIN hist h ON b.link = h.link
""",
)


# --- q12-q14: individual filter stages -----------------------------------


def _q_date_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filters.filter_by_date(_stage(spark, sf_dir), "published", td.AS_OF, td.DAYS_BACK)


_register(
    "date_window_filter",
    _q_date_window,
    f"""
WITH stage AS ({td.STAGE_ROWS_SQL})
SELECT * FROM stage
WHERE published >= TIMESTAMP '{td.AS_OF}' - INTERVAL {td.DAYS_BACK} DAY
""",
)


def _q_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filters.filter_empty_content(_stage(spark, sf_dir), ["summary", "entry_title"])


_register(
    "nonempty_content_filter",
    _q_nonempty,
    f"""
WITH stage AS ({td.STAGE_ROWS_SQL})
SELECT * FROM stage WHERE {_nb("summary")} AND {_nb("entry_title")}
""",
)


def _q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filters.filter_keywords(_stage(spark, sf_dir), td.EXCLUDE_KEYWORDS)


_register(
    "keyword_exclusion_filter",
    _q_keywords,
    f"""
WITH stage AS ({td.STAGE_ROWS_SQL})
SELECT * FROM stage WHERE {_kw_keep_sql()}
""",
)


# --- q15-q16: aggregation / window (Spark-native OLAP over the star) ------


def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = td.load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_register(
    "pricing_summary",
    _q_tpch_q1,
    """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)


def _q_top_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = td.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.select("user_id", "event_id", "event_type", "value")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


_register(
    "topk_per_user",
    _q_top_per_user,
    """
SELECT user_id, event_id, event_type, value, rnk FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
  FROM events) WHERE rnk <= 3
""",
)


from . import driver_queries_corpus  # noqa: E402, F401  (registers wave-2 queries)
from . import driver_queries_wave3  # noqa: E402, F401  (registers wave-3 queries)
from . import driver_queries_wave4  # noqa: E402, F401  (registers wave-4 queries)
from . import driver_queries_wave5  # noqa: E402, F401  (registers wave-5 queries)
from . import driver_queries_wave6  # noqa: E402, F401  (registers wave-6 queries)
from . import driver_queries_wave7  # noqa: E402, F401  (registers wave-7 queries)
from . import driver_queries_wave8  # noqa: E402, F401  (registers wave-8 queries)
from . import driver_queries_wave9  # noqa: E402, F401  (registers wave-9 queries)
from . import driver_queries_wave10  # noqa: E402, F401  (registers wave-10 queries)
from . import driver_queries_wave11  # noqa: E402, F401  (registers wave-11 queries)
from . import driver_queries_wave12  # noqa: E402, F401  (registers wave-12 queries)
from . import driver_queries_wave13  # noqa: E402, F401  (registers wave-13 queries)
from . import driver_queries_wave14  # noqa: E402, F401  (registers wave-14 queries)
from . import driver_queries_wave15  # noqa: E402, F401  (registers wave-15 queries)
from . import driver_queries_wave16  # noqa: E402, F401  (registers wave-16 queries)
from . import driver_queries_wave17  # noqa: E402, F401  (registers wave-17 queries)
from . import driver_queries_wave18  # noqa: E402, F401  (registers wave-18 queries)
from . import driver_queries_wave19  # noqa: E402, F401  (registers wave-19 queries)
from . import driver_queries_wave20  # noqa: E402, F401  (registers wave-20 queries)
from . import driver_queries_wave21  # noqa: E402, F401  (registers wave-21 queries)
from . import driver_queries_wave22  # noqa: E402, F401  (registers wave-22 queries)
from . import driver_queries_wave23  # noqa: E402, F401  (registers wave-23 queries)
from . import driver_queries_wave24  # noqa: E402, F401  (registers wave-24 queries)
from . import driver_queries_wave25  # noqa: E402, F401  (registers wave-25 queries)
from . import driver_queries_wave26  # noqa: E402, F401  (registers wave-26 queries)
from . import driver_queries_wave27  # noqa: E402, F401  (registers wave-27 queries)
from . import driver_queries_wave28  # noqa: E402, F401  (registers wave-28 queries)
from . import driver_queries_wave29  # noqa: E402, F401  (registers wave-29 queries)
from . import driver_queries_wave30  # noqa: E402, F401  (registers wave-30 queries)
from . import driver_queries_wave31  # noqa: E402, F401  (registers wave-31 queries)
from . import driver_queries_wave32  # noqa: E402, F401  (registers wave-32 queries)
from . import driver_queries_wave33  # noqa: E402, F401  (registers wave-33 queries)
from . import driver_queries_wave34  # noqa: E402, F401  (registers wave-34 queries)
from . import driver_queries_wave35  # noqa: E402, F401  (registers wave-35 queries)
from . import driver_queries_wave36  # noqa: E402, F401  (registers wave-36 queries)
from . import driver_queries_wave37  # noqa: E402, F401  (registers wave-37 queries)
from . import driver_queries_wave38  # noqa: E402, F401  (registers wave-38 queries)
from . import driver_queries_wave39  # noqa: E402, F401  (registers wave-39 queries)
from . import driver_queries_wave40  # noqa: E402, F401  (registers wave-40 queries)
from . import driver_queries_wave41  # noqa: E402, F401  (registers wave-41 queries)
from . import driver_queries_wave42  # noqa: E402, F401  (registers wave-42 queries)
from . import driver_queries_wave43  # noqa: E402, F401  (registers wave-43 queries)
from . import driver_queries_wave44  # noqa: E402, F401  (registers wave-44 queries)
from . import driver_queries_wave45  # noqa: E402, F401  (registers wave-45 queries)
from . import driver_queries_wave46  # noqa: E402, F401  (registers wave-46 queries)
from . import driver_queries_wave47  # noqa: E402, F401  (registers wave-47 queries)
from . import driver_queries_wave48  # noqa: E402, F401  (registers wave-48 queries)
from . import driver_queries_wave49  # noqa: E402, F401  (registers wave-49 queries)
from . import driver_queries_wave50  # noqa: E402, F401  (registers wave-50 queries)
from . import driver_queries_wave51  # noqa: E402, F401  (registers wave-51 queries)
from . import driver_queries_wave52  # noqa: E402, F401  (registers wave-52 queries)
from . import driver_queries_wave53  # noqa: E402, F401  (registers wave-53 queries)
from . import driver_queries_wave54  # noqa: E402, F401  (registers wave-54 queries)
from . import driver_queries_wave55  # noqa: E402, F401  (registers wave-55 queries)
from . import driver_queries_wave56  # noqa: E402, F401  (registers wave-56 queries)
from . import driver_queries_wave57  # noqa: E402, F401  (registers wave-57 queries)
from . import driver_queries_wave58  # noqa: E402, F401  (registers wave-58 queries)
from . import driver_queries_wave59  # noqa: E402, F401  (registers wave-59 queries)
from . import driver_queries_wave60  # noqa: E402, F401  (registers wave-60 queries)
from . import driver_queries_wave61  # noqa: E402, F401  (registers wave-61 queries)
from . import driver_queries_wave62  # noqa: E402, F401  (registers wave-62 queries)
from . import driver_queries_wave63  # noqa: E402, F401  (registers wave-63 queries)
from . import driver_queries_wave64  # noqa: E402, F401  (registers wave-64 queries)
from . import driver_queries_wave65  # noqa: E402, F401  (registers wave-65 queries)
from . import driver_queries_wave66  # noqa: E402, F401  (registers wave-66 queries)
from . import driver_queries_wave67  # noqa: E402, F401  (registers wave-67 queries)
from . import driver_queries_wave68  # noqa: E402, F401  (registers wave-68 queries)
from . import driver_queries_wave69  # noqa: E402, F401  (registers wave-69 queries)
from . import driver_queries_wave70  # noqa: E402, F401  (registers wave-70 queries)
from . import driver_queries_wave71  # noqa: E402, F401  (registers wave-71 queries)
from . import driver_queries_wave72  # noqa: E402, F401  (registers wave-72 queries)
from . import driver_queries_wave73  # noqa: E402, F401  (registers wave-73 queries)
from . import driver_queries_wave74  # noqa: E402, F401  (registers wave-74 queries)
from . import driver_queries_wave75  # noqa: E402, F401  (registers wave-75 queries)
from . import driver_queries_wave76  # noqa: E402, F401  (registers wave-76 queries)
from . import driver_queries_wave77  # noqa: E402, F401  (registers wave-77 queries)
from . import driver_queries_wave78  # noqa: E402, F401  (registers wave-78 queries)
from . import driver_queries_wave79  # noqa: E402, F401  (registers wave-79 queries)
from . import driver_queries_wave80  # noqa: E402, F401  (registers wave-80 queries)
from . import driver_queries_wave81  # noqa: E402, F401  (registers wave-81 queries)
from . import driver_queries_wave82  # noqa: E402, F401  (registers wave-82 queries)
from . import driver_queries_wave83  # noqa: E402, F401  (registers wave-83 queries)
from . import driver_queries_wave84  # noqa: E402, F401  (registers wave-84 queries)
from . import driver_queries_wave85  # noqa: E402, F401  (registers wave-85 queries)
from . import driver_queries_wave86  # noqa: E402, F401  (registers wave-86 queries)
from . import driver_queries_wave87  # noqa: E402, F401  (registers wave-87 queries)
from . import driver_queries_wave88  # noqa: E402, F401  (registers wave-88 queries)
from . import driver_queries_wave89  # noqa: E402, F401  (registers wave-89 queries)
from . import driver_queries_wave90  # noqa: E402, F401  (registers wave-90 queries)
from . import driver_queries_wave91  # noqa: E402, F401  (registers wave-91 queries)
from . import driver_queries_wave92  # noqa: E402, F401  (registers wave-92 queries)
from . import driver_queries_wave93  # noqa: E402, F401  (registers wave-93 queries)
from . import driver_queries_wave94  # noqa: E402, F401  (registers wave-94 queries)
from . import driver_queries_wave95  # noqa: E402, F401  (registers wave-95 queries)
from . import driver_queries_wave96  # noqa: E402, F401  (registers wave-96 queries)
from . import driver_queries_wave97  # noqa: E402, F401  (registers wave-97 queries)
from . import driver_queries_wave98  # noqa: E402, F401  (registers wave-98 queries)
from . import driver_queries_wave99  # noqa: E402, F401  (registers wave-99 queries)
from . import driver_queries_wave100  # noqa: E402, F401  (registers wave-100 queries)
from . import driver_queries_wave101  # noqa: E402, F401  (registers wave-101 queries)
from . import driver_queries_wave102  # noqa: E402, F401  (registers wave-102 queries)
from . import driver_queries_wave103  # noqa: E402, F401  (registers wave-103 queries)
from . import driver_queries_wave104  # noqa: E402, F401  (registers wave-104 queries)
from . import driver_queries_wave105  # noqa: E402, F401  (registers wave-105 queries)
from . import driver_queries_wave106  # noqa: E402, F401  (registers wave-106 queries)
from . import driver_queries_wave107  # noqa: E402, F401  (registers wave-107 queries)
from . import driver_queries_wave108  # noqa: E402, F401  (registers wave-108 queries)
from . import driver_queries_wave109  # noqa: E402, F401  (registers wave-109 queries)
from . import driver_queries_wave110  # noqa: E402, F401  (registers wave-110 queries)
from . import driver_queries_wave111  # noqa: E402, F401  (registers wave-111 queries)
from . import driver_queries_wave112  # noqa: E402, F401  (registers wave-112 queries)
from . import driver_queries_wave113  # noqa: E402, F401  (registers wave-113 queries)
from . import driver_queries_wave114  # noqa: E402, F401  (registers wave-114 queries)
from . import driver_queries_wave115  # noqa: E402, F401  (registers wave-115 queries)
from . import driver_queries_wave116  # noqa: E402, F401  (registers wave-116 queries)
from . import driver_queries_wave117  # noqa: E402, F401  (registers wave-117 queries)
from . import driver_queries_wave118  # noqa: E402, F401  (registers wave-118 queries)
from . import driver_queries_wave119  # noqa: E402, F401  (registers wave-119 queries)
from . import driver_queries_wave120  # noqa: E402, F401  (registers wave-120 queries)
from . import driver_queries_wave121  # noqa: E402, F401  (registers wave-121 queries)
from . import driver_queries_wave122  # noqa: E402, F401  (registers wave-122 queries)
from . import driver_queries_wave123  # noqa: E402, F401  (registers wave-123 queries)
from . import driver_queries_wave124  # noqa: E402, F401  (registers wave-124 queries)
from . import driver_queries_wave125  # noqa: E402, F401  (registers wave-125 queries)
from . import driver_queries_wave126  # noqa: E402, F401  (registers wave-126 queries)
from . import driver_queries_wave127  # noqa: E402, F401  (registers wave-127 queries)
from . import driver_queries_wave128  # noqa: E402, F401  (registers wave-128 queries)
from . import driver_queries_wave129  # noqa: E402, F401  (registers wave-129 queries)
from . import driver_queries_wave130  # noqa: E402, F401  (registers wave-130 queries)
from . import driver_queries_wave131  # noqa: E402, F401  (registers wave-131 queries)
from . import driver_queries_wave132  # noqa: E402, F401  (registers wave-132 queries)
from . import driver_queries_wave133  # noqa: E402, F401  (registers wave-133 queries)
from . import driver_queries_wave134  # noqa: E402, F401  (registers wave-134 queries)
from . import driver_queries_wave135  # noqa: E402, F401  (registers wave-135 queries)
from . import driver_queries_wave136  # noqa: E402, F401  (registers wave-136 queries)
from . import driver_queries_wave137  # noqa: E402, F401  (registers wave-137 queries)
from . import driver_queries_wave138  # noqa: E402, F401  (registers wave-138 queries)
from . import driver_queries_wave139  # noqa: E402, F401  (registers wave-139 queries)
from . import driver_queries_wave140  # noqa: E402, F401  (registers wave-140 queries)
from . import driver_queries_wave141  # noqa: E402, F401  (registers wave-141 queries)
from . import driver_queries_wave142  # noqa: E402, F401  (registers wave-142 queries)
from . import driver_queries_wave143  # noqa: E402, F401  (registers wave-143 queries)
from . import driver_queries_wave144  # noqa: E402, F401  (registers wave-144 queries)
from . import driver_queries_wave145  # noqa: E402, F401  (registers wave-145 queries)
from . import driver_queries_wave146  # noqa: E402, F401  (registers wave-146 queries)
from . import driver_queries_wave147  # noqa: E402, F401  (registers wave-147 queries)
from . import driver_queries_wave148  # noqa: E402, F401  (registers wave-148 queries)
from . import driver_queries_wave149  # noqa: E402, F401  (registers wave-149 queries)
from . import driver_queries_wave150  # noqa: E402, F401  (registers wave-150 queries)


# SELF-REFRESHING ROTATION (round 6; VERDICT r5 task #1).  The driver's
# per-round correctness check covers the first ~50 names of ``queries()``
# in dict order, so the rotation decides which queries earn a CORRECTNESS
# row each round.  Rounds 4 and 5 both went stale because the sampled set
# was a hard-coded list refreshed by hand; now it is derived at import
# time from the committed ``CORRECTNESS_r*.json`` artifacts (they travel
# with the repo the driver copies), so the rotation can never go stale:
# any name with a driver row in ANY past round sorts after every
# never-sampled name automatically.
#
# ``_RECHECK`` is the one remaining manual knob: queries whose CODE
# changed and therefore must re-verify even though they hold a green row.
# Every registered name holds a driver row, so the cap is 20 (pinned in
# tests/test_driver_rotation.py).  Current entries: the queries whose
# vector math moved from interpreted folds onto the ``vecmath`` kernels,
# plus ``alignment_uniformity`` (exact integer ring bucket).  Four more
# queries changed the same way and share an operator path with an entry
# below: ``ann_recall_lsh`` (cosine_topk_lsh), ``clustering_kappa``
# (nearest_centroid_confusion), ``retrieval_pr_curve`` (the wave-102
# retrieval cosine) and ``bitext_mining_pairs_banded`` (the bitext
# cosine).
_RECHECK = [
    "ann_cosine_topk_lsh",
    "label_centroid_confusion",
    "hard_negatives",
    "semantic_dedup_pairs",
    "embedding_random_projection",
    "int8_ann_topk",
    "ann_rerank_exact",
    "grid_density_clusters",
    "matryoshka_truncation_eval",
    "int8_quantization_error",
    "bitext_mining_pairs",
    "binary_sign_ann_topk",
    "mmr_diversified_topk",
    "kcenter_diversity_sample",
    "embedding_retrieval_auc",
    "semantic_split_contamination",
    "pq_ann_topk",
    "curation_pipeline",
    "ivfpq_ann_topk",
    "alignment_uniformity",
]

_REPO_ROOT = pathlib.Path(__file__).resolve().parent.parent


def _driver_sampled(root: pathlib.Path = _REPO_ROOT) -> set[str]:
    """Union of names across every committed CORRECTNESS_r*.json.

    The artifacts sit at the repo root, one dict per round keyed by query
    name.  A name's presence (green or not) means the driver already
    recorded a row for it, so the window should spend its slots
    elsewhere.  Unreadable or absent files contribute nothing: a bare
    package checkout treats every name as never sampled and keeps
    registration order.
    """
    names: set[str] = set()
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            names.update(data.keys())
    return names


def _rotated(names: list[str]) -> list[str]:
    sampled = _driver_sampled()
    recheck = [n for n in _RECHECK if n in names]
    fresh = [n for n in names if n not in sampled and n not in recheck]
    rest = [n for n in names if n in sampled and n not in recheck]
    return recheck + fresh + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _rotated(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    ordered = [n for n in _rotated(list(QUERIES)) if n in ORACLES]
    return {n: ORACLES[n] for n in ordered}

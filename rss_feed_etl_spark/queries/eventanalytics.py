"""Product-analytics queries over ``operators/eventanalytics.py``: funnels,
retention, attribution, survival, uplift, causal estimates and rankings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import _register
from ..operators import eventanalytics as ea
from .corpus import _code, _hexfold


# Product-analytics operators over the events stream — ordered funnel,
# retention cohorts, value histogram, and per-group decile binning.

# --- ordered funnel --------------------------------------------------------

_FUNNEL = ["view", "click", "purchase"]

_W_SQL = (
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.funnel_stages(td.load_table(spark, sf_dir, "events"), _FUNNEL)


def _funnel_sql() -> str:
    levels = []
    prev_src = "events"
    for i, stage in enumerate(_FUNNEL):
        guard = f" AND s{i-1} = 1" if i else ""
        levels.append(
            f"l{i} AS (SELECT *, max(CASE WHEN event_type = '{stage}'{guard} "
            f"THEN 1 ELSE 0 END) OVER {_W_SQL} AS s{i} FROM {prev_src})"
        )
        prev_src = f"l{i}"
    maxes = ", ".join(f"max(s{i}) AS s{i}" for i in range(len(_FUNNEL)))
    sums = ", ".join(
        f"CAST(sum(s{i}) AS BIGINT) AS n{i}" for i in range(len(_FUNNEL))
    )
    unpivot = " UNION ALL ".join(
        f"SELECT {i} AS stage_idx, '{s}' AS stage, n{i} AS n_users FROM c"
        for i, s in enumerate(_FUNNEL)
    )
    return (
        "WITH " + ", ".join(levels)
        + f", per_user AS (SELECT user_id, {maxes} FROM l{len(_FUNNEL)-1} GROUP BY 1)"
        + f", c AS (SELECT {sums} FROM per_user) "
        + unpivot
    )


_register("funnel_stages", _q_funnel, _funnel_sql())


# --- retention cohorts -----------------------------------------------------


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.retention_cohorts(td.load_table(spark, sf_dir, "events"))


_register(
    "retention_cohorts",
    _q_retention,
    """
WITH days AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
firsts AS (SELECT u, min(day) AS cohort_day FROM days GROUP BY 1)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort_day, day) AS offset_days,
       count(*) AS n_users
FROM days JOIN firsts USING (u)
GROUP BY 1, 2
""",
)


# --- value histogram -------------------------------------------------------

_H_LO, _H_HI, _H_BINS = 0.0, 500.0, 20


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.value_histogram(
        td.load_table(spark, sf_dir, "events"), lo=_H_LO, hi=_H_HI, n_bins=_H_BINS
    )


_register(
    "value_histogram",
    _q_histogram,
    f"""
SELECT CASE WHEN value < {_H_LO} THEN 0
            WHEN value >= {_H_HI} THEN {_H_BINS + 1}
            ELSE CAST(floor((value - {_H_LO}) / {(_H_HI - _H_LO) / _H_BINS}) AS BIGINT) + 1
       END AS bucket,
       count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY 1
""",
)


# --- per-group deciles -----------------------------------------------------


def _q_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.group_deciles(td.load_table(spark, sf_dir, "events"))


_register(
    "value_deciles",
    _q_deciles,
    """
WITH t AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
  FROM events)
SELECT event_type, decile, count(*) AS n,
       round(min(value), 2) AS lo, round(max(value), 2) AS hi
FROM t GROUP BY 1, 2
""",
)


# --- last-touch attribution ------------------------------------------------

_ATTR_SOURCES = ["view", "click"]
_ATTR_DAYS = 7


def _q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.last_touch_attribution(
        td.load_table(spark, sf_dir, "events"),
        source_types=_ATTR_SOURCES,
        max_age_days=_ATTR_DAYS,
    )


_SRC_LIST = ", ".join(f"'{s}'" for s in _ATTR_SOURCES)
_register(
    "last_touch_attribution",
    _q_attribution,
    f"""
WITH flagged AS (
  SELECT event_type, value, ts,
         last_value(CASE WHEN event_type IN ({_SRC_LIST}) THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS src,
         last_value(CASE WHEN event_type IN ({_SRC_LIST}) THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS src_ts
  FROM events)
SELECT CASE WHEN src IS NOT NULL AND src_ts >= ts - INTERVAL {_ATTR_DAYS} DAY
            THEN src ELSE 'direct' END AS source,
       count(*) AS n_conversions,
       round(sum(value), 2) AS total_value
FROM flagged WHERE event_type = 'purchase'
GROUP BY 1
""",
)


# --- session path mining ---------------------------------------------------


def _q_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.session_paths(td.load_table(spark, sf_dir, "events"), top=20)


_register(
    "session_paths_top",
    _q_paths,
    """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_us
  FROM events),
s AS (
  SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g),
p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY 1, 2)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path ASC LIMIT 20
""",
)


# Growth-accounting analytics — rolling-window stickiness (DAU/WAU), churn
# candidates, new-vs-returning daily split, and event-type basket lift.
#
# The rolling DISTINCT in ``daily_stickiness`` is the interesting scale
# shape: count_distinct has no window-frame support, so each day-user pair
# CONTRIBUTES to its trailing window days via a sequence explode and the
# rolling distinct becomes a plain groupBy — day-user-grain shuffles only.

# --- DAU / rolling WAU stickiness ------------------------------------------

_W_DAYS = 7


def _q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.daily_stickiness(
        td.load_table(spark, sf_dir, "events"), window_days=_W_DAYS
    )


_register(
    "daily_stickiness",
    _q_stickiness,
    f"""
WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id AS u
            FROM events),
contrib AS (SELECT u, unnest(generate_series(day,
                     day + INTERVAL {_W_DAYS - 1} DAY, INTERVAL 1 DAY)) AS tday
            FROM du),
wau AS (SELECT tday, count(DISTINCT u) AS window_active FROM contrib GROUP BY 1),
dau AS (SELECT day, count(DISTINCT u) AS dau FROM du GROUP BY 1)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(dau AS BIGINT) AS dau,
       CAST(window_active AS BIGINT) AS window_active,
       round(dau * 1.0 / window_active, 6) AS stickiness
FROM dau JOIN wau ON dau.day = wau.tday
""",
)


# --- churn candidates ------------------------------------------------------

_CHURN_DAYS = 1


def _q_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.churned_users(
        td.load_table(spark, sf_dir, "events"), inactive_days=_CHURN_DAYS
    )


_register(
    "churned_users",
    _q_churn,
    f"""
WITH l AS (SELECT user_id, max(date_trunc('day', ts)) AS last_day
           FROM events GROUP BY 1),
m AS (SELECT max(date_trunc('day', ts)) AS max_day FROM events)
SELECT user_id, strftime(last_day, '%Y-%m-%d') AS last_day,
       CAST(date_diff('day', last_day, max_day) AS BIGINT) AS days_inactive
FROM l, m
WHERE date_diff('day', last_day, max_day) >= {_CHURN_DAYS}
""",
)


# --- new vs returning ------------------------------------------------------


def _q_nvr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.new_vs_returning(td.load_table(spark, sf_dir, "events"))


_register(
    "new_vs_returning",
    _q_nvr,
    """
WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id AS u
            FROM events),
f AS (SELECT u, min(day) AS first_day FROM du GROUP BY 1)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
       CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS returning_users
FROM du JOIN f USING (u) GROUP BY 1
""",
)


# --- event-type basket lift ------------------------------------------------


def _q_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.event_type_lift(td.load_table(spark, sf_dir, "events"))


_register(
    "event_type_lift",
    _q_lift,
    """
WITH b AS (SELECT DISTINCT
             user_id || '#' || strftime(date_trunc('day', ts), '%Y-%m-%d') AS bid,
             event_type AS t
           FROM events),
nb AS (SELECT count(DISTINCT bid) AS n FROM b),
pt AS (SELECT t, count(*) AS nt FROM b GROUP BY 1),
pc AS (SELECT b1.t AS a, b2.t AS b, count(*) AS n_ab
       FROM b b1 JOIN b b2 ON b1.bid = b2.bid AND b1.t < b2.t
       GROUP BY 1, 2)
SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
       round(n_ab * 1.0 * n / (pa.nt * pb.nt), 6) AS lift
FROM pc JOIN pt pa ON pc.a = pa.t JOIN pt pb ON pc.b = pb.t, nb
""",
)


# --- time-decayed popularity -----------------------------------------------

_HL_DAYS = 7.0


def _q_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.decayed_popularity(
        td.load_table(spark, sf_dir, "events"), half_life_days=_HL_DAYS
    )


_LAM = 0.6931471805599453 / _HL_DAYS

_register(
    "decayed_popularity",
    _q_decayed,
    f"""
WITH m AS (SELECT max(ts) AS mx FROM events),
e AS (SELECT CAST(json_extract(props, '$.k') AS INT) AS item,
             round(exp(-{_LAM} * (epoch_us(mx) - epoch_us(ts)) / 86400000000.0), 9)
               AS w
      FROM events, m)
SELECT item, CAST(count(*) AS BIGINT) AS n_events, round(sum(w), 6) AS score
FROM e GROUP BY 1
""",
)


# --- trending items ---------------------------------------------------------

_TREND_W, _TREND_TOP = 7, 20


def _q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.trending_items(
        td.load_table(spark, sf_dir, "events"),
        window_days=_TREND_W,
        top=_TREND_TOP,
    )


_register(
    "trending_items",
    _q_trending,
    f"""
WITH daily AS (
  SELECT CAST(json_extract(props, '$.k') AS INT) AS item,
         CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2),
d2 AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS day_idx FROM daily),
sc AS (
  SELECT item, day, n,
         coalesce(sum(n) OVER (PARTITION BY item ORDER BY day_idx
                               RANGE BETWEEN {_TREND_W} PRECEDING
                               AND 1 PRECEDING), 0) AS trail_sum
  FROM d2)
SELECT item, strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
       CAST(trail_sum AS BIGINT) AS trail_sum,
       round(n * {float(_TREND_W)} / trail_sum, 6) AS ratio
FROM sc WHERE trail_sum > 0
ORDER BY ratio DESC, item ASC, day ASC LIMIT {_TREND_TOP}
""",
)


# CCNet-style paragraph-grain corpus dedup, Kaplan-Meier user-lifetime
# survival, and exponential time-decay multi-touch attribution.

# --- Kaplan-Meier survival --------------------------------------------------

_KM_CENSOR = 3


def _q_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.kaplan_meier(
        td.load_table(spark, sf_dir, "events"), censor_days=_KM_CENSOR
    )


_register(
    "km_survival",
    _q_km,
    f"""
WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l
            FROM events GROUP BY 1),
h AS (SELECT max(CAST(ts AS DATE)) AS m FROM events),
fl AS (SELECT date_diff('day', f, l) AS duration_days,
              CASE WHEN l <= m - {_KM_CENSOR} THEN 1 ELSE 0 END AS e
       FROM pu, h),
g AS (SELECT duration_days, CAST(sum(e) AS BIGINT) AS n_events,
             CAST(sum(1 - e) AS BIGINT) AS n_censored
      FROM fl GROUP BY 1),
a AS (SELECT *, CAST(sum(n_events + n_censored) OVER (
             ORDER BY duration_days DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM g),
s AS (SELECT *,
             max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END) OVER w2 AS dead,
             sum(CASE WHEN n_events < n_risk
                      THEN ln(1 - n_events / CAST(n_risk AS DOUBLE)) END)
               OVER w2 AS cum
      FROM a
      WINDOW w2 AS (ORDER BY duration_days ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT duration_days, n_risk, n_events, n_censored,
       CASE WHEN dead = 1 THEN 0.0
            ELSE round(exp(coalesce(cum, 0.0)), 6) END AS survival
FROM s
""",
)


# --- time-decay attribution -------------------------------------------------

_TDA_SOURCES = ["view", "click"]
_TDA_HL = 7.0


def _q_tda(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.time_decay_attribution(
        td.load_table(spark, sf_dir, "events"),
        source_types=_TDA_SOURCES,
        half_life_days=_TDA_HL,
    )


_register(
    "time_decay_attribution",
    _q_tda,
    f"""
WITH e AS (SELECT events.*,
        (epoch(ts) - min(epoch(ts)) OVER (PARTITION BY user_id)) / 86400.0 AS d
      FROM events),
r AS (SELECT *,
        sum(CASE WHEN event_type = 'view' THEN pow(2.0, d / {_TDA_HL})
                 ELSE 0.0 END) OVER w AS rs0,
        sum(CASE WHEN event_type = 'click' THEN pow(2.0, d / {_TDA_HL})
                 ELSE 0.0 END) OVER w AS rs1
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (SELECT value,
             rs0 * pow(2.0, -d / {_TDA_HL}) AS w0,
             rs1 * pow(2.0, -d / {_TDA_HL}) AS w1
      FROM r WHERE event_type = 'purchase'),
u AS (
  SELECT 'view' AS source,
         CASE WHEN w0 + w1 > 0 THEN w0 / (w0 + w1) ELSE 0.0 END AS share,
         value FROM c
  UNION ALL
  SELECT 'click',
         CASE WHEN w0 + w1 > 0 THEN w1 / (w0 + w1) ELSE 0.0 END, value FROM c
  UNION ALL
  SELECT 'direct',
         CASE WHEN w0 + w1 > 0 THEN 0.0 ELSE 1.0 END, value FROM c)
SELECT source, round(sum(share), 3) AS credited_conversions,
       round(sum(share * value), 2) AS credited_value
FROM u GROUP BY 1
""",
)


# --- WOE binning ------------------------------------------------------------

_WOE_LO, _WOE_HI, _WOE_BINS = 0.0, 500.0, 10


def _q_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.woe_binning(
        td.load_table(spark, sf_dir, "events"),
        lo=_WOE_LO, hi=_WOE_HI, n_bins=_WOE_BINS,
    )


_WOE_W = (_WOE_HI - _WOE_LO) / _WOE_BINS
_register(
    "woe_value_bins",
    _q_woe,
    f"""
WITH b AS (SELECT CASE WHEN value < {_WOE_LO} THEN 0
                       WHEN value >= {_WOE_HI} THEN {_WOE_BINS + 1}
                       ELSE CAST(floor((value - {_WOE_LO}) / {_WOE_W}) AS INT) + 1
                  END AS bucket,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
           FROM events),
g AS (SELECT bucket, CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(1 - p) AS BIGINT) AS n_neg
      FROM b GROUP BY 1),
t AS (SELECT CAST(sum(n_pos) AS DOUBLE) AS P,
             CAST(sum(n_neg) AS DOUBLE) AS N FROM g)
SELECT bucket, n_pos, n_neg,
       round(ln(((n_pos + 0.5) / P) / ((n_neg + 0.5) / N)), 6) AS woe,
       round(((n_pos + 0.5) / P - (n_neg + 0.5) / N)
             * ln(((n_pos + 0.5) / P) / ((n_neg + 0.5) / N)), 6) AS iv_contrib
FROM g, t
""",
)


# Wilson-interval conversion rates, Laplace-smoothed Markov transition matrix,
# funnel time-to-convert.

# --- Wilson rate intervals --------------------------------------------------

_WI_Z = 1.96


def _q_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.wilson_rate_intervals(
        td.load_table(spark, sf_dir, "events"), z=_WI_Z
    )


_register(
    "wilson_rate_intervals",
    _q_wilson,
    f"""
WITH g AS (
  SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_conv
  FROM events GROUP BY 1)
SELECT segment, n, n_conv,
       round(n_conv / CAST(n AS DOUBLE), 6) AS rate,
       round((n_conv / CAST(n AS DOUBLE) + {_WI_Z * _WI_Z} / (2.0 * n))
             / (1.0 + {_WI_Z * _WI_Z} / n)
             - {_WI_Z} * sqrt((n_conv / CAST(n AS DOUBLE))
                              * (1.0 - n_conv / CAST(n AS DOUBLE)) / n
                              + {_WI_Z * _WI_Z} / (4.0 * n * n))
               / (1.0 + {_WI_Z * _WI_Z} / n), 6) AS ci_lo,
       round((n_conv / CAST(n AS DOUBLE) + {_WI_Z * _WI_Z} / (2.0 * n))
             / (1.0 + {_WI_Z * _WI_Z} / n)
             + {_WI_Z} * sqrt((n_conv / CAST(n AS DOUBLE))
                              * (1.0 - n_conv / CAST(n AS DOUBLE)) / n
                              + {_WI_Z * _WI_Z} / (4.0 * n * n))
               / (1.0 + {_WI_Z * _WI_Z} / n), 6) AS ci_hi
FROM g
""",
)


# --- funnel latency ---------------------------------------------------------


def _q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.funnel_latency(td.load_table(spark, sf_dir, "events"))


_register(
    "funnel_latency",
    _q_funnel_latency,
    """
WITH v AS (SELECT user_id, min(ts) AS vs
           FROM events WHERE event_type = 'view' GROUP BY 1),
vv AS (SELECT e.user_id, v.vs, min(e.event_id) AS vid
       FROM events e JOIN v ON e.user_id = v.user_id AND e.ts = v.vs
       WHERE e.event_type = 'view' GROUP BY 1, 2),
p AS (SELECT e.user_id, min(e.ts) AS pe
      FROM events e JOIN vv ON e.user_id = vv.user_id
      WHERE e.event_type = 'purchase'
        AND (e.ts > vv.vs OR (e.ts = vv.vs AND e.event_id >= vv.vid))
      GROUP BY 1),
lat AS (SELECT epoch(p.pe) - epoch(vv.vs) AS latency
        FROM vv LEFT JOIN p ON vv.user_id = p.user_id)
SELECT CAST(count(*) AS BIGINT) AS n_exposed,
       CAST(count(latency) AS BIGINT) AS n_converted,
       round(count(latency) / CAST(count(*) AS DOUBLE), 6) AS conversion_rate,
       round(quantile_cont(latency, 0.5), 2) AS latency_p50_s,
       round(quantile_cont(latency, 0.9), 2) AS latency_p90_s
FROM lat
""",
)


# Difference-in-differences estimation and sequential-episode support.

# --- diff-in-diff -----------------------------------------------------------

_DID_SPLIT = "2024-01-16"


def _q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.diff_in_diff(
        td.load_table(spark, sf_dir, "events"), split_date=_DID_SPLIT
    )


def _cell_stats_sql() -> str:
    # decimal-exact sums -> identical doubles in both engines before any
    # division (the mean/variance cross-engine contract)
    return """
c AS (
  SELECT (CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'ctrl' END) || '_' ||
         (CASE WHEN CAST(ts AS DATE) >= DATE '{split}' THEN 'post' ELSE 'pre' END)
           AS cell,
         value
  FROM events),
g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(30,10))) AS DOUBLE) AS s2
      FROM c GROUP BY 1),
m AS (SELECT cell, n, s1 / n AS m, s2 / n - (s1 / n) * (s1 / n) AS v FROM g),
p AS (SELECT
  max(CASE WHEN cell = 'treat_post' THEN m END) AS tp_m,
  max(CASE WHEN cell = 'treat_post' THEN v END) AS tp_v,
  max(CASE WHEN cell = 'treat_post' THEN n END) AS tp_n,
  max(CASE WHEN cell = 'treat_pre' THEN m END) AS tr_m,
  max(CASE WHEN cell = 'treat_pre' THEN v END) AS tr_v,
  max(CASE WHEN cell = 'treat_pre' THEN n END) AS tr_n,
  max(CASE WHEN cell = 'ctrl_post' THEN m END) AS cp_m,
  max(CASE WHEN cell = 'ctrl_post' THEN v END) AS cp_v,
  max(CASE WHEN cell = 'ctrl_post' THEN n END) AS cp_n,
  max(CASE WHEN cell = 'ctrl_pre' THEN m END) AS cr_m,
  max(CASE WHEN cell = 'ctrl_pre' THEN v END) AS cr_v,
  max(CASE WHEN cell = 'ctrl_pre' THEN n END) AS cr_n
  FROM m)
""".format(split=_DID_SPLIT)


_register(
    "diff_in_diff",
    _q_did,
    f"""
WITH {_cell_stats_sql()}
SELECT round(tr_m, 6) AS treat_pre, round(tp_m, 6) AS treat_post,
       round(cr_m, 6) AS ctrl_pre, round(cp_m, 6) AS ctrl_post,
       round((tp_m - tr_m) - (cp_m - cr_m), 6) AS did_estimate,
       round(sqrt(tp_v / tp_n + tr_v / tr_n + cp_v / cp_n + cr_v / cr_n), 6)
         AS std_err,
       round((tp_m - tr_m) - (cp_m - cr_m)
             - 1.96 * sqrt(tp_v / tp_n + tr_v / tr_n + cp_v / cp_n + cr_v / cr_n),
             6) AS ci_lo,
       round((tp_m - tr_m) - (cp_m - cr_m)
             + 1.96 * sqrt(tp_v / tp_n + tr_v / tr_n + cp_v / cp_n + cr_v / cr_n),
             6) AS ci_hi
FROM p
""",
)


# --- ordered-pair episodes --------------------------------------------------

_EP_HOURS = 24


def _q_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.ordered_pair_episodes(
        td.load_table(spark, sf_dir, "events"), within_hours=_EP_HOURS
    )


_register(
    "ordered_pair_episodes",
    _q_episodes,
    f"""
WITH w AS (
  SELECT user_id, event_type, ts,
         max(CASE WHEN event_type = 'view' THEN ts END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS la
  FROM events),
u AS (SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND la IS NOT NULL
                       AND epoch(ts) - epoch(la) <= {_EP_HOURS * 3600.0}
                      THEN 1 ELSE 0 END) AS converted,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed,
             sum(CASE WHEN event_type = 'purchase' AND la IS NOT NULL
                       AND epoch(ts) - epoch(la) <= {_EP_HOURS * 3600.0}
                      THEN 1 ELSE 0 END) AS n_episodes
      FROM w GROUP BY 1)
SELECT CAST(sum(exposed) AS BIGINT) AS n_exposed_users,
       CAST(sum(converted) AS BIGINT) AS n_episode_users,
       CAST(sum(n_episodes) AS BIGINT) AS n_episodes,
       round(sum(converted) / CAST(greatest(sum(exposed), 1) AS DOUBLE), 6)
         AS support
FROM u
""",
)


# Cohort LTV curves and term-level vocabulary drift.

# --- cohort LTV -------------------------------------------------------------


def _q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.cohort_ltv(td.load_table(spark, sf_dir, "events"))


_register(
    "cohort_ltv",
    _q_cohort_ltv,
    """
WITH f AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort_day
           FROM events GROUP BY 1),
s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
      FROM f GROUP BY 1),
rev AS (SELECT f.cohort_day,
               date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS offset_days,
               sum(e.value) AS rev
        FROM events e JOIN f ON e.user_id = f.u
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2),
c AS (SELECT cohort_day, offset_days,
             sum(rev) OVER (PARTITION BY cohort_day ORDER BY offset_days
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev
      FROM rev)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day, c.offset_days,
       s.cohort_size, round(c.cum_rev / s.cohort_size, 4)
         AS cum_revenue_per_user
FROM c JOIN s ON c.cohort_day = s.cohort_day
""",
)


# CUPED variance-reduced A/B readout and inter-event burstiness.


def _q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.cuped_adjustment(td.load_table(spark, sf_dir, "events"))


# scalar fragments shared so the mirrored arithmetic is written ONCE
_ND = "CAST(n AS DOUBLE)"
_GND = "CAST(gn AS DOUBLE)"
_MX = f"(CAST(sx AS DOUBLE) / {_ND})"
_MY = f"(CAST(sy AS DOUBLE) / {_ND})"
_GMX = f"(CAST(gsx AS DOUBLE) / {_GND})"
_TH = (
    f"(({_GND} * CAST(gsxy AS DOUBLE) - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE))"
    f" / ({_GND} * CAST(gsxx AS DOUBLE) - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)))"
)
_VPOST = f"(CAST(syy AS DOUBLE) / {_ND} - {_MY} * {_MY})"
_VPRE = f"(CAST(sxx AS DOUBLE) / {_ND} - {_MX} * {_MX})"
_COV = f"(CAST(sxy AS DOUBLE) / {_ND} - {_MX} * {_MY})"
_VADJ = f"({_VPOST} + {_TH} * {_TH} * {_VPRE} - 2.0 * {_TH} * {_COV})"
_DEC0 = "CAST(0 AS DECIMAL(30,10))"

_register(
    "cuped_adjustment",
    _q_cuped,
    f"""
WITH b AS (SELECT min(epoch(ts)) AS e0, max(epoch(ts)) AS e1 FROM events),
pu AS (
  SELECT user_id AS u,
         sum(CASE WHEN epoch(ts) < (e0 + e1) / 2.0
                  THEN CAST(value AS DECIMAL(30,10)) ELSE {_DEC0} END) AS pre,
         sum(CASE WHEN epoch(ts) >= (e0 + e1) / 2.0
                  THEN CAST(value AS DECIMAL(30,10)) ELSE {_DEC0} END) AS post
  FROM events, b GROUP BY 1),
c AS (
  SELECT ({_code('CAST(u AS VARCHAR)')}) % 2 AS arm,
         CAST(round(pre * 100, 0) AS BIGINT) AS pc,
         CAST(round(post * 100, 0) AS BIGINT) AS qc
  FROM pu),
a AS (
  SELECT arm, CAST(count(*) AS BIGINT) n,
         CAST(sum(pc) AS BIGINT) sx, CAST(sum(qc) AS BIGINT) sy,
         CAST(sum(pc * pc) AS BIGINT) sxx, CAST(sum(qc * qc) AS BIGINT) syy,
         CAST(sum(pc * qc) AS BIGINT) sxy
  FROM c GROUP BY 1),
g AS (
  SELECT *, CAST(sum(n) OVER () AS BIGINT) gn,
         CAST(sum(sx) OVER () AS BIGINT) gsx,
         CAST(sum(sy) OVER () AS BIGINT) gsy,
         CAST(sum(sxx) OVER () AS BIGINT) gsxx,
         CAST(sum(sxy) OVER () AS BIGINT) gsxy
  FROM a)
SELECT CAST(arm AS INT) AS arm, n AS n_users,
       round({_MY} / 100.0, 6) AS mean_post,
       round(({_MY} - {_TH} * ({_MX} - {_GMX})) / 100.0, 6) AS mean_adj,
       round(100.0 * (1.0 - {_VADJ} / {_VPOST}), 6) AS var_reduction_pct
FROM g
""",
)


def _q_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.interevent_burstiness(td.load_table(spark, sf_dir, "events"))


_BMU = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
_BSIG = (
    f"sqrt(greatest(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - {_BMU} * {_BMU}, 0.0))"
)

_register(
    "interevent_burstiness",
    _q_burst,
    f"""
WITH g0 AS (
  SELECT event_type AS t,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts ASC, event_id ASC) AS gap_us
  FROM events),
g1 AS (
  SELECT t, CAST(gap_us // 1000000 AS BIGINT) AS g
  FROM g0 WHERE gap_us IS NOT NULL),
a AS (
  SELECT t, CAST(count(*) AS BIGINT) n, CAST(sum(g) AS BIGINT) s,
         CAST(sum(g * g) AS BIGINT) sq
  FROM g1 GROUP BY 1)
SELECT t AS event_type, n AS n_gaps,
       round({_BMU}, 6) AS mean_gap_s,
       round(CASE WHEN ({_BSIG} + {_BMU}) > 0
                  THEN ({_BSIG} - {_BMU}) / ({_BSIG} + {_BMU})
                  ELSE 0.0 END, 6) AS burstiness
FROM a WHERE n >= 2
""",
)


# Daily peak session concurrency (sweep-line) and U-shaped positional
# attribution.

_W = 1800


def _q_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.peak_concurrency(
        td.load_table(spark, sf_dir, "events"), session_seconds=_W
    )


_register(
    "peak_concurrency",
    _q_peak,
    f"""
WITH pd AS (
  SELECT ts AS s, ts + INTERVAL {_W} SECOND AS e,
         unnest(generate_series(
           date_trunc('day', ts),
           date_trunc('day', ts + INTERVAL {_W} SECOND - INTERVAL 1 MICROSECOND),
           INTERVAL 1 DAY)) AS day
  FROM events),
b AS (
  SELECT day, greatest(s, day) AS t, 1 AS d FROM pd
  UNION ALL
  SELECT day, least(e, day + INTERVAL 1 DAY), -1 FROM pd),
r AS (
  SELECT day, d,
         sum(d) OVER (PARTITION BY day ORDER BY t ASC, d ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
  FROM b)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_started,
       CAST(max(live) AS BIGINT) AS peak_concurrent
FROM r GROUP BY 1
""",
)

_PA_SOURCES = ["view", "click"]
_PA_AGE = 7


def _q_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.positional_attribution(
        td.load_table(spark, sf_dir, "events"),
        source_types=_PA_SOURCES,
        max_age_days=_PA_AGE,
    )


_SRC_IN = ", ".join(f"'{s}'" for s in _PA_SOURCES)
_FRAME = (
    "OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC "
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
)

_register(
    "positional_attribution",
    _q_positional,
    f"""
WITH tagged AS (
  SELECT user_id AS u, event_type AS typ, ts, event_id AS id, value AS val,
         first_value(CASE WHEN event_type = 'purchase' THEN event_id END
           IGNORE NULLS) {_FRAME} AS cid,
         first_value(CASE WHEN event_type = 'purchase' THEN ts END
           IGNORE NULLS) {_FRAME} AS cts,
         first_value(CASE WHEN event_type = 'purchase' THEN value END
           IGNORE NULLS) {_FRAME} AS cval
  FROM events),
touches AS (
  SELECT * FROM tagged
  WHERE typ IN ({_SRC_IN}) AND cid IS NOT NULL AND cid <> id
    AND epoch(cts) - epoch(ts) <= {float(_PA_AGE * 86400)!r}),
ranked AS (
  SELECT typ, cval, cid,
         row_number() OVER (PARTITION BY u, cid ORDER BY ts ASC, id ASC) rn,
         row_number() OVER (PARTITION BY u, cid ORDER BY ts DESC, id DESC) rd,
         count(*) OVER (PARTITION BY u, cid) k
  FROM touches),
cr AS (
  SELECT typ, cid,
         CAST(round((CASE WHEN k = 1 THEN CAST(1.0 AS DOUBLE)
                          WHEN k = 2 THEN CAST(0.5 AS DOUBLE)
                          WHEN rn = 1 THEN CAST(0.4 AS DOUBLE)
                          WHEN rd = 1 THEN CAST(0.4 AS DOUBLE)
                          ELSE CAST(0.2 AS DOUBLE) / CAST(k - 2 AS DOUBLE)
                     END) * cval * 100.0, 0) AS BIGINT) AS c
  FROM ranked),
bysrc AS (
  SELECT typ AS source, CAST(count(*) AS BIGINT) AS n_touches,
         round(CAST(sum(c) AS DOUBLE) / 100.0, 2) AS credited_value
  FROM cr GROUP BY 1),
direct AS (
  SELECT 'direct' AS source, CAST(count(*) AS BIGINT) AS n_touches,
         round(CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE)
               / 100.0, 2) AS credited_value
  FROM events e
  WHERE e.event_type = 'purchase'
    AND NOT EXISTS (SELECT 1 FROM ranked r WHERE r.cid = e.event_id))
SELECT * FROM bysrc UNION ALL SELECT * FROM direct
""",
)


_NA_CENSOR = 3


def _q_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.nelson_aalen(
        td.load_table(spark, sf_dir, "events"), censor_days=_NA_CENSOR
    )


_register(
    "nelson_aalen_hazard",
    _q_na,
    f"""
WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l
            FROM events GROUP BY 1),
h AS (SELECT max(CAST(ts AS DATE)) AS m FROM events),
fl AS (SELECT date_diff('day', f, l) AS duration_days,
              CASE WHEN l <= m - {_NA_CENSOR} THEN 1 ELSE 0 END AS e
       FROM pu, h),
g AS (SELECT duration_days, CAST(sum(e) AS BIGINT) AS n_events,
             CAST(sum(1 - e) AS BIGINT) AS n_censored
      FROM fl GROUP BY 1),
a AS (SELECT *, CAST(sum(n_events + n_censored) OVER (
             ORDER BY duration_days DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM g)
SELECT duration_days, n_risk, n_events, n_censored,
       round(sum(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
             OVER w2, 6) AS cum_hazard,
       round(sqrt(sum(CAST(n_events AS DOUBLE)
                      / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)))
                  OVER w2), 6) AS hazard_se
FROM a
WINDOW w2 AS (ORDER BY duration_days ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)


def _q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.rfm_segments(td.load_table(spark, sf_dir, "events"))


_QS = (20, 40, 60, 80)
_CUTS = ", ".join(
    f"quantile_cont({c}, {q / 100.0}) AS {c}_{q}"
    for c in ("rec", "freq", "mon_c")
    for q in _QS
)


def _score(col: str) -> str:
    terms = " + ".join(
        f"CASE WHEN CAST({col} AS DOUBLE) > {col}_{q} THEN 1 ELSE 0 END"
        for q in _QS
    )
    return f"(1 + {terms})"


_register(
    "rfm_segments",
    _q_rfm,
    f"""
WITH pu0 AS (
  SELECT user_id AS u, max(CAST(ts AS DATE)) AS last_day,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(round(sum(CAST(value AS DECIMAL(30,10))) * 100, 0) AS BIGINT)
           AS mon_c
  FROM events GROUP BY 1),
h AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events),
pu AS (
  SELECT CAST(date_diff('day', last_day, max_day) AS BIGINT) AS rec,
         freq, mon_c
  FROM pu0, h),
cuts AS (SELECT {_CUTS} FROM pu),
s AS (
  SELECT {_score('rec')} AS r_score, {_score('freq')} AS f_score,
         {_score('mon_c')} AS m_score, mon_c
  FROM pu, cuts)
SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(sum(mon_c) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0, 2)
         AS avg_monetary
FROM s GROUP BY 1, 2, 3
""",
)


# Simpson's-paradox audit and keyword-in-context snippets.


def _q_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.simpsons_paradox_check(td.load_table(spark, sf_dir, "events"))


_M = "CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE) / 100.0"
_DSEG = f"({_M.format(s='s1', n='n1')} - {_M.format(s='s0', n='n0')})"
_DALL = f"({_M.format(s='ts1', n='tn1')} - {_M.format(s='ts0', n='tn0')})"

_register(
    "simpsons_paradox_check",
    _q_simpson,
    f"""
WITH cells AS (
  SELECT event_type AS seg,
         ({_code('CAST(user_id AS VARCHAR)')}) % 2 AS arm,
         CAST(count(*) AS BIGINT) n,
         CAST(round(sum(CAST(value AS DECIMAL(30,10))) * 100, 0) AS BIGINT) sc
  FROM events GROUP BY 1, 2),
piv AS (
  SELECT seg,
         CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) n0,
         CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) n1,
         CAST(sum(CASE WHEN arm = 0 THEN sc ELSE 0 END) AS BIGINT) s0,
         CAST(sum(CASE WHEN arm = 1 THEN sc ELSE 0 END) AS BIGINT) s1
  FROM cells GROUP BY 1),
tot AS (
  SELECT *, CAST(sum(n0) OVER () AS BIGINT) tn0,
         CAST(sum(n1) OVER () AS BIGINT) tn1,
         CAST(sum(s0) OVER () AS BIGINT) ts0,
         CAST(sum(s1) OVER () AS BIGINT) ts1
  FROM piv)
SELECT seg AS segment, n0 AS n_arm0, n1 AS n_arm1,
       round({_M.format(s='s0', n='n0')}, 6) AS mean_arm0,
       round({_M.format(s='s1', n='n1')}, 6) AS mean_arm1,
       round({_DSEG}, 6) AS diff,
       CAST(CASE WHEN sign({_DSEG}) = sign({_DALL}) THEN 1 ELSE 0 END AS INT)
         AS agrees_with_overall
FROM tot WHERE n0 > 0 AND n1 > 0
UNION ALL
SELECT 'OVERALL', tn0, tn1,
       round({_M.format(s='ts0', n='tn0')}, 6),
       round({_M.format(s='ts1', n='tn1')}, 6),
       round({_DALL}, 6), CAST(1 AS INT)
FROM (SELECT DISTINCT tn0, tn1, ts0, ts1 FROM tot)
""",
)


_UHD_K = 20
_UHD_MIN = 10


def _q_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.user_hour_divergence(
        td.load_table(spark, sf_dir, "events"), top_k=_UHD_K, min_events=_UHD_MIN
    )


_HSUMS = ", ".join(
    f"CAST(sum(CASE WHEN hour(ts) = {i} THEN 1 ELSE 0 END) AS BIGINT) AS h{i}"
    for i in range(24)
)
_GSUMS = ", ".join(
    f"CAST(sum(h{i}) AS BIGINT) AS g{i}" for i in range(24)
)
_P = "(CAST(h{i} AS DOUBLE) / CAST(n AS DOUBLE))"
_Q = "(CAST(g{i} AS DOUBLE) / CAST(gn AS DOUBLE))"
_KL = " + ".join(
    "CASE WHEN h{i} > 0 THEN {p} * ln({p} / {q}) ELSE 0.0 END".format(
        i=i, p=_P.format(i=i), q=_Q.format(i=i)
    )
    for i in range(24)
)

_register(
    "user_hour_divergence",
    _q_divergence,
    f"""
WITH per AS (
  SELECT user_id AS u, CAST(count(*) AS BIGINT) n, {_HSUMS}
  FROM events GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) gn, {_GSUMS} FROM per),
s AS (
  SELECT u AS user_id, n AS n_events, round({_KL}, 6) AS kl
  FROM per, tot WHERE n >= {_UHD_MIN})
SELECT * FROM s ORDER BY kl DESC, user_id ASC LIMIT {_UHD_K}
""",
)


# Directional association rules over (user, day) item baskets and distinctive
# terms per source via Dirichlet log-odds.

_MS = 0.0005
_MC = 0.03
_MAXB = 50


def _q_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.association_rules(
        td.load_table(spark, sf_dir, "events"),
        min_support=_MS, min_confidence=_MC, max_items_per_basket=_MAXB,
    )


_SUP = "(CAST(n_both AS DOUBLE) / CAST(n_baskets AS DOUBLE))"
_CONF = "(CAST(n_both AS DOUBLE) / CAST(n_a AS DOUBLE))"

_register(
    "association_rules",
    _q_rules,
    f"""
WITH it AS (
  SELECT DISTINCT user_id u, date_trunc('day', ts) dy,
         json_extract_string(props, '$.k') item
  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
sz AS (SELECT u, dy FROM it GROUP BY 1, 2 HAVING count(*) <= {_MAXB}),
itf AS (SELECT it.* FROM it JOIN sz ON it.u = sz.u AND it.dy = sz.dy),
nb AS (
  SELECT CAST(count(*) AS BIGINT) n_baskets
  FROM (SELECT DISTINCT u, dy FROM itf)),
ic AS (SELECT item, CAST(count(*) AS BIGINT) n_item FROM itf GROUP BY 1),
p AS (
  SELECT x.item antecedent, y.item consequent,
         CAST(count(*) AS BIGINT) n_both
  FROM itf x JOIN itf y ON x.u = y.u AND x.dy = y.dy AND x.item <> y.item
  GROUP BY 1, 2),
j AS (
  SELECT p.*, a.n_item n_a, b.n_item n_b, nb.n_baskets
  FROM p JOIN ic a ON p.antecedent = a.item
         JOIN ic b ON p.consequent = b.item, nb)
SELECT antecedent, consequent, n_both,
       round({_SUP}, 6) AS support,
       round({_CONF}, 6) AS confidence,
       round({_CONF} / (CAST(n_b AS DOUBLE) / CAST(n_baskets AS DOUBLE)), 6)
         AS lift
FROM j WHERE {_SUP} >= {_MS!r} AND {_CONF} >= {_MC!r}
""",
)


# Per-user panel slopes and Kitagawa rate-change decomposition.

_MIN_DAYS = 3


def _q_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.panel_user_slopes(
        td.load_table(spark, sf_dir, "events"), min_days=_MIN_DAYS
    )


_DEN = (
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)

_register(
    "panel_user_slopes",
    _q_slopes,
    f"""
WITH daily AS (
  SELECT user_id u, CAST(ts AS DATE) d,
         CAST(round(sum(CAST(value AS DECIMAL(30,10))) * 100, 0) AS BIGINT) yc
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT u, CAST(date_diff('day', min(d) OVER (PARTITION BY u), d)
                 AS BIGINT) x, yc
  FROM daily),
per AS (
  SELECT u, CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx,
         CAST(sum(yc) AS BIGINT) sy, CAST(sum(x * yc) AS BIGINT) sxy,
         CAST(sum(x * x) AS BIGINT) sxx
  FROM idx GROUP BY 1),
sl AS (
  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / {_DEN} / 100.0 AS s
  FROM per WHERE n >= {_MIN_DAYS} AND {_DEN} > 0)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       round(quantile_cont(s, 0.5), 6) AS median_slope,
       round(quantile_cont(s, 0.25), 6) AS p25_slope,
       round(quantile_cont(s, 0.75), 6) AS p75_slope,
       round(CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS frac_positive
FROM sl
""",
)


def _q_kitagawa(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.kitagawa_rate_decomposition(td.load_table(spark, sf_dir, "events"))


_R1 = "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
_R2 = "(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
_W1 = "(CAST(n1 AS DOUBLE) / CAST(tn1 AS DOUBLE))"
_W2 = "(CAST(n2 AS DOUBLE) / CAST(tn2 AS DOUBLE))"

_register(
    "kitagawa_rate_decomposition",
    _q_kitagawa,
    f"""
WITH b AS (SELECT min(epoch(ts)) e0, max(epoch(ts)) e1 FROM events),
cells AS (
  SELECT ({_code('CAST(user_id AS VARCHAR)')}) % 4 AS seg,
         CASE WHEN epoch(ts) >= (e0 + e1) / 2.0 THEN 1 ELSE 0 END AS era,
         CAST(count(*) AS BIGINT) n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) c
  FROM events, b GROUP BY 1, 2),
piv AS (
  SELECT seg,
         CAST(sum(CASE WHEN era = 0 THEN n ELSE 0 END) AS BIGINT) n1,
         CAST(sum(CASE WHEN era = 1 THEN n ELSE 0 END) AS BIGINT) n2,
         CAST(sum(CASE WHEN era = 0 THEN c ELSE 0 END) AS BIGINT) c1,
         CAST(sum(CASE WHEN era = 1 THEN c ELSE 0 END) AS BIGINT) c2
  FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(sum(n1) AS BIGINT) tn1, CAST(sum(n2) AS BIGINT) tn2,
         CAST(sum(c1) AS BIGINT) tc1, CAST(sum(c2) AS BIGINT) tc2
  FROM piv),
g AS (SELECT piv.*, tot.* FROM piv, tot),
eff AS (
  SELECT seg, {_W2} * ({_R2} - {_R1}) AS re, ({_W2} - {_W1}) * {_R1} AS me,
         CAST(tc1 AS DOUBLE) / CAST(tn1 AS DOUBLE) AS tr1,
         CAST(tc2 AS DOUBLE) / CAST(tn2 AS DOUBLE) AS tr2,
         n1, n2, c1, c2
  FROM g),
o AS (
  SELECT any_value(tr1) tr1, any_value(tr2) tr2,
         {", ".join(f"sum(CASE WHEN seg = {k} THEN re ELSE 0.0 END) re{k}, "
                    f"sum(CASE WHEN seg = {k} THEN me ELSE 0.0 END) me{k}"
                    for k in range(4))}
  FROM eff)
SELECT CAST(seg AS VARCHAR) AS segment,
       round({_R1}, 6) AS rate_old, round({_R2}, 6) AS rate_new,
       round({_W2} * ({_R2} - {_R1}), 6) AS rate_effect,
       round(({_W2} - {_W1}) * {_R1}, 6) AS mix_effect
FROM g WHERE n1 > 0 AND n2 > 0
UNION ALL
SELECT 'OVERALL', round(tr1, 6), round(tr2, 6),
       round(re0 + re1 + re2 + re3, 6), round(me0 + me1 + me2 + me3, 6)
FROM o
""",
)


# Qini uplift curve over score deciles.

_NB = 10


def _q_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.qini_curve(td.load_table(spark, sf_dir, "events"), n_buckets=_NB)


_QINI_QS = [i / _NB for i in range(1, _NB)]
_QINI_CUTS = ", ".join(
    f"quantile_cont(score, {q!r}) AS c{int(q * 100)}" for q in _QINI_QS
)
_BUCKET = "1 + " + " + ".join(
    f"CASE WHEN CAST(score AS DOUBLE) > c{int(q * 100)} THEN 1 ELSE 0 END"
    for q in _QINI_QS
)

_register(
    "qini_curve",
    _q_qini,
    f"""
WITH per AS (
  SELECT user_id AS u,
         CAST(round(sum(CAST(value AS DECIMAL(30,10))) * 100, 0) AS BIGINT)
           AS score,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
cuts AS (SELECT {_QINI_CUTS} FROM per),
cells AS (
  SELECT ({_BUCKET}) AS b,
         CAST(sum(CASE WHEN ({_code('CAST(u AS VARCHAR)')}) % 2 = 1
                  THEN 1 ELSE 0 END) AS BIGINT) nt,
         CAST(sum(CASE WHEN ({_code('CAST(u AS VARCHAR)')}) % 2 = 0
                  THEN 1 ELSE 0 END) AS BIGINT) nc,
         CAST(sum(CASE WHEN ({_code('CAST(u AS VARCHAR)')}) % 2 = 1
                  THEN conv ELSE 0 END) AS BIGINT) ct,
         CAST(sum(CASE WHEN ({_code('CAST(u AS VARCHAR)')}) % 2 = 0
                  THEN conv ELSE 0 END) AS BIGINT) cc
  FROM per, cuts GROUP BY 1),
cum AS (
  SELECT b, CAST(sum(nt) OVER w AS BIGINT) cnt,
         CAST(sum(nc) OVER w AS BIGINT) cnc,
         CAST(sum(ct) OVER w AS BIGINT) cct,
         CAST(sum(cc) OVER w AS BIGINT) ccc
  FROM cells WINDOW w AS (ORDER BY b DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT CAST(b AS BIGINT) AS bucket, cnt AS n_treat, cnc AS n_ctrl,
       cct AS conv_treat, ccc AS conv_ctrl,
       round(CAST(cct AS DOUBLE)
             - CAST(ccc AS DOUBLE)
               * (CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE)), 6) + 0.0 AS qini
FROM cum WHERE cnc > 0
""",
)


# Per-arm funnel comparison with z-tests and order-insensitive xor table
# checksums.


def _q_funnel_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.funnel_ab_compare(td.load_table(spark, sf_dir, "events"), _FUNNEL)


def _funnel_ab_sql() -> str:
    levels = []
    prev_src = "events"
    for i, stage in enumerate(_FUNNEL):
        guard = f" AND s{i - 1} = 1" if i else ""
        levels.append(
            f"l{i} AS (SELECT *, max(CASE WHEN event_type = '{stage}'{guard} "
            f"THEN 1 ELSE 0 END) OVER {_W_SQL} AS s{i} FROM {prev_src})"
        )
        prev_src = f"l{i}"
    maxes = ", ".join(f"max(s{i}) AS s{i}" for i in range(len(_FUNNEL)))
    arm = f"({_code('CAST(user_id AS VARCHAR)')}) % 2"
    sums = ", ".join(
        f"CAST(sum(CASE WHEN arm = {a} THEN s{i} ELSE 0 END) AS BIGINT)"
        f" AS s{i}a{a}"
        for i in range(len(_FUNNEL))
        for a in (0, 1)
    )
    rows = []
    for i, s in enumerate(_FUNNEL):
        c0, c1 = f"CAST(s{i}a0 AS DOUBLE)", f"CAST(s{i}a1 AS DOUBLE)"
        n0, n1 = "CAST(u0 AS DOUBLE)", "CAST(u1 AS DOUBLE)"
        p0, p1 = f"({c0} / {n0})", f"({c1} / {n1})"
        pp = f"(({c0} + {c1}) / ({n0} + {n1}))"
        var = f"({pp} * (1.0 - {pp}) * (1.0 / {n0} + 1.0 / {n1}))"
        z = f"(CASE WHEN {var} > 0 THEN ({p1} - {p0}) / sqrt({var}) END)"

        rows.append(
            f"SELECT {i} AS stage_idx, '{s}' AS stage, "
            f"s{i}a0 AS n_arm0, s{i}a1 AS n_arm1, "
            f"round({p0}, 6) AS rate_arm0, round({p1}, 6) AS rate_arm1, "
            f"round({z}, 6) AS z_score FROM c"
        )
    return (
        "WITH " + ", ".join(levels)
        + f", per_user AS (SELECT user_id, {maxes} "
        f"FROM l{len(_FUNNEL) - 1} GROUP BY 1)"
        + f", pa AS (SELECT {arm} AS arm, * FROM per_user)"
        + ", c AS (SELECT "
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u0, "
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u1, "
        + sums + " FROM pa) "
        + " UNION ALL ".join(rows)
    )


_register("funnel_ab_compare", _q_funnel_ab, _funnel_ab_sql())


_K = 10


def _q_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.topk_persistence(td.load_table(spark, sf_dir, "events"), k=_K)


_register(
    "topk_persistence",
    _q_persist,
    f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, json_extract_string(props, '$.k') item,
         CAST(count(*) AS BIGINT) n
  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
  GROUP BY 1, 2),
top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY day
      ORDER BY n DESC, item ASC) r FROM daily)
  WHERE r <= {_K}),
d0 AS (SELECT min(day) AS d0 FROM top),
idx AS (
  SELECT item, CAST(date_diff('day', d0, day) AS BIGINT) di FROM top, d0),
isl AS (
  SELECT item, di,
         di - row_number() OVER (PARTITION BY item ORDER BY di) AS grp
  FROM idx),
st AS (
  SELECT item, grp, CAST(count(*) AS BIGINT) len FROM isl GROUP BY 1, 2)
SELECT item, CAST(sum(len) AS BIGINT) AS n_days_in_topk,
       CAST(max(len) AS BIGINT) AS max_streak
FROM st GROUP BY 1
""",
)


# Sequence-training pair mining, IPF mixture raking, and the tokenizer vocab
# coverage curve — the "turn a raw corpus into a training run" trio: mine
# supervised examples from logs, solve the source×lang mixture, size the vocab.

# --- next-item training pairs ----------------------------------------------

_NITP_BUCKETS = 1024
_NITP_SALT = "nitp-v1"


def _q_nitp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ea.next_item_training_pairs(
        td.load_table(spark, sf_dir, "events"),
        n_neg_buckets=_NITP_BUCKETS,
        salt=_NITP_SALT,
    )


_NITP_HK = _hexfold(
    f"('{_NITP_SALT}:' || CAST(user_id AS VARCHAR) || ':' || CAST(event_id AS VARCHAR))"
)

_register(
    "next_item_training_pairs",
    _q_nitp,
    f"""
WITH b AS (
  SELECT user_id, CAST(json_extract(props, '$.k') AS INT) AS context_item,
         ts, event_id
  FROM events
  WHERE event_type = 'view' AND json_extract(props, '$.k') IS NOT NULL),
p AS (
  SELECT user_id, context_item,
         lead(context_item) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS next_item,
         event_id
  FROM b)
SELECT user_id, context_item, next_item,
       CAST({_NITP_HK} % {_NITP_BUCKETS} AS BIGINT) AS neg_bucket
FROM p
WHERE next_item IS NOT NULL AND next_item <> context_item
""",
)


# Exact Shapley-value attribution and the Murphy decomposition of the Brier
# score.
#
# Reference anchor: the reference pipeline stamps rows with reader/source
# provenance (src/rss_feed_etl/core/config.py feeds); Shapley is the
# coalition-fair split of conversion credit across those sources that the
# last-touch/time-decay/positional heuristics already in the registry
# approximate, and the Brier decomposition is the scalar scorecard for
# any probability the LLM scorer emits.

# --- exact Shapley attribution -----------------------------------------------------

_SH_CHANNELS = ("click", "error", "signup", "view")


def _q_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return ea.shapley_attribution(ev, channels=_SH_CHANNELS)


_register(
    "shapley_attribution",
    _q_shapley,
    """
WITH fc AS (SELECT user_id AS u, min(ts) AS conv_ts
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
pre AS (SELECT DISTINCT e.user_id AS u, e.event_type AS t
        FROM events e JOIN fc ON e.user_id = fc.u
        WHERE e.ts < fc.conv_ts AND e.event_type <> 'purchase'),
masks AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT u, CAST(sum(CASE t WHEN 'click' THEN 1 WHEN 'error' THEN 2
                              WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                              ELSE 0 END) AS BIGINT) AS mask
            FROM pre GROUP BY 1) WHERE mask > 0 GROUP BY 1),
subsets AS (SELECT CAST(unnest(range(16)) AS BIGINT) AS T),
v AS (SELECT T, CAST(sum(coalesce(cnt, 0)) AS BIGINT) AS v
      FROM subsets LEFT JOIN masks ON (mask & T) = mask GROUP BY 1),
ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
                             ('signup', 4), ('view', 8)) AS t(channel, bit)),
pairs AS (
  SELECT ch.channel,
         (CASE bit_count(a.T) WHEN 0 THEN 6 WHEN 1 THEN 2
               WHEN 2 THEN 2 WHEN 3 THEN 6 END) * (b.v - a.v) AS term
  FROM v a CROSS JOIN ch
  JOIN v b ON b.T = a.T + ch.bit
  WHERE (a.T & ch.bit) = 0),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_conversions FROM masks)
SELECT channel,
       round(CAST(sum(term) AS DOUBLE) / 24, 6) AS shapley_credit,
       n_conversions
FROM pairs, tot GROUP BY 1, 3
""",
)


# --- click position bias -----------------------------------------------------------
# Positions and a decaying click-keep rule are planted deterministically
# from event_id (the plant-inside-the-query pattern).


def _q_pos_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    pos = (F.col("event_id") % 10 + 1).cast("int")
    staged = ev.select(
        pos.alias("position"),
        F.when(
            (F.col("event_type") == "click")
            & ((F.col("event_id") % 12) < (F.col("event_id") % 10 + 1)),
            F.lit("dropped"),
        )
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    return ea.click_position_bias(staged)


_register(
    "click_position_bias",
    _q_pos_bias,
    """
WITH staged AS (
  SELECT CAST((event_id % 10) + 1 AS INT) AS position,
         CASE WHEN event_type = 'click'
                   AND (event_id % 12) < (event_id % 10) + 1
              THEN 'dropped' ELSE event_type END AS event_type
  FROM events)
SELECT position,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
         AS impressions,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
         AS clicks,
       CASE WHEN sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
            THEN round(CAST(sum(CASE WHEN event_type = 'click' THEN 1
                                ELSE 0 END) AS DOUBLE)
                       / sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
                       6) END AS ctr,
       CASE WHEN (SELECT round(CAST(sum(CASE WHEN event_type = 'click' THEN 1
                                       ELSE 0 END) AS DOUBLE)
                        / sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
                        6)
                  FROM staged WHERE position = 1) > 0
            THEN round(
              (CASE WHEN sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                             END) > 0
                    THEN round(CAST(sum(CASE WHEN event_type = 'click' THEN 1
                                        ELSE 0 END) AS DOUBLE)
                               / sum(CASE WHEN event_type = 'view' THEN 1
                                     ELSE 0 END), 6) END)
              / (SELECT round(CAST(sum(CASE WHEN event_type = 'click' THEN 1
                                       ELSE 0 END) AS DOUBLE)
                        / sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
                        6)
                 FROM staged WHERE position = 1), 6)
       END AS bias_vs_top
FROM staged GROUP BY 1
""",
)


# Observational causal inference — IPW treatment effects and sharp regression
# discontinuity.
#
# Reference anchor: the reference records outcomes with no experimental
# design at all (src/etl/rss_feed_etl.py appends whatever arrives); these
# are the two standard estimators for causal reads on exactly that kind
# of observational data, planted so the confounded naive answer and the
# recovered causal answer visibly differ.

# --- IPW treatment effect ----------------------------------------------------------
# Plant: treatment rate rises with the value stratum (selection bias) and
# the outcome rises with value — naive diff is inflated; IPW recovers the
# true +25.  Stratum 9's rate is deliberately 1.0 to exercise the
# positivity exclusion.

_IPW_EFFECT = 25.0


def _q_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    stratum = F.least(F.floor(F.col("value") / 10).cast("int"), F.lit(9))
    treated = (F.col("event_id") % 10) < (stratum + 1)
    staged = ev.select(
        stratum.alias("stratum"),
        treated.cast("int").alias("treated"),
        (F.col("value") + F.lit(_IPW_EFFECT) * treated.cast("double"))
        .alias("outcome"),
    )
    return ea.ipw_treatment_effect(staged)


_register(
    "ipw_treatment_effect",
    _q_ipw,
    f"""
WITH staged AS (
  SELECT least(CAST(floor(value / 10) AS INT), 9) AS s,
         CASE WHEN (event_id % 10)
                   < least(CAST(floor(value / 10) AS INT), 9) + 1
              THEN 1 ELSE 0 END AS t,
         value + {_IPW_EFFECT}
               * (CASE WHEN (event_id % 10)
                            < least(CAST(floor(value / 10) AS INT), 9) + 1
                       THEN 1.0 ELSE 0.0 END) AS y
  FROM events),
prop AS (SELECT s, count(*) AS nb, sum(t) AS tb,
                CAST(sum(t) AS DOUBLE) / count(*) AS p
         FROM staged GROUP BY 1),
n_excl AS (SELECT CAST(count(*) AS BIGINT) AS n_excluded_strata
           FROM prop WHERE p <= 0 OR p >= 1),
j AS (SELECT staged.*, prop.p FROM staged JOIN prop USING (s)
      WHERE prop.p > 0 AND prop.p < 1),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(t) AS BIGINT) AS n_treated,
         CAST(sum(1 - t) AS BIGINT) AS nc,
         CAST(sum(CAST(round(CASE WHEN t = 1 THEN y / p ELSE 0.0 END, 4)
                       AS DECIMAL(30,10))) AS DOUBLE) AS twy,
         CAST(sum(CAST(round(CASE WHEN t = 1 THEN 1.0 / p ELSE 0.0 END, 4)
                       AS DECIMAL(30,10))) AS DOUBLE) AS tw,
         CAST(sum(CAST(round(CASE WHEN t = 0 THEN y / (1 - p)
                             ELSE 0.0 END, 4)
                       AS DECIMAL(30,10))) AS DOUBLE) AS cwy,
         CAST(sum(CAST(round(CASE WHEN t = 0 THEN 1.0 / (1 - p)
                             ELSE 0.0 END, 4)
                       AS DECIMAL(30,10))) AS DOUBLE) AS cw,
         CAST(sum(CAST(round(CASE WHEN t = 1 THEN y ELSE 0.0 END, 4)
                       AS DECIMAL(30,10))) AS DOUBLE) AS ty,
         CAST(sum(CAST(round(CASE WHEN t = 0 THEN y ELSE 0.0 END, 4)
                       AS DECIMAL(30,10))) AS DOUBLE) AS cy
  FROM j)
SELECT n_units, n_treated, n_excluded_strata,
       round(ty / n_treated - cy / nc, 6) AS naive_diff,
       round(twy / tw - cwy / cw, 6) AS ipw_ate
FROM agg, n_excl
""",
)


# --- sharp regression discontinuity -------------------------------------------------

_RD_CUT = 40.0
_RD_BW = 30.0
_RD_JUMP = 30.0


def _q_rd(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    staged = ev.select(
        F.col("value").alias("running"),
        (
            2.0 * F.col("value")
            + F.lit(_RD_JUMP)
            * (F.col("value") >= _RD_CUT).cast("double")
            + ((F.col("event_id") % 7) - 3).cast("double")
        ).alias("outcome"),
    )
    return ea.regression_discontinuity(
        staged, cutoff=_RD_CUT, bandwidth=_RD_BW
    )


_register(
    "regression_discontinuity",
    _q_rd,
    f"""
WITH rows_ AS (
  SELECT value - {_RD_CUT} AS x,
         2.0 * value
         + {_RD_JUMP} * (CASE WHEN value >= {_RD_CUT} THEN 1.0 ELSE 0.0 END)
         + CAST((event_id % 7) - 3 AS DOUBLE) AS y
  FROM events
  WHERE value - {_RD_CUT} >= -{_RD_BW} AND value - {_RD_CUT} < {_RD_BW}),
side AS (
  SELECT x >= 0 AS r, count(*) AS n,
         CAST(sum(CAST(round(x, 4) AS DECIMAL(38,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(y, 4) AS DECIMAL(38,10))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(x * y, 4) AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(round(x * x, 4) AS DECIMAL(38,10))) AS DOUBLE) AS sxx
  FROM rows_ GROUP BY 1),
pred AS (
  SELECT r, n,
         round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
           AS pred
  FROM side)
SELECT CAST(l.n AS BIGINT) AS n_left, CAST(r2.n AS BIGINT) AS n_right,
       l.pred AS left_pred, r2.pred AS right_pred,
       round(r2.pred - l.pred, 6) AS rd_estimate
FROM pred l, pred r2 WHERE NOT l.r AND r2.r
""",
)


# --- UCB1 bandit ranking ------------------------------------------------------------

_UCB_TOP = 20


def _q_ucb(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    staged = ev.select(
        F.get_json_object("props", "$.k").cast("long").alias("item"),
        (F.col("event_type") == "purchase").cast("double").alias("reward"),
    ).filter(F.col("item").isNotNull())
    return ea.ucb1_ranking(staged, top=_UCB_TOP)


_register(
    "ucb1_ranking",
    _q_ucb,
    f"""
WITH staged AS (
  SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS item,
         CASE WHEN event_type = 'purchase' THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS reward
  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
arms AS (SELECT item, CAST(count(*) AS BIGINT) AS n_pulls,
                sum(reward) AS rsum
         FROM staged GROUP BY 1),
tot AS (SELECT CAST(sum(n_pulls) AS DOUBLE) AS N FROM arms)
SELECT item, n_pulls,
       round(rsum / n_pulls, 6) AS mean_reward,
       round(rsum / n_pulls + sqrt(2.0 * ln(N) / n_pulls), 6) AS ucb
FROM arms, tot
ORDER BY ucb DESC, item ASC LIMIT {_UCB_TOP}
""",
)


# Bradley-Terry strength ranking from pairwise comparisons.
#
# Reference anchor: the reference's LLM scorer emits absolute scores
# (src/rss_feed_etl/llm/scorer.py); modern LLM evaluation prefers
# pairwise judgments, and Bradley-Terry is the estimator that turns those
# into a strength scale that credits opponent quality (the arena
# leaderboard math), here over item-vs-item comparisons mined from each
# user's event sequence.

_BT_ITERS = 2
_BT_TOP = 20


def _q_bt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    item = F.get_json_object("props", "$.k").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag(item).over(w).alias("pa"),
        F.lag("value").over(w).alias("pv"),
        item.alias("cb"),
        F.col("value").alias("cv"),
    ).filter(
        F.col("pa").isNotNull()
        & F.col("cb").isNotNull()
        & (F.col("pa") != F.col("cb"))
    )
    comp = seq.select(
        F.when(F.col("pv") > F.col("cv"), F.col("pa"))
        .otherwise(F.col("cb")).alias("winner"),
        F.when(F.col("pv") > F.col("cv"), F.col("cb"))
        .otherwise(F.col("pa")).alias("loser"),
    )
    return ea.bradley_terry_ranks(
        comp, iters=_BT_ITERS, top=_BT_TOP
    )


def _bt_sql() -> str:
    steps = []
    prev = "w0"
    for t in range(1, _BT_ITERS + 1):
        steps.append(
            f"""m{t} AS (
  SELECT pairs.i, pairs.j, pairs.n,
         CAST(round(pairs.n / (wi.wt + wj.wt), 9) AS DECIMAL(38,10)) AS d
  FROM pairs JOIN {prev} wi ON pairs.i = wi.item
             JOIN {prev} wj ON pairs.j = wj.item),
ds{t} AS (SELECT item, CAST(sum(d) AS DOUBLE) AS dsum FROM (
            SELECT i AS item, d FROM m{t}
            UNION ALL SELECT j, d FROM m{t}) GROUP BY 1),
rw{t} AS (SELECT items.item,
                 CASE WHEN dsum > 0 THEN n_wins / dsum
                      ELSE CAST(0.0 AS DOUBLE) END AS rw
          FROM items JOIN ds{t} USING (item)),
tt{t} AS (SELECT CAST(sum(CAST(round(rw, 9) AS DECIMAL(38,10))) AS DOUBLE)
                   AS s FROM rw{t}),
w{t} AS (SELECT item, round(rw * k / s, 9) AS wt FROM rw{t}, tt{t}, kk)"""
        )
        prev = f"w{t}"
    return f"""
WITH seq AS (
  SELECT lag(CAST(json_extract(props, '$.k') AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pa,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv,
         CAST(json_extract(props, '$.k') AS BIGINT) AS cb,
         value AS cv
  FROM events),
comp AS (SELECT CASE WHEN pv > cv THEN pa ELSE cb END AS w,
                CASE WHEN pv > cv THEN cb ELSE pa END AS l
         FROM seq WHERE pa IS NOT NULL AND cb IS NOT NULL AND pa <> cb),
pairs AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN w = least(w, l) THEN 1 ELSE 0 END)
                      AS BIGINT) AS wins_i
          FROM comp GROUP BY 1, 2),
items AS (SELECT item, CAST(sum(win) AS BIGINT) AS n_wins FROM (
            SELECT i AS item, wins_i AS win FROM pairs
            UNION ALL SELECT j, n - wins_i FROM pairs) GROUP BY 1),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM items),
w0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS wt FROM items),
{", ".join(steps)},
nm AS (SELECT item, CAST(sum(n) AS BIGINT) AS n_matches FROM (
         SELECT i AS item, n FROM pairs
         UNION ALL SELECT j, n FROM pairs) GROUP BY 1)
SELECT items.item, n_wins, n_matches, round(wt, 6) AS strength
FROM items JOIN {prev} USING (item) JOIN nm USING (item)
ORDER BY strength DESC, item ASC LIMIT {_BT_TOP}
"""


_register("bradley_terry_ranks", _q_bt, _bt_sql())

"""Time-series queries over ``operators/timeseries.py``: gap-fill, anomalies,
trends, drift, smoothing and forecasts, changepoints and autocorrelation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import ORACLES, _register
from ..operators import timeseries


# --- daily gap-fill with LOCF ---------------------------------------------

_GAP_CUTOFF = 300.0


def _q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value") > _GAP_CUTOFF)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )
    filled = timeseries.gapfill_locf(daily, key_col="event_type")
    # day → 'yyyy-MM-dd' string at the sink: the driver's pandas compare
    # renders Spark DATE and DuckDB DATE differently (date vs datetime64)
    return filled.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "total",
        "filled_total",
        "is_gap",
    )


_register(
    "daily_gapfill",
    _q_gapfill,
    f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 2) AS total
  FROM events WHERE value > {_GAP_CUTOFF} GROUP BY 1, 2),
bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
spine0 AS (
  SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day0
  FROM bounds),
spine AS (SELECT event_type, CAST(day0 AS DATE) AS day FROM spine0)
SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day, d.total,
       last_value(d.total IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_total,
       d.total IS NULL AS is_gap
FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
""",
)


# --- daily volume anomalies ------------------------------------------------

_ANOM_T, _ANOM_W = 0.05, 7


def _q_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.daily_count_anomalies(
        td.load_table(spark, sf_dir, "events"),
        threshold=_ANOM_T,
        window_days=_ANOM_W,
    )


_register(
    "daily_count_anomalies",
    _q_anomalies,
    f"""
WITH d AS (SELECT date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY 1),
s AS (SELECT day, n,
             round(avg(n) OVER (ORDER BY day
                   ROWS BETWEEN {_ANOM_W - 1} PRECEDING AND CURRENT ROW), 6) AS ma
      FROM d),
p AS (SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n, ma,
             round((n - ma) / ma, 6) AS pct_dev
      FROM s)
SELECT * FROM p WHERE abs(pct_dev) > {_ANOM_T}
""",
)


# --- day-of-week seasonal anomalies -----------------------------------------

_DOW_SIGMAS = 2.0


def _q_dow_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = td.load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("total")
    )
    out = timeseries.dow_seasonal_residuals(daily, sigmas=_DOW_SIGMAS)
    return out.withColumn("day", F.date_format("day", "yyyy-MM-dd"))


_register(
    "dow_anomaly_days",
    _q_dow_anomalies,
    f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, round(sum(o_totalprice), 2) AS total
  FROM orders GROUP BY 1),
d AS (SELECT day, CAST(total AS DOUBLE) AS val, dayofweek(day) AS dow FROM daily),
profile AS (
  -- exact-DECIMAL mean, mirroring the engine: fold order cannot move
  -- the 6-dp rounding (sf0.001's Sunday mean sits ON the boundary)
  SELECT dow,
         round(CAST(sum(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6)
           AS expected
  FROM d GROUP BY 1),
resid AS (
  SELECT day, val, dow, expected, round(val - expected, 6) AS residual
  FROM d JOIN profile USING (dow)),
sd AS (SELECT round(stddev_pop(residual), 6) AS sd FROM resid)
SELECT strftime(day, '%Y-%m-%d') AS day, val AS total, dow, expected, residual,
       CASE WHEN abs(residual) > {_DOW_SIGMAS} * sd THEN 1 ELSE 0 END AS is_anomaly
FROM resid, sd
""",
)


# Dedup-pipeline pair recall vs the structural ground truth
# (blocking/verification quality), per-group OLS trend slopes, and two-sample
# Kolmogorov–Smirnov drift.

# --- per-group daily trend slope --------------------------------------------


def _q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.daily_trend_slope(td.load_table(spark, sf_dir, "events"))


_register(
    "daily_trend_slope",
    _q_trend_slope,
    """
WITH daily AS (
  SELECT event_type AS g, CAST(ts AS DATE) AS day, count(*) AS y
  FROM events GROUP BY 1, 2),
d AS (SELECT g, CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS x, y
      FROM daily),
sums AS (
  SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM d GROUP BY 1)
SELECT g AS event_type, CAST(n AS BIGINT) AS n_days,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
FROM sums
""",
)


# --- KS drift between first/second half of the stream -----------------------

_KS_SPLIT = "2024-01-16 00:00:00"


def _q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.ks_drift(
        td.load_table(spark, sf_dir, "events"), split_ts=_KS_SPLIT
    )


_register(
    "ks_value_drift",
    _q_ks_drift,
    f"""
WITH s AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
         ts < TIMESTAMP '{_KS_SPLIT}' AS before
  FROM events),
per_v AS (
  SELECT g, v,
         sum(CASE WHEN before THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN NOT before THEN 1 ELSE 0 END) AS c2
  FROM s GROUP BY 1, 2),
tot AS (
  SELECT g,
         sum(CASE WHEN before THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN NOT before THEN 1 ELSE 0 END) AS n2
  FROM s GROUP BY 1),
ecdf AS (
  SELECT g, v, c1, c2,
         sum(c1) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a1,
         sum(c2) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a2
  FROM per_v)
SELECT g AS event_type,
       CAST(max(n1) AS BIGINT) AS n_before,
       CAST(max(n2) AS BIGINT) AS n_after,
       round(max(abs(a1 / n1 - a2 / n2)), 6) AS ks_stat
FROM ecdf JOIN tot USING (g)
GROUP BY 1
""",
)


# Telescoped exponential moving average smoothing and weight-of-evidence
# feature binning.

# --- EMA smoothing ----------------------------------------------------------

_EMA_ALPHA = 0.3


def _q_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("total"))
    out = timeseries.ema_smoothing(daily, alpha=_EMA_ALPHA)
    # string day: duckdb fetches its DATE as a midnight timestamp, which
    # canonicalizes differently from a Spark date
    return out.select(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
        "total", "ema",
    )


_register(
    "ema_daily_revenue",
    _q_ema,
    f"""
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 2) AS total
           FROM events GROUP BY 1, 2),
s AS (SELECT *,
             row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t,
             first_value(total) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x0
      FROM d),
r AS (SELECT *,
             sum(CASE WHEN t > 0 THEN pow({1 - _EMA_ALPHA}, -t) * total
                      ELSE 0.0 END)
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM s)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, total,
       round({_EMA_ALPHA} * pow({1 - _EMA_ALPHA}, t) * run
             + pow({1 - _EMA_ALPHA}, t) * x0, 4) AS ema
FROM r
""",
)


# --- time-weighted average --------------------------------------------------


def _q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.time_weighted_average(td.load_table(spark, sf_dir, "events"))


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


# Cross-source quantile normalization, seasonal-naive MASE backtest, Theil-Sen
# robust trend.

# --- seasonal-naive MASE ----------------------------------------------------

_MASE_SEASON = 7


def _q_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.seasonal_naive_mase(
        td.load_table(spark, sf_dir, "events"), season_days=_MASE_SEASON
    )


_register(
    "seasonal_naive_mase",
    _q_mase,
    f"""
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 2) AS y
           FROM events GROUP BY 1, 2),
l AS (SELECT *,
             lag(y, {_MASE_SEASON}) OVER (PARTITION BY event_type ORDER BY day) AS s,
             lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS n
      FROM d)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       round(avg(abs(y - s)), 6) AS mae_seasonal,
       round(avg(abs(y - n)), 6) AS mae_naive,
       round(avg(abs(y - s)) / avg(abs(y - n)), 6) AS mase
FROM l WHERE s IS NOT NULL AND n IS NOT NULL
GROUP BY 1
""",
)


# --- Theil-Sen trend --------------------------------------------------------


def _q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.theil_sen_trend(td.load_table(spark, sf_dir, "events"))


_register(
    "theil_sen_trend",
    _q_theil_sen,
    """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS DOUBLE) AS y
           FROM events GROUP BY 1, 2),
p AS (SELECT a.event_type,
             (b.y - a.y) / date_diff('day', a.day, b.day) AS s
      FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM d GROUP BY 1),
m AS (SELECT event_type, round(quantile_cont(s, 0.5), 6) AS slope_per_day
      FROM p GROUP BY 1)
SELECT n.event_type, n.n_days, m.slope_per_day
FROM n JOIN m USING (event_type)
""",
)


# PSI distribution drift and score calibration (reliability diagram).

# --- PSI drift --------------------------------------------------------------

_PSI_SPLIT = "2024-01-16"
_PSI_LO, _PSI_HI, _PSI_BINS = 0.0, 500.0, 10


def _q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    ref = ev.filter(F.to_date("ts") < F.lit(_PSI_SPLIT))
    cur = ev.filter(F.to_date("ts") >= F.lit(_PSI_SPLIT))
    return timeseries.psi_drift(
        ref, cur, lo=_PSI_LO, hi=_PSI_HI, n_bins=_PSI_BINS
    )


_PSI_W = (_PSI_HI - _PSI_LO) / _PSI_BINS
_PSI_K = _PSI_BINS + 2
_register(
    "psi_value_drift",
    _q_psi,
    f"""
WITH b AS (
  SELECT CASE WHEN value < {_PSI_LO} THEN 0
              WHEN value >= {_PSI_HI} THEN {_PSI_BINS + 1}
              ELSE CAST(floor((value - {_PSI_LO}) / {_PSI_W}) AS INT) + 1
         END AS bucket,
         CASE WHEN CAST(ts AS DATE) < DATE '{_PSI_SPLIT}' THEN 1 ELSE 0 END AS is_ref
  FROM events),
g AS (SELECT bucket,
             CAST(sum(is_ref) AS BIGINT) AS n_ref,
             CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
      FROM b GROUP BY 1),
t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS Nr,
             CAST(sum(n_cur) AS DOUBLE) AS Nc FROM g)
SELECT bucket, n_ref, n_cur,
       round((n_ref + 0.5) / (Nr + 0.5 * {_PSI_K}), 6) AS p_ref,
       round((n_cur + 0.5) / (Nc + 0.5 * {_PSI_K}), 6) AS p_cur,
       round(((n_cur + 0.5) / (Nc + 0.5 * {_PSI_K})
              - (n_ref + 0.5) / (Nr + 0.5 * {_PSI_K}))
             * ln(((n_cur + 0.5) / (Nc + 0.5 * {_PSI_K}))
                  / ((n_ref + 0.5) / (Nr + 0.5 * {_PSI_K}))), 6) AS psi_contrib
FROM g, t
""",
)


# CUSUM changepoint detection on daily event series and leave-one-source-out
# corpus influence (data valuation).

_K = 0.5
_H = 4.0


def _q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return timeseries.cusum_changepoints(ev, drift_k=_K, alarm_h=_H)


_register(
    "cusum_changepoints",
    _q_cusum,
    f"""
WITH d AS (
  SELECT event_type AS t, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
st AS (
  SELECT t, CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS sq,
         CAST(count(*) AS BIGINT) AS c
  FROM d GROUP BY 1),
z AS (
  SELECT d.t, d.day,
         (CAST(d.n AS DOUBLE) - CAST(st.s AS DOUBLE) / st.c)
           / sqrt(greatest(CAST(st.sq AS DOUBLE) / st.c
                           - (CAST(st.s AS DOUBLE) / st.c)
                             * (CAST(st.s AS DOUBLE) / st.c), 0.0)) AS zv,
         sqrt(greatest(CAST(st.sq AS DOUBLE) / st.c
                       - (CAST(st.s AS DOUBLE) / st.c)
                         * (CAST(st.s AS DOUBLE) / st.c), 0.0)) AS sd
  FROM d JOIN st ON d.t = st.t),
r AS (
  SELECT t, day,
         sum(zv - {_K}) OVER (PARTITION BY t ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rp,
         sum(-zv - {_K}) OVER (PARTITION BY t ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn
  FROM z WHERE sd > 0),
s AS (
  SELECT t, day,
         rp - least(min(rp) OVER (PARTITION BY t ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sp,
         rn - least(min(rn) OVER (PARTITION BY t ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sn
  FROM r)
SELECT t AS event_type, CAST(count(*) AS BIGINT) AS n_days,
       round(max(sp), 6) AS max_cusum_pos,
       round(max(sn), 6) AS max_cusum_neg,
       CAST(sum(CASE WHEN sp > {_H} OR sn > {_H} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarm_days,
       strftime(min(CASE WHEN sp > {_H} OR sn > {_H} THEN day END),
                '%Y-%m-%d') AS first_alarm_day
FROM s GROUP BY 1
""",
)


# Daily-count autocorrelation (periodicity detection) and l-diversity
# violations (companion to k-anonymity).

_MAXLAG = 14


def _q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return timeseries.daily_autocorrelation(ev, max_lag=_MAXLAG)


# float arithmetic mirrored term-for-term with the operator: every
# distributed sum is an exact bigint; m appears only in scalar products
_M = "(CAST(s AS DOUBLE) / c)"

_register(
    "daily_autocorrelation",
    _q_acf,
    f"""
WITH d AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1),
mn AS (SELECT min(day) AS d0 FROM d),
i AS (
  SELECT CAST(datediff('day', d0, day) AS BIGINT) AS di, x FROM d, mn),
g AS (
  SELECT CAST(sum(x) AS BIGINT) s, CAST(sum(x * x) AS BIGINT) sq,
         CAST(count(*) AS BIGINT) c
  FROM i),
l AS (SELECT CAST(range AS BIGINT) AS lg FROM range(1, {_MAXLAG + 1})),
p AS (
  SELECT l.lg, a.x AS x1, b.x AS x2
  FROM i a CROSS JOIN l JOIN i b ON b.di = a.di + l.lg),
pl AS (
  SELECT lg, CAST(count(*) AS BIGINT) n_pairs,
         CAST(sum(x1 * x2) AS BIGINT) sxy,
         CAST(sum(x1) AS BIGINT) sx, CAST(sum(x2) AS BIGINT) sy
  FROM p GROUP BY 1)
SELECT lg AS lag, n_pairs,
       round((CAST(sxy AS DOUBLE) - {_M} * CAST(sx AS DOUBLE)
              - {_M} * CAST(sy AS DOUBLE) + n_pairs * {_M} * {_M})
             / (CAST(sq AS DOUBLE) - c * {_M} * {_M}), 6) AS acf
FROM pl, g
WHERE n_pairs >= 2 AND (CAST(sq AS DOUBLE) - c * {_M} * {_M}) > 0
""",
)


def _q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return timeseries.series_correlation_matrix(ev)


_register(
    "series_correlation_matrix",
    _q_corr,
    """
WITH d AS (
  SELECT event_type AS t, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
p AS (
  SELECT a.t ta, b.t tb, a.n x, b.n y
  FROM d a JOIN d b ON a.day = b.day AND a.t < b.t),
g AS (
  SELECT ta, tb, CAST(count(*) AS BIGINT) c,
         CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
         CAST(sum(x * x) AS BIGINT) sxx, CAST(sum(y * y) AS BIGINT) syy,
         CAST(sum(x * y) AS BIGINT) sxy
  FROM p GROUP BY 1, 2)
SELECT ta AS type_a, tb AS type_b, c AS n_days,
       round((CAST(c AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(c AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(c AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
FROM g
WHERE c >= 2
  AND (CAST(c AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
  AND (CAST(c AS DOUBLE) * CAST(syy AS DOUBLE)
       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
""",
)


# Holt double-exponential forecast (sequential struct fold, mirrored by DuckDB
# list_reduce) and the A/B sample-ratio- mismatch check.

_A = 0.3
_B = 0.1
_HORIZON = 7
# literals below are the SAME Python doubles the Spark operator embeds —
# repr() round-trips them exactly, so both engines fold identical IEEE ops
_OMA = 1.0 - _A
_OMB = 1.0 - _B


def _q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return timeseries.holt_forecast(ev, alpha=_A, beta=_B, horizon=_HORIZON)


# The oracle mirrors the fold with a RECURSIVE CTE, not list_reduce:
# DuckDB 1.0.0's list_reduce evaluates struct fields against an
# accumulator it mutates IN PLACE from the second application onward
# (later fields read already-updated earlier fields; the first
# application is atomic) — no field ordering is correct under both
# behaviors.  The recursion is scalar SQL per step, standard semantics.
# Float literals are CAST AS DOUBLE (bare decimals type as DECIMAL and
# would change the arithmetic); the literals repr() the SAME Python
# doubles the Spark operator embeds, so both engines fold identical
# IEEE ops.
_L2 = (
    f"CAST({_A!r} AS DOUBLE) * d.x "
    f"+ CAST({_OMA!r} AS DOUBLE) * (r.l + r.b)"
)

_register(
    "holt_forecast",
    _q_holt,
    f"""
WITH RECURSIVE dd AS (
  SELECT event_type AS t, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
d AS (
  SELECT t, CAST(n AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY t ORDER BY day) AS idx
  FROM dd),
nn AS (SELECT t, max(idx) AS nmax FROM d GROUP BY 1),
rec AS (
  SELECT d1.t, CAST(2 AS BIGINT) AS i, d1.x AS l, d2.x - d1.x AS b,
         CAST(0.0 AS DOUBLE) AS ae, CAST(0.0 AS DOUBLE) AS k
  FROM d d1 JOIN d d2 ON d1.t = d2.t AND d1.idx = 1 AND d2.idx = 2
  UNION ALL
  SELECT r.t, r.i + 1,
         {_L2},
         CAST({_B!r} AS DOUBLE) * (({_L2}) - r.l)
           + CAST({_OMB!r} AS DOUBLE) * r.b,
         r.ae + abs(d.x - (r.l + r.b)),
         r.k + CAST(1.0 AS DOUBLE)
  FROM rec r JOIN d ON d.t = r.t AND d.idx = r.i + 1)
SELECT r.t AS event_type, CAST(nn.nmax AS BIGINT) AS n_days,
       round(r.l, 6) AS level, round(r.b, 6) AS trend,
       round(r.l + CAST({float(_HORIZON)!r} AS DOUBLE) * r.b, 6) AS forecast_h,
       round(CASE WHEN r.k > 0 THEN r.ae / r.k END, 6) AS mae
FROM rec r JOIN nn ON r.t = nn.t AND r.i = nn.nmax
WHERE nn.nmax >= 2
""",
)


# Multi-window SLO burn-rate alerting and user hour-of-day divergence (bot
# screen).

_BUDGET = 0.21  # breaches non-trivially at BOTH checked SFs
_LONG_H = 6


def _q_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.slo_burn_rate(
        td.load_table(spark, sf_dir, "events"),
        slo_budget=_BUDGET, long_window_hours=_LONG_H,
    )


_register(
    "slo_burn_rate",
    _q_burn,
    f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) e
  FROM events GROUP BY 1),
r AS (
  SELECT hr, n, e,
         CAST(sum(n) OVER w AS BIGINT) nl, CAST(sum(e) OVER w AS BIGINT) el
  FROM h WINDOW w AS (ORDER BY hr
    ROWS BETWEEN {_LONG_H - 1} PRECEDING AND CURRENT ROW))
SELECT strftime(hr, '%Y-%m-%d %H:00') AS hour, n AS n_events,
       round((CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) / {_BUDGET!r}, 6)
         AS burn_1h,
       round((CAST(el AS DOUBLE) / CAST(nl AS DOUBLE)) / {_BUDGET!r}, 6)
         AS burn_{_LONG_H}h
FROM r
WHERE (CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) / {_BUDGET!r} > 1.0
  AND (CAST(el AS DOUBLE) / CAST(nl AS DOUBLE)) / {_BUDGET!r} > 1.0
""",
)


# Holt forecast with conformal residual interval (oracle recovers per-step
# residuals from the recursion's cumulative |error| differences).

_Q = 0.9



def _q_hfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.holt_forecast_interval(
        td.load_table(spark, sf_dir, "events"),
        alpha=_A, beta=_B, horizon=_HORIZON, q=_Q,
    )


_register(
    "holt_forecast_interval",
    _q_hfi,
    f"""
WITH RECURSIVE dd AS (
  SELECT event_type AS t, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
d AS (
  SELECT t, CAST(n AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY t ORDER BY day) AS idx
  FROM dd),
nn AS (SELECT t, max(idx) AS nmax FROM d GROUP BY 1),
rec AS (
  SELECT d1.t, CAST(2 AS BIGINT) AS i, d1.x AS l, d2.x - d1.x AS b,
         CAST(NULL AS DOUBLE) AS res
  FROM d d1 JOIN d d2 ON d1.t = d2.t AND d1.idx = 1 AND d2.idx = 2
  UNION ALL
  SELECT r.t, r.i + 1,
         {_L2},
         CAST({_B!r} AS DOUBLE) * (({_L2}) - r.l)
           + CAST({_OMB!r} AS DOUBLE) * r.b,
         abs(d.x - (r.l + r.b))
  FROM rec r JOIN d ON d.t = r.t AND d.idx = r.i + 1),
resid AS (SELECT t, res FROM rec WHERE res IS NOT NULL),
rq AS (SELECT t, quantile_cont(res, {_Q!r}) AS rq FROM resid GROUP BY 1),
fin AS (
  SELECT r.t, nn.nmax, r.l + CAST({float(_HORIZON)!r} AS DOUBLE) * r.b AS fc
  FROM rec r JOIN nn ON r.t = nn.t AND r.i = nn.nmax
  WHERE nn.nmax >= 3)
SELECT fin.t AS event_type, CAST(fin.nmax AS BIGINT) AS n_days,
       round(fc, 6) AS forecast_h, round(rq, 6) AS resid_q,
       round(fc - rq, 6) AS lo, round(fc + rq, 6) AS hi
FROM fin JOIN rq ON fin.t = rq.t
""",
)


# --- classical additive decomposition of daily order revenue ---------------------


def _q_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = td.load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
    return timeseries.classical_decompose_daily(daily)


_register(
    "classical_decompose_daily",
    _q_decompose,
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, round(sum(o_totalprice), 2) AS total
  FROM orders GROUP BY 1),
d AS (SELECT day, CAST(total AS DOUBLE) AS val, dayofweek(day) AS dow
      FROM daily),
t AS (SELECT day, val, dow,
             round(avg(val) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS trend
      FROM d),
dt AS (SELECT *, round(val - trend, 6) AS detr FROM t),
prof AS (SELECT dow, round(avg(detr), 6) AS seasonal FROM dt GROUP BY 1)
SELECT strftime(dt.day, '%Y-%m-%d') AS day, val AS value, trend,
       prof.seasonal AS seasonal,
       round(val - trend - prof.seasonal, 6) AS residual
FROM dt JOIN prof USING (dow)
""",
)


# --- split-conformal interval coverage --------------------------------------------

_CF_ALPHA = 0.1


def _q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = td.load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
    return timeseries.conformal_interval_coverage(daily, alpha=_CF_ALPHA)


_register(
    "conformal_interval_coverage",
    _q_conformal,
    f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, round(sum(o_totalprice), 2) AS total
  FROM orders GROUP BY 1),
d AS (SELECT day, CAST(total AS DOUBLE) AS val, dayofweek(day) AS dow,
             row_number() OVER (ORDER BY day) AS rn,
             count(*) OVER () AS n
      FROM daily),
p AS (SELECT *, CAST(floor(0.6 * n) AS BIGINT) AS n_train,
             CAST(floor(0.2 * n) AS BIGINT) AS n_cal
      FROM d),
train AS (SELECT * FROM p WHERE rn <= n_train),
cal AS (SELECT * FROM p WHERE rn > n_train AND rn <= n_train + n_cal),
test AS (SELECT * FROM p WHERE rn > n_train + n_cal),
prof AS (SELECT dow, round(avg(val), 6) AS pred FROM train GROUP BY 1),
g AS (SELECT round(avg(val), 6) AS gpred FROM train),
calr AS (SELECT c.day, round(abs(c.val - coalesce(prof.pred, g.gpred)), 6) AS r
         FROM cal c LEFT JOIN prof USING (dow) CROSS JOIN g),
krow AS (SELECT least(CAST(ceil((count(*) + 1) * {1.0 - _CF_ALPHA})
                      AS BIGINT), count(*)) AS k,
                CAST(count(*) AS BIGINT) AS n_cal_rows
         FROM calr),
cr AS (SELECT r, row_number() OVER (ORDER BY r ASC, day ASC) AS rk FROM calr),
qh AS (SELECT cr.r AS q_hat, krow.n_cal_rows FROM cr, krow WHERE cr.rk = krow.k),
testr AS (SELECT round(abs(t.val - coalesce(prof.pred, g.gpred)), 6) AS r
          FROM test t LEFT JOIN prof USING (dow) CROSS JOIN g),
ntr AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM train)
SELECT ntr.n_train, qh.n_cal_rows AS n_cal,
       CAST(count(*) AS BIGINT) AS n_test, qh.q_hat,
       CAST({1.0 - _CF_ALPHA} AS DOUBLE) AS target_coverage,
       round(avg(CASE WHEN testr.r <= qh.q_hat THEN 1.0 ELSE 0.0 END), 6)
         AS coverage
FROM testr, qh, ntr
GROUP BY ntr.n_train, qh.n_cal_rows, qh.q_hat
""",
)


# --- competing risks: first purchase vs first error --------------------------------


def _q_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("entry"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("fp"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("fe"),
    )
    etype = (
        F.when(
            F.col("fp").isNotNull()
            & (F.col("fe").isNull() | (F.col("fp") <= F.col("fe"))),
            F.lit("purchase"),
        )
        .when(F.col("fe").isNotNull(), F.lit("error"))
        .otherwise(F.lit("censored"))
    )
    end = F.coalesce(F.least("fp", "fe"), F.col("last_ts"))
    durations = per_user.select(
        F.datediff(end, F.col("entry")).cast("long").alias("dur"),
        etype.alias("etype"),
    )
    return timeseries.competing_risks_cif(
        durations, event_a="purchase", event_b="error"
    ).withColumnRenamed("d_a", "d_purchase").withColumnRenamed(
        "d_b", "d_error"
    ).withColumnRenamed("cif_a", "cif_purchase").withColumnRenamed(
        "cif_b", "cif_error"
    )


_register(
    "competing_risks_cif",
    _q_cif,
    """
WITH pu AS (
  SELECT user_id, min(ts) AS entry, max(ts) AS last_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp,
         min(CASE WHEN event_type = 'error' THEN ts END) AS fe
  FROM events GROUP BY 1),
durs AS (
  SELECT CAST(date_diff('day', entry,
              coalesce(least(fp, fe), last_ts)) AS BIGINT) AS dur,
         CASE WHEN fp IS NOT NULL AND (fe IS NULL OR fp <= fe)
              THEN 'purchase'
              WHEN fe IS NOT NULL THEN 'error'
              ELSE 'censored' END AS et
  FROM pu),
grid AS (SELECT dur, CAST(count(*) AS BIGINT) AS m,
                CAST(sum(CASE WHEN et = 'purchase' THEN 1 ELSE 0 END)
                     AS BIGINT) AS d_a,
                CAST(sum(CASE WHEN et = 'error' THEN 1 ELSE 0 END)
                     AS BIGINT) AS d_b
         FROM durs GROUP BY 1),
tot AS (SELECT sum(m) AS n_total FROM grid),
g1 AS (SELECT grid.*, n_total
              - coalesce(sum(m) OVER (ORDER BY dur
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS n_risk
       FROM grid, tot),
g2 AS (SELECT *,
              CAST(round(ln(greatest(CAST(1e-9 AS DOUBLE),
                   CAST(1.0 AS DOUBLE) - CAST(d_a + d_b AS DOUBLE) / n_risk)),
                   9) AS DECIMAL(30,10)) AS lnterm
       FROM g1),
g3 AS (SELECT *,
              exp(CAST(coalesce(sum(lnterm) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  CAST(0 AS DECIMAL(30,10))) AS DOUBLE)) AS surv_prev
       FROM g2),
g4 AS (SELECT *,
              CAST(round(surv_prev * d_a / n_risk, 9) AS DECIMAL(30,10))
                AS cif_a_t,
              CAST(round(surv_prev * d_b / n_risk, 9) AS DECIMAL(30,10))
                AS cif_b_t
       FROM g3)
SELECT dur, CAST(n_risk AS BIGINT) AS n_risk,
       d_a AS d_purchase, d_b AS d_error,
       round(exp(CAST(sum(lnterm) OVER (ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)),
             6) AS surv,
       round(CAST(sum(cif_a_t) OVER (ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
         AS cif_purchase,
       round(CAST(sum(cif_b_t) OVER (ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
         AS cif_error
FROM g4 WHERE d_a > 0 OR d_b > 0
""",
)


# The per-day CUSUM trajectory over a planted regime change, and the k-NN
# hubness histogram.
#
# Reference anchor: the reference's daily runs silently absorb feed-volume
# regime changes (src/etl/rss_feed_etl.py scheduling);
# ``cusum_changepoints`` reports the per-series alarm SUMMARY —
# ``cusum_shift_trajectory`` emits the day-by-day detector path around a PLANTED shift (the view
# that shows detection latency), and hubness is the embedding-space
# pathology audit for every retrieval/dedup consumer of the ANN family.
#
# CUSUM plant: event volume DOUBLES from 2024-01-21 (a union of the tail
# with itself, applied identically on both engines) so the trajectory has
# a real changepoint to trace in the 30-day window.

_CUSUM_SHIFT_TS = "2024-01-21 00:00:00"
_CUSUM_K = 0.5
_CUSUM_H = 4.0


def _q_cusum_traj(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events").select("ts", "event_type")
    staged = ev.unionByName(
        ev.filter(F.col("ts") >= F.to_timestamp(F.lit(_CUSUM_SHIFT_TS)))
    )
    return timeseries.cusum_trajectory(
        staged, drift_k=_CUSUM_K, alarm_h=_CUSUM_H
    )


_register(
    "cusum_shift_trajectory",
    _q_cusum_traj,
    f"""
WITH staged AS (
  SELECT ts, event_type FROM events
  UNION ALL
  SELECT ts, event_type FROM events
  WHERE ts >= TIMESTAMP '{_CUSUM_SHIFT_TS}'),
d AS (SELECT event_type AS t, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM staged GROUP BY 1, 2),
st AS (SELECT t, CAST(sum(n) AS BIGINT) AS s,
              CAST(sum(n * n) AS BIGINT) AS sq,
              CAST(count(*) AS BIGINT) AS c
       FROM d GROUP BY 1),
z AS (SELECT d.t, d.day, d.n,
             (CAST(d.n AS DOUBLE) - CAST(st.s AS DOUBLE) / st.c)
               / sqrt(greatest(CAST(st.sq AS DOUBLE) / st.c
                               - (CAST(st.s AS DOUBLE) / st.c)
                                 * (CAST(st.s AS DOUBLE) / st.c), 0.0)) AS zv,
             sqrt(greatest(CAST(st.sq AS DOUBLE) / st.c
                           - (CAST(st.s AS DOUBLE) / st.c)
                             * (CAST(st.s AS DOUBLE) / st.c), 0.0)) AS sd
      FROM d JOIN st ON d.t = st.t),
r AS (SELECT t, day, n, zv,
             sum(zv - {_CUSUM_K}) OVER (PARTITION BY t ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rp,
             sum(-zv - {_CUSUM_K}) OVER (PARTITION BY t ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn
      FROM z WHERE sd > 0),
s AS (SELECT t, day, n, zv,
             rp - least(min(rp) OVER (PARTITION BY t ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sp,
             rn - least(min(rn) OVER (PARTITION BY t ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sn
      FROM r)
SELECT t AS event_type, strftime(day, '%Y-%m-%d') AS day, n,
       round(zv, 6) AS z,
       round(sp, 6) AS cusum_pos, round(sn, 6) AS cusum_neg,
       (sp > {_CUSUM_H} OR sn > {_CUSUM_H}) AS alarm
FROM s
""",
)


# Ljung-Box whiteness statistic and the Hill tail-index estimator.
#
# Reference anchor: the reference's monitoring is a lookback-window
# re-scan with no notion of structure (run_job_filter.py date windows);
# Ljung-Box turns the registered ACF into the one thresholdable whiteness
# number, and the Hill estimator completes the frequency-law pair started
# by ``zipf_fit`` (OLS over the whole curve) with the MLE read of the
# top-k tail — the number that says whether dedup/mixing heavy-hitter
# guards are sized against a genuinely heavy tail.

_LB_MAXLAG = 14


def _q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return timeseries.ljung_box_q(ev, max_lag=_LB_MAXLAG)


# Q cumulates the REGISTERED acf oracle's rounded r_j (identical doubles
# on both engines), with per-lag terms rounded to 9 dp and DECIMAL-summed.
_register(
    "ljung_box_whiteness",
    _q_ljung_box,
    f"""
WITH acf AS (SELECT * FROM ({ORACLES["daily_autocorrelation"]}) t),
nd AS (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days
       FROM events),
staged AS (
  SELECT lag, n_days, acf,
         round((acf * acf) / CAST(n_days - lag AS DOUBLE), 9) AS term
  FROM acf CROSS JOIN nd)
SELECT lag, n_days, acf,
       round(CAST(n_days AS DOUBLE) * (n_days + 2)
             * CAST(sum(CAST(term AS DECIMAL(30,10))) OVER (
                 ORDER BY lag ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE), 6) AS q_stat
FROM staged
""",
)

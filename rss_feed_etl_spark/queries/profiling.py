"""Data-profiling and statistical-test queries over ``operators/profiling.py``:
skew, data-quality assertions, privacy checks, outliers, A/B tests,
calibration and fairness reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import _register
from ..operators import profiling, textstats
from .corpus import _NTOK, _code


# Join-key skew profiling, a one-pass data-quality assertion report, ordered
# CDC apply, and a hashing-trick quality scorer.

# --- key skew report --------------------------------------------------------


def _q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.key_skew_report(
        td.load_table(spark, sf_dir, "lineitem"), key_col="l_suppkey"
    )


_register(
    "key_skew_report",
    _q_key_skew,
    """
WITH c AS (SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
s AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(c) AS BIGINT) AS max_per_key,
         round(avg(c), 6) AS avg_per_key,
         round(quantile_cont(c, 0.5), 9) AS p50_per_key,
         round(quantile_cont(c, 0.99), 9) AS p99_per_key
  FROM c),
t AS (SELECT CAST(sum(c) AS BIGINT) AS top_rows
      FROM (SELECT c FROM c ORDER BY c DESC, k ASC LIMIT 10))
SELECT n_rows, n_keys, max_per_key, avg_per_key, p50_per_key, p99_per_key,
       round(top_rows / n_rows, 6) AS top10_share
FROM s, t
""",
)


# --- data-quality assertion report -----------------------------------------


def _q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.dq_assertion_report(td.load_table(spark, sf_dir, "lineitem"))


def _dq_sql() -> str:
    sums = ",\n  ".join(
        f"CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS v{i}"
        for i, (_, pred) in enumerate(profiling.LINEITEM_ASSERTIONS)
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS assertion, n_checked, v{i} AS n_violations,"
        f" round(v{i} / n_checked, 6) AS violation_rate FROM s"
        for i, (name, _) in enumerate(profiling.LINEITEM_ASSERTIONS)
    )
    return (
        f"WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n_checked,\n  {sums}\n"
        f"FROM lineitem)\n{arms}"
    )


_register("dq_assertion_report", _q_dq_report, _dq_sql())


# --- join cardinality estimate ----------------------------------------------

_JC_TOP = 5


def _q_join_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return profiling.join_cardinality_estimate(
        ev, ev, left_key="user_id", right_key="user_id", top=_JC_TOP
    )


_register(
    "join_cardinality_estimate",
    _q_join_card,
    f"""
WITH a AS (SELECT user_id AS k, count(*) AS ca FROM events GROUP BY 1),
m AS (SELECT k, CAST(ca * ca AS BIGINT) AS rows_out FROM a),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_matching_keys,
             CAST(sum(rows_out) AS BIGINT) AS est_rows,
             CAST(max(rows_out) AS BIGINT) AS max_key_rows
      FROM m),
tt AS (SELECT CAST(sum(rows_out) AS BIGINT) AS top_rows
       FROM (SELECT rows_out FROM m
             ORDER BY rows_out DESC, k ASC LIMIT {_JC_TOP}))
SELECT n_matching_keys, est_rows, max_key_rows,
       round(top_rows / CAST(est_rows AS DOUBLE), 6) AS top_share
FROM t, tt
""",
)


# Benford first-digit screening and sorted-neighborhood record-linkage
# blocking.

# --- Benford digit test -----------------------------------------------------


def _q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.benford_digit_test(
        td.load_table(spark, sf_dir, "orders"), value_col="o_totalprice"
    )


def _benford_sql() -> str:
    import math

    arms = " ".join(
        f"WHEN {d} THEN {math.log10(1 + 1 / d)!r}" for d in range(1, 10)
    )
    return f"""
WITH d AS (
  SELECT CAST(regexp_replace(CAST(abs(o_totalprice) AS VARCHAR),
                             '[^1-9]*([1-9]).*', '\\1') AS INT) AS digit
  FROM orders WHERE abs(o_totalprice) > 0),
g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
      FROM d WHERE digit IS NOT NULL GROUP BY 1),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM g)
SELECT digit, n,
       round(n / tot, 6) AS p_observed,
       round(CASE digit {arms} ELSE 0.0 END, 6) AS p_benford,
       round((n / tot - CASE digit {arms} ELSE 0.0 END)
             * (n / tot - CASE digit {arms} ELSE 0.0 END)
             / (CASE digit {arms} ELSE 0.0 END) * tot, 6) AS chi2_contrib
FROM g, t
"""


_register("benford_digit_test", _q_benford, _benford_sql())


# Star-join pre-flight advisor.

# (dim name, table, fact key, dim key, string cols, fixed bytes of the rest)
_DIMS = [
    ("orders", "l_orderkey", "o_orderkey",
     ["o_orderstatus", "o_orderpriority"], 8 + 8 + 8 + 8),
    ("part", "l_partkey", "p_partkey",
     ["p_name", "p_brand", "p_type"], 8 + 4 + 8),
    ("supplier", "l_suppkey", "s_suppkey",
     ["s_name"], 8 + 4 + 8),
]
_BC_MB = 10.0


def _q_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = td.load_table(spark, sf_dir, "lineitem")
    dims = {
        name: (td.load_table(spark, sf_dir, name), fk, dk)
        for name, fk, dk, _, _ in _DIMS
    }
    return profiling.star_join_advisor(fact, dims, broadcast_threshold_mb=_BC_MB)


def _advisor_sql() -> str:
    arms = []
    for name, fk, dk, scols, fixed in _DIMS:
        width = " + ".join(
            [str(fixed)] + [f"coalesce(length({c}), 0)" for c in scols]
        )
        arms.append(f"""
SELECT '{name}' AS dim,
       (SELECT CAST(count(*) AS BIGINT) FROM {name}) AS n_rows,
       (SELECT round(avg({width}), 2) FROM {name}) AS est_row_bytes,
       round((SELECT count(*) FROM {name})
             * (SELECT round(avg({width}), 2) FROM {name}) / 1048576.0, 4)
         AS est_total_mb,
       CAST((SELECT count(*) FROM {name})
            * (SELECT round(avg({width}), 2) FROM {name})
            <= {_BC_MB} * 1048576.0 AS INT) AS broadcastable,
       round((SELECT CAST(count(*) AS DOUBLE) FROM lineitem
              WHERE {fk} IN (SELECT {dk} FROM {name}))
             / (SELECT count(*) FROM lineitem), 6) AS fk_match_rate
""")
    return " UNION ALL ".join(arms)


_register("star_join_advisor", _q_advisor, _advisor_sql())


_KA_K = 5


def _q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hour_of_day"),
        F.floor(F.col("value") / 50).cast("bigint").alias("value_band"),
    )
    return profiling.k_anonymity_violations(
        ev, ["event_type", "hour_of_day", "value_band"], k=_KA_K
    )


_register(
    "k_anonymity_violations",
    _q_k_anonymity,
    f"""
SELECT event_type,
       CAST(hour(ts) AS INT) AS hour_of_day,
       CAST(floor(value / 50) AS BIGINT) AS value_band,
       CAST(count(*) AS BIGINT) AS group_size
FROM events
GROUP BY 1, 2, 3
HAVING count(*) < {_KA_K}
""",
)


def _q_loso(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return profiling.loso_source_influence(
        docs, textstats.token_count(F.col("text"))
    )


_register(
    "loso_source_influence",
    _q_loso,
    r"""
WITH per AS (
  SELECT source,
         CAST(sum(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM per)
SELECT per.source, per.n AS n_docs,
       round(CAST(tot.ts AS DOUBLE) / tot.tn, 6) AS mean_overall,
       round(CASE WHEN tot.tn > per.n
                  THEN CAST(tot.ts - per.s AS DOUBLE) / (tot.tn - per.n) END, 6)
         AS mean_without,
       round(CASE WHEN tot.tn > per.n
                  THEN CAST(tot.ts - per.s AS DOUBLE) / (tot.tn - per.n) END
             - CAST(tot.ts AS DOUBLE) / tot.tn, 6) AS influence
FROM per CROSS JOIN tot
""",
)


_L = 3


def _q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("int").alias("hour_of_day"),
        F.floor(F.col("value") / 50).cast("bigint").alias("value_band"),
    )
    return profiling.l_diversity_violations(
        ev, ["event_type", "day", "hour_of_day"], "value_band", l=_L
    )


_register(
    "l_diversity_violations",
    _q_l_diversity,
    f"""
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(hour(ts) AS INT) AS hour_of_day,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(count(DISTINCT floor(value / 50)) AS BIGINT) AS n_sensitive
FROM events
GROUP BY 1, 2, 3
HAVING count(DISTINCT floor(value / 50)) < {_L}
""",
)


# MAD-based robust outliers and the zlib compression-ratio quality signal
# (rows-only check — no zlib in DuckDB).

_CUT = 3.0


def _q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return profiling.mad_outliers(ev, cutoff=_CUT)


_register(
    "mad_outliers",
    _q_mad,
    f"""
WITH med AS (
  SELECT event_type AS g, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1),
d AS (
  SELECT e.event_id, e.event_type, e.value, abs(e.value - m.med) AS dev
  FROM events e JOIN med m ON e.event_type = m.g),
md AS (
  SELECT event_type AS g2, quantile_cont(dev, 0.5) AS mad
  FROM d GROUP BY 1)
SELECT d.event_id, d.event_type, d.value,
       round(dev / (1.4826 * mad), 6) AS robust_z
FROM d JOIN md ON d.event_type = md.g2
WHERE mad > 0 AND dev / (1.4826 * mad) > {_CUT}
""",
)


_CRIT = 3.841


def _q_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return profiling.srm_check(ev, critical=_CRIT)


_E = "CAST(n AS DOUBLE) / 2.0"
_CHI = (
    f"(CAST(arm0 AS DOUBLE) - {_E}) * (CAST(arm0 AS DOUBLE) - {_E}) / ({_E})"
    f" + (CAST(arm1 AS DOUBLE) - {_E}) * (CAST(arm1 AS DOUBLE) - {_E}) / ({_E})"
)

_register(
    "srm_check",
    _q_srm,
    f"""
WITH u AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS us FROM events),
a AS (SELECT ({_code('us')}) % 2 AS arm FROM u),
c AS (
  SELECT CAST(count(*) AS BIGINT) n,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) arm0,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) arm1
  FROM a)
SELECT n AS n_units, arm0, arm1,
       round({_CHI}, 6) AS chi2,
       CAST(CASE WHEN ({_CHI}) > {_CRIT} THEN 1 ELSE 0 END AS INT) AS srm_flag
FROM c
""",
)


# Tukey-fence boxplot profile per event type. (The stream-static enrichment
# sibling is pytest-verified — streaming sinks aren't oracle-expressible.)

_K = 1.5


def _q_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return profiling.tukey_fences(ev, k=_K)


_register(
    "tukey_fences",
    _q_tukey,
    f"""
WITH q AS (
  SELECT event_type AS g,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY 1),
fen AS (
  SELECT g, q1, q3,
         q1 - {float(_K)!r} * (q3 - q1) AS lo,
         q3 + {float(_K)!r} * (q3 - q1) AS hi
  FROM q),
j AS (
  SELECT e.event_type, e.value, f.q1, f.q3, f.lo, f.hi
  FROM events e JOIN fen f ON e.event_type = f.g)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(any_value(q1), 6) AS q1,
       round(any_value(q3), 6) AS q3,
       round(any_value(q3) - any_value(q1), 6) AS iqr,
       round(any_value(lo), 6) AS lo_fence,
       round(any_value(hi), 6) AS hi_fence,
       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       round(CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END)
                  + sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS outlier_rate
FROM j GROUP BY 1
""",
)


# Nelson–Aalen cumulative hazard, quantile treatment effects, and the
# chain-join order advisor.


def _q_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.quantile_treatment_effect(
        td.load_table(spark, sf_dir, "events")
    )


_QCOLS = []
for _q in ("25", "50", "75"):
    _frac = {"25": "0.25", "50": "0.5", "75": "0.75"}[_q]
    _q0 = f"quantile_cont(CASE WHEN arm = 0 THEN value END, {_frac})"
    _q1 = f"quantile_cont(CASE WHEN arm = 1 THEN value END, {_frac})"
    _QCOLS += [
        f"round({_q0}, 6) AS q{_q}_arm0",
        f"round({_q1}, 6) AS q{_q}_arm1",
        f"round({_q1} - {_q0}, 6) AS qte_{_q}",
    ]

_register(
    "quantile_treatment_effect",
    _q_qte,
    f"""
WITH t AS (
  SELECT ({_code('CAST(user_id AS VARCHAR)')}) % 2 AS arm, value FROM events)
SELECT {", ".join(_QCOLS)}
FROM t
""",
)


def _q_join_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = td.load_table(spark, sf_dir, "lineitem")
    od = td.load_table(spark, sf_dir, "orders")
    cu = td.load_table(spark, sf_dir, "customer")
    return profiling.join_order_advisor(
        li, od, cu,
        ab_keys=("l_orderkey", "o_orderkey"),
        bc_keys=("o_custkey", "c_custkey"),
        names=("lineitem", "orders", "customer"),
    )


_register(
    "join_order_advisor",
    _q_join_order,
    """
WITH ha AS (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1),
hba AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1),
hbc AS (SELECT o_custkey AS k, count(*) AS cb FROM orders GROUP BY 1),
hc AS (SELECT c_custkey AS k, count(*) AS cc FROM customer GROUP BY 1),
e1 AS (SELECT '(lineitem JOIN orders) JOIN customer' AS join_order,
              CAST(sum(ca * cb) AS BIGINT) AS nrows
       FROM ha JOIN hba USING (k)),
e2 AS (SELECT '(orders JOIN customer) JOIN lineitem' AS join_order,
              CAST(sum(cb * cc) AS BIGINT) AS nrows
       FROM hbc JOIN hc USING (k)),
u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
SELECT join_order, nrows AS intermediate_rows,
       CAST(CASE WHEN nrows = min(nrows) OVER () THEN 1 ELSE 0 END AS INT)
         AS recommended
FROM u
""",
)


# Exposure Gini concentration and discount elasticity (integer-sum OLS).


def _q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.exposure_gini(td.load_table(spark, sf_dir, "events"))


_register(
    "exposure_gini",
    _q_gini,
    """
WITH c AS (
  SELECT event_type AS t, json_extract_string(props, '$.k') AS item,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
r AS (
  SELECT t, c,
         CAST(row_number() OVER (PARTITION BY t ORDER BY c ASC, item ASC)
              AS BIGINT) AS i
  FROM c),
a AS (
  SELECT t, CAST(count(*) AS BIGINT) n, CAST(sum(c) AS BIGINT) s,
         CAST(sum(i * c) AS BIGINT) ic
  FROM r GROUP BY 1)
SELECT t AS event_type, n AS n_items, s AS n_events,
       round(2.0 * CAST(ic AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM a
""",
)


_MDES = (0.01, 0.02, 0.05, 0.10)
_Z = 1.96 + 0.8416
_2ZZ = 2.0 * _Z * _Z


def _q_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.ab_sample_size_table(
        td.load_table(spark, sf_dir, "events"), mdes=_MDES
    )


_P = "(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))"
_ROWS = " UNION ALL ".join(
    f"SELECT CAST({float(m)!r} AS DOUBLE) AS mde, round({_P}, 6) AS baseline_rate, "
    f"CAST(ceil(CAST({_2ZZ!r} AS DOUBLE) * {_P} * (1.0 - {_P}) "
    f"/ CAST({float(m) * float(m)!r} AS DOUBLE)) AS BIGINT) AS n_per_arm, "
    f"CAST(CASE WHEN 2 * CAST(ceil(CAST({_2ZZ!r} AS DOUBLE) * {_P} * (1.0 - {_P}) "
    f"/ CAST({float(m) * float(m)!r} AS DOUBLE)) AS BIGINT) <= n_users "
    f"THEN 1 ELSE 0 END AS INT) AS feasible_now FROM t"
    for m in _MDES
)

_register(
    "ab_sample_size_table",
    _q_power,
    f"""
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
t AS (
  SELECT CAST(count(*) AS BIGINT) n_users, CAST(sum(conv) AS BIGINT) n_conv
  FROM pu)
{_ROWS}
""",
)


# Per-user overdispersion audit and mergeable histogram percentile error
# bounds.


def _q_overdisp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.overdispersion_check(td.load_table(spark, sf_dir, "events"))


_M = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
_V = f"(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) - {_M} * {_M})"

_register(
    "overdispersion_check",
    _q_overdisp,
    f"""
WITH per AS (
  SELECT event_type AS t, user_id AS u, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
a AS (
  SELECT t, CAST(count(*) AS BIGINT) n, CAST(sum(c) AS BIGINT) s,
         CAST(sum(c * c) AS BIGINT) sq
  FROM per GROUP BY 1)
SELECT t AS event_type, n AS n_users,
       round({_M}, 6) AS mean_per_user,
       round({_V} / {_M}, 6) AS dispersion,
       round(CASE WHEN {_V} > {_M}
                  THEN {_M} * {_M} / ({_V} - {_M}) END, 6) AS nb_r_hat
FROM a WHERE s > 0
""",
)


def _q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.spearman_rank_corr(td.load_table(spark, sf_dir, "events"))


_RANK = (
    "SELECT v, CAST(2 * (sum(cnt) OVER (ORDER BY v "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) + cnt + 1 "
    "AS BIGINT) AS {out} FROM {grid}"
)

_register(
    "spearman_rank_corr",
    _q_spearman,
    f"""
WITH per AS (
  SELECT user_id AS u, CAST(count(*) AS BIGINT) c,
         CAST(round(sum(CAST(value AS DECIMAL(30,10))), 0) AS BIGINT) d
  FROM events GROUP BY 1),
gx AS (SELECT c AS v, CAST(count(*) AS BIGINT) cnt FROM per GROUP BY 1),
gy AS (SELECT d AS v, CAST(count(*) AS BIGINT) cnt FROM per GROUP BY 1),
rx AS ({_RANK.format(out='rx', grid='gx')}),
ry AS ({_RANK.format(out='ry', grid='gy')}),
j AS (
  SELECT rx.rx, ry.ry FROM per
  JOIN rx ON per.c = rx.v JOIN ry ON per.d = ry.v),
a AS (
  SELECT CAST(count(*) AS BIGINT) n,
         CAST(sum(rx) AS BIGINT) sx, CAST(sum(ry) AS BIGINT) sy,
         CAST(sum(rx * rx) AS BIGINT) sxx, CAST(sum(ry * ry) AS BIGINT) syy,
         CAST(sum(rx * ry) AS BIGINT) sxy
  FROM j)
SELECT n AS n_units,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
FROM a
""",
)


# Digit forensics (the IVM join-view sibling is pytest-verified — sinks aren't
# oracle-expressible).


def _q_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.digit_forensics(td.load_table(spark, sf_dir, "events"))


_DIGIT_E = "(CAST(n AS DOUBLE) / 10.0)"
_DIGIT_CHI = " + ".join(
    f"(CAST(d{d} AS DOUBLE) - {_DIGIT_E}) * (CAST(d{d} AS DOUBLE) - {_DIGIT_E}) / {_DIGIT_E}"
    for d in range(10)
)
_DS = ", ".join(
    f"CAST(sum(CASE WHEN (CAST(round(value * 100, 0) AS BIGINT) % 10 + 10) % 10"
    f" = {d} THEN 1 ELSE 0 END) AS BIGINT) AS d{d}"
    for d in range(10)
)

_register(
    "digit_forensics",
    _q_digits,
    f"""
WITH a AS (
  SELECT event_type AS g, CAST(count(*) AS BIGINT) n, {_DS}
  FROM events GROUP BY 1)
SELECT g AS event_type, n,
       round({_DIGIT_CHI}, 6) AS chi2_last_digit,
       CAST(CASE WHEN ({_DIGIT_CHI}) <= 16.919 THEN 1 ELSE 0 END AS INT)
         AS uniform_ok,
       round(CAST(d9 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_9_ending
FROM a
""",
)


def _q_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.table_checksums(
        td.load_table(spark, sf_dir, "events"),
        td.load_table(spark, sf_dir, "documents"),
        td.load_table(spark, sf_dir, "lineitem"),
    )


def _hx(x: str) -> str:
    # md5-prefix -> bigint (same fold as functions.hashing.md5_bucket)
    return (
        f"list_reduce(list_transform(string_split(substr(md5({x}),1,15), ''), "
        f"c -> position(c IN '0123456789abcdef')-1), (a,b) -> a*16+b)"
    )


_register(
    "table_checksums",
    _q_checksums,
    f"""
SELECT 'events' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor({_hx("concat_ws('|', CAST(event_id AS VARCHAR), "
                         "CAST(user_id AS VARCHAR), event_type, "
                         "strftime(ts, '%Y-%m-%d %H:%M:%S'), "
                         "CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR))")})
            AS BIGINT) AS xor_checksum
FROM events
UNION ALL
SELECT 'documents', CAST(count(*) AS BIGINT),
       CAST(bit_xor({_hx("concat_ws('|', CAST(doc_id AS VARCHAR), lang, "
                         "source, CAST(n_chars AS VARCHAR), md5(text))")})
            AS BIGINT)
FROM documents
UNION ALL
SELECT 'lineitem', CAST(count(*) AS BIGINT),
       CAST(bit_xor({_hx("concat_ws('|', CAST(l_orderkey AS VARCHAR), "
                         "CAST(l_linenumber AS VARCHAR), "
                         "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), "
                         "CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR), "
                         "l_returnflag)")}) AS BIGINT)
FROM lineitem
""",
)


# Hill tail exponent of user activity and daily top-k persistence with streaks.

_TQ = 0.9


def _q_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.hill_tail_exponent(
        td.load_table(spark, sf_dir, "events"), tail_q=_TQ
    )


_register(
    "hill_tail_exponent",
    _q_hill,
    f"""
WITH per AS (
  SELECT user_id AS u, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1),
xm AS (SELECT quantile_cont(c, {_TQ!r}) AS xm FROM per),
grid AS (
  SELECT c, CAST(count(*) AS BIGINT) nc, any_value(xm) AS xm
  FROM per, xm WHERE CAST(c AS DOUBLE) >= xm GROUP BY 1),
cum AS (
  SELECT CAST(sum(nc) OVER w AS BIGINT) ntail,
         sum(CAST(nc AS DOUBLE) * ln(CAST(c AS DOUBLE) / xm)) OVER w AS slog,
         xm, row_number() OVER (ORDER BY c DESC) AS rn
  FROM grid WINDOW w AS (ORDER BY c
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT ntail AS n_tail, round(xm, 6) AS x_min,
       round(CASE WHEN slog > 0
                  THEN CAST(ntail AS DOUBLE) / slog END, 6) AS alpha_hat
FROM cum WHERE rn = 1
""",
)


# Per-dimension embedding normalization stats (grid-exact, mergeable),
# character-class composition, and mixture repeat-factor planning — the
# feature-preprocessing model, the char-level junk gate, and the "how many
# epochs will each source repeat" budget table.

# --- per-dimension embedding stats --------------------------------------------


def _q_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.embedding_dim_stats(td.load_table(spark, sf_dir, "embeddings"))


_QS = ",\n         ".join(
    f"min(CASE WHEN cum >= CAST(ceil({p} * n) AS BIGINT) THEN code END) / 10000.0 AS {name}"
    for p, name in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"))
)

_register(
    "embedding_dim_stats",
    _q_dim_stats,
    f"""
WITH comp AS (
  SELECT i - 1 AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS code
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
counts AS (SELECT pos, code, count(*) AS c FROM comp GROUP BY 1, 2),
st AS (
  SELECT pos, sum(c) AS n, sum(code * c) AS s1, sum(code * code * c) AS s2q
  FROM counts GROUP BY 1),
cum AS (
  SELECT pos, code,
         sum(c) OVER (PARTITION BY pos ORDER BY code
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counts),
q AS (
  SELECT cum.pos,
         {_QS}
  FROM cum JOIN st USING (pos) GROUP BY 1),
m AS (
  SELECT pos, n,
         CAST(s1 AS DOUBLE) / n AS mc,
         CAST(s2q AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS vc
  FROM st)
SELECT CAST(m.pos AS INT) AS pos, CAST(n AS BIGINT) AS n,
       round(mc / 10000, 6) AS mean,
       CASE WHEN vc > 0 THEN round(sqrt(vc) / 10000, 6) ELSE 0.0 END AS std,
       p25, p50, p75
FROM m JOIN q USING (pos)
""",
)


# Right-to-erasure impact audit and per-cluster simplified silhouette.
#
# Reference anchor: the reference's merge framework deletes by anti-join
# (src/rss_feed_etl/core/merge.py removed-set); the erasure audit is the
# compliance-grade preflight of the same cascade, and the silhouette is
# the quality gate for every centroid consumer already in the registry
# (kmeans_clusters, IVF quantizers, diversity samplers).

# --- right-to-erasure blast radius ------------------------------------------------

_ERASE_MOD = 97


def _q_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.erasure_impact_audit(
        td.load_table(spark, sf_dir, "customer"),
        td.load_table(spark, sf_dir, "orders"),
        td.load_table(spark, sf_dir, "lineitem"),
        td.load_table(spark, sf_dir, "nation"),
        key_mod=_ERASE_MOD,
    )


_register(
    "erasure_impact_audit",
    _q_erasure,
    f"""
WITH erased AS (
  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % {_ERASE_MOD} = 0),
cg AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
       FROM erased JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
ok AS (SELECT o_orderkey, c_nationkey
       FROM orders JOIN erased ON o_custkey = c_custkey),
og AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders
       FROM ok JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
lg AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_lineitems,
              round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
                                  AS DECIMAL(30,10))) AS DOUBLE), 2)
                AS revenue_removed
       FROM lineitem JOIN ok ON l_orderkey = o_orderkey
       JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
SELECT cg.n_name, n_customers,
       CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
       CAST(coalesce(n_lineitems, 0) AS BIGINT) AS n_lineitems,
       coalesce(revenue_removed, 0.0) AS revenue_removed
FROM cg LEFT JOIN og USING (n_name) LEFT JOIN lg USING (n_name)
""",
)


# --- Brier decomposition -----------------------------------------------------------
# Deterministic forecast/outcome pair planted from the events stream:
# the score tracks value, the outcome adds event_id-keyed noise.


def _q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.round(
            F.least(
                F.lit(0.99), F.greatest(F.lit(0.01), F.col("value") / 100.0)
            ),
            6,
        ).alias("score"),
        (F.col("value") + (F.col("event_id") % 40) > 60).cast("int")
        .alias("label"),
    )
    return profiling.brier_decomposition(scored)


_register(
    "brier_decomposition",
    _q_brier,
    """
WITH scored AS (
  SELECT round(least(CAST(0.99 AS DOUBLE),
                     greatest(CAST(0.01 AS DOUBLE), value / 100.0)), 6) AS s,
         CASE WHEN value + (event_id % 40) > 60 THEN 1.0 ELSE 0.0 END AS y
  FROM events),
rows_ AS (SELECT CASE WHEN s >= 1.0 THEN 9
                      ELSE CAST(floor(s * 10) AS INT) END AS bin, s, y
          FROM scored),
bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
                round(avg(s), 9) AS sk, round(avg(y), 9) AS yk
         FROM rows_ GROUP BY 1),
base AS (SELECT CAST(count(*) AS BIGINT) AS n, round(avg(y), 9) AS ybar,
                round(CAST(sum(CAST(round((s - y) * (s - y), 9)
                                    AS DECIMAL(30,10))) AS DOUBLE)
                      / count(*), 6) AS brier
         FROM rows_),
parts AS (
  SELECT n, ybar, brier,
         CAST(round((nk / CAST(n AS DOUBLE)) * (sk - yk) * (sk - yk), 9)
              AS DECIMAL(30,10)) AS rel_t,
         CAST(round((nk / CAST(n AS DOUBLE)) * (yk - ybar) * (yk - ybar), 9)
              AS DECIMAL(30,10)) AS res_t
  FROM bins, base)
SELECT n, brier,
       round(CAST(sum(rel_t) AS DOUBLE), 6) AS reliability,
       round(CAST(sum(res_t) AS DOUBLE), 6) AS resolution,
       round(ybar * (1.0 - ybar), 6) AS uncertainty
FROM parts GROUP BY n, brier, ybar
""",
)


# Temperature-scaling calibration fit and length-matched eval/train pairing.
#
# Reference anchor: the reference trusts its LLM match scores raw
# (src/rss_feed_etl/llm/scorer.py); temperature scaling is the
# one-parameter fix for exactly that overconfidence, and length matching
# is the covariate control an honest before/after filter comparison runs.

# --- temperature scaling grid fit ---------------------------------------------------

_TS_GRID = (0.25, 0.35, 0.5, 0.7, 1.0, 1.4, 2.0, 2.8, 4.0)


def _q_temp_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    scored = ev.select(
        ((F.col("value") - 60.0) / 30.0).alias("logit"),
        (F.col("value") + (F.col("event_id") % 40) > 60).cast("int")
        .alias("label"),
    )
    return profiling.temperature_scaling_fit(scored, temperatures=_TS_GRID)


_TS_LIST = ", ".join(f"CAST({t} AS DOUBLE)" for t in _TS_GRID)

_register(
    "temperature_scaling_fit",
    _q_temp_fit,
    f"""
WITH rows_ AS (
  SELECT (value - 60.0) / 30.0 AS z,
         CASE WHEN value + (event_id % 40) > 60 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS y,
         unnest([{_TS_LIST}]) AS t
  FROM events),
pr AS (SELECT t, y,
              least(CAST(1.0 AS DOUBLE) - 1e-9,
                    greatest(CAST(1e-9 AS DOUBLE),
                             CAST(1.0 AS DOUBLE)
                             / (CAST(1.0 AS DOUBLE) + exp(-z / t)))) AS p
       FROM rows_),
g AS (SELECT t,
             round(CAST(sum(CAST(round(-(y * ln(p)
                                        + (CAST(1.0 AS DOUBLE) - y)
                                          * ln(CAST(1.0 AS DOUBLE) - p)), 9)
                                 AS DECIMAL(30,10))) AS DOUBLE)
                   / count(*), 6) AS nll
      FROM pr GROUP BY 1)
SELECT t AS temperature, nll,
       row_number() OVER (ORDER BY nll ASC, t ASC) = 1 AS is_best
FROM g
""",
)


# The Mann-Whitney rank-sum test and Aalen-Johansen competing-risks incidence.
#
# Reference anchor: the reference reports raw means per feed
# (src/etl/rss_feed_etl.py summary counts); the rank-sum test is the
# heavy-tail-safe comparison of two arms, and the CIF is the churn-vs-
# convert curve ``km_survival`` gets wrong whenever the two
# events compete.

# --- Mann-Whitney U over two event-type arms ---------------------------------------

_MW_A = "click"
_MW_B = "purchase"


def _q_mw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    staged = ev.select(
        F.col("event_type").alias("grp"), F.col("value").alias("v")
    )
    return profiling.mann_whitney_u(staged, group_a=_MW_A, group_b=_MW_B)


_register(
    "mann_whitney_u",
    _q_mw,
    f"""
WITH rows_ AS (SELECT event_type AS g, value AS v FROM events
               WHERE event_type IN ('{_MW_A}', '{_MW_B}')),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
                CAST(sum(CASE WHEN g = '{_MW_A}' THEN 1 ELSE 0 END)
                     AS BIGINT) AS ta
         FROM rows_ GROUP BY 1),
r AS (SELECT *, coalesce(sum(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM vals),
r2 AS (SELECT *, 2 * before + t + 1 AS mid2 FROM r),
agg AS (SELECT CAST(sum(ta) AS BIGINT) AS n_a,
               CAST(sum(t - ta) AS BIGINT) AS n_b,
               sum(CAST(ta * mid2 AS DECIMAL(38,0))) AS ra2,
               sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS tie3
        FROM r2)
SELECT n_a, n_b,
       round(CAST(ra2 AS DOUBLE) / 2.0 - n_a * (n_a + 1) / 2.0, 6) AS u_a,
       round((CAST(ra2 AS DOUBLE) / 2.0 - n_a * (n_a + 1) / 2.0
              - CAST(n_a AS DOUBLE) * n_b / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                    * (CAST(n_a + n_b + 1 AS DOUBLE)
                       - CAST(tie3 AS DOUBLE)
                         / CAST((n_a + n_b) * (n_a + n_b - 1)
                                AS DOUBLE))), 6) AS z
FROM agg
""",
)


# In-engine logistic regression (unrolled Newton/IRLS) and UCB1 bandit ranking.
#
# Reference anchor: the reference calls an external LLM for every score
# (src/rss_feed_etl/llm/scorer.py); the logistic fit is the in-engine
# baseline such calls should beat, and UCB1 is the budget allocator that
# decides which arm (source) earns the next expensive call.

# --- 1-D logistic fit ---------------------------------------------------------------

_LG_ITERS = 2


def _q_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    staged = ev.select(
        ((F.col("value") - 60.0) / 30.0).alias("x"),
        (F.col("value") + (F.col("event_id") % 40) > 60).cast("int")
        .alias("y"),
    )
    return profiling.logistic_1d_fit(staged, iters=_LG_ITERS)


def _lg_sql() -> str:
    clamp = (
        "least(CAST(1.0 AS DOUBLE) - 1e-9, greatest(CAST(1e-9 AS DOUBLE), "
        "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-({a} + {b} * x)))))"
    )
    dec = "CAST(sum(CAST(round({t}, 9) AS DECIMAL(38,10))) AS DOUBLE)"
    steps = []
    prev = "s0"
    for i in range(1, _LG_ITERS + 1):
        p = clamp.format(a="a", b="b")
        steps.append(
            f"""st{i} AS (
  SELECT {dec.format(t=f"y - {p}")} AS g0,
         {dec.format(t=f"(y - {p}) * x")} AS g1,
         {dec.format(t=f"{p} * (CAST(1.0 AS DOUBLE) - {p})")} AS h00,
         {dec.format(t=f"{p} * (CAST(1.0 AS DOUBLE) - {p}) * x")} AS h01,
         {dec.format(t=f"{p} * (CAST(1.0 AS DOUBLE) - {p}) * x * x")} AS h11,
         max(a) AS a, max(b) AS b
  FROM rows_, {prev}),
s{i} AS (
  SELECT round(a + (h11 * g0 - h01 * g1)
               / (h00 * h11 - h01 * h01), 9) AS a,
         round(b + (h00 * g1 - h01 * g0)
               / (h00 * h11 - h01 * h01), 9) AS b
  FROM st{i})"""
        )
        prev = f"s{i}"
    pf = clamp.format(a="a", b="b")
    nll = f"-(y * ln({pf}) + (CAST(1.0 AS DOUBLE) - y) * ln(CAST(1.0 AS DOUBLE) - {pf}))"
    return f"""
WITH rows_ AS (
  SELECT (value - 60.0) / 30.0 AS x,
         CASE WHEN value + (event_id % 40) > 60 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS y
  FROM events),
s0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b),
{", ".join(steps)}
SELECT CAST(count(*) AS BIGINT) AS n,
       round(max(a), 6) AS a, round(max(b), 6) AS b,
       round({dec.format(t=nll)} / count(*), 6) AS mean_nll
FROM rows_, {prev}
"""


_register("logistic_1d_fit", _q_logistic, _lg_sql())


# The risk-coverage curve and the Gini mean difference.
#
# Reference anchor: the reference serves every LLM match score
# unconditionally (src/rss_feed_etl/llm/scorer.py); the risk-coverage
# curve prices an abstention threshold for exactly those scores, and the
# GMD is the dispersion read ``value_outliers``-style σ rules get wrong
# on heavy tails.

# --- risk-coverage curve ------------------------------------------------------------
# Planted classifier from the brier_decomposition/temperature_scaling_fit family: confidence tracks
# value, correctness is the thresholded comparison with event-id noise.


def _q_risk_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    conf = F.round(
        F.least(F.lit(0.99), F.greatest(F.lit(0.01), F.col("value") / 100.0)),
        6,
    )
    label = F.col("value") + (F.col("event_id") % 40) > 60
    pred = F.col("value") > 50
    staged = ev.select(
        conf.alias("confidence"), (pred == label).alias("correct")
    )
    return profiling.risk_coverage_curve(staged)


_register(
    "risk_coverage_curve",
    _q_risk_cov,
    """
WITH staged AS (
  SELECT round(least(CAST(0.99 AS DOUBLE),
               greatest(CAST(0.01 AS DOUBLE), value / 100.0)), 6) AS conf,
         (value > 50) = (value + (event_id % 40) > 60) AS correct
  FROM events),
b AS (SELECT ntile(10) OVER (ORDER BY conf DESC, correct ASC) AS bucket,
             CASE WHEN correct THEN 0 ELSE 1 END AS err
      FROM staged),
g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(err) AS BIGINT) AS e
      FROM b GROUP BY 1)
SELECT round(bucket / CAST(10.0 AS DOUBLE), 6) AS coverage,
       CAST(sum(m) OVER w AS BIGINT) AS n_served,
       CAST(sum(e) OVER w AS BIGINT) AS n_errors,
       round(CAST(sum(e) OVER w AS DOUBLE) / sum(m) OVER w, 6)
         AS selective_risk
FROM g
WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
""",
)


# --- Gini mean difference per event type --------------------------------------------


def _q_gmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    staged = ev.select(
        F.col("event_type").alias("grp"), F.col("value").alias("v")
    )
    return profiling.gini_mean_difference(staged)


_register(
    "gini_mean_difference",
    _q_gmd,
    """
WITH vals AS (SELECT event_type AS g, value AS v,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2),
vg AS (SELECT *,
              coalesce(sum(c) OVER w, 0) AS cb,
              CAST(coalesce(sum(CAST(round(c * v, 6) AS DECIMAL(38,10)))
                   OVER w, CAST(0 AS DECIMAL(38,10))) AS DOUBLE) AS sb
       FROM vals
       WINDOW w AS (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
agg AS (
  SELECT g, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(round(c * v, 6) AS DECIMAL(38,10))) AS DOUBLE) AS vs,
         CAST(sum(CAST(round(c * (cb * v - sb), 6) AS DECIMAL(38,10)))
              AS DOUBLE) AS pairsum
  FROM vg GROUP BY 1)
SELECT g AS grp, n,
       round(vs / n, 6) AS mean,
       round(2.0 * pairsum / CAST(n * (n - 1) AS DOUBLE), 6) AS gmd,
       CASE WHEN vs / n > 0
            THEN round((2.0 * pairsum / CAST(n * (n - 1) AS DOUBLE))
                       / (vs / n), 6) END AS relative_gmd
FROM agg WHERE n > 1
""",
)


# --- per-source Wasserstein-1 length shift ------------------------------------------



def _q_w1_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return profiling.wasserstein_length_shift(docs, group_col="source")


_register(
    "wasserstein_length_shift",
    _q_w1_length,
    f"""
WITH t AS (SELECT source AS g, {_NTOK} AS v FROM documents),
counts AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
pooled AS (SELECT v,
                  CAST(sum(ct) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_all,
                  lead(v) OVER (ORDER BY v) AS next_v
           FROM (SELECT v, CAST(sum(c) AS BIGINT) AS ct
                 FROM counts GROUP BY 1)),
totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM counts GROUP BY 1),
alln AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM counts),
grid AS (SELECT totals.g, totals.n_g, pooled.v, pooled.cum_all,
                pooled.next_v, coalesce(counts.c, 0) AS c
         FROM totals CROSS JOIN pooled
         LEFT JOIN counts ON counts.g = totals.g AND counts.v = pooled.v),
staged AS (SELECT g, n_g, v, cum_all, next_v,
                  CAST(sum(c) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_g
           FROM grid)
SELECT g AS source,
       CAST(max(n_g) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(
           abs(CAST(cum_g AS DOUBLE) / n_g
               - CAST(cum_all AS DOUBLE) / n_all)
           * CAST(next_v - v AS DOUBLE), 9) AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS w1_tokens
FROM staged CROSS JOIN alln
WHERE next_v IS NOT NULL
GROUP BY 1
""",
)


# McNemar's paired classifier test and the disparate-impact audit of a quality
# filter.
#
# Reference anchor: the reference swaps LLM scorers/prompts between runs
# (src/rss_feed_etl/llm/scorer.py) with no paired significance check —
# McNemar is that check; and its keyword/quality filters drop rows with
# no per-feed accounting — the four-fifths audit is what says WHICH
# source a gate silently under-selects.
#
# Plants (the brier_decomposition/risk_coverage_curve family): label = value + (event_id % 40) > 60;
# classifier A thresholds value at 50, classifier B adds its own planted
# noise.  The filter audit gates documents on n_chars > 300 against a
# planted truth n_chars + (doc_id % 100) > 330 — per-source length
# distributions genuinely differ, so the impact ratios are real.


def _q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    label = F.col("value") + (F.col("event_id") % 40) > 60
    a = F.col("value") > 50
    b = F.col("value") + (F.col("event_id") % 7) > 52
    staged = ev.select(
        (a == label).alias("a_correct"), (b == label).alias("b_correct")
    )
    return profiling.mcnemar_test(staged)


_register(
    "mcnemar_classifier_test",
    _q_mcnemar,
    """
WITH staged AS (
  SELECT ((value > 50) = (value + (event_id % 40) > 60)) AS a_ok,
         ((value + (event_id % 7) > 52) = (value + (event_id % 40) > 60))
           AS b_ok
  FROM events),
agg AS (
  SELECT CAST(sum(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both_right,
         CAST(sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS BIGINT)
           AS n_only_a,
         CAST(sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT)
           AS n_only_b,
         CAST(sum(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both_wrong
  FROM staged)
SELECT n_both_right, n_only_a, n_only_b, n_both_wrong,
       CASE WHEN n_only_a + n_only_b > 0 THEN
         round(CAST((abs(n_only_a - n_only_b) - 1)
                    * (abs(n_only_a - n_only_b) - 1) AS DOUBLE)
               / (n_only_a + n_only_b), 6) END AS mcnemar_chi2,
       CASE WHEN n_only_a + n_only_b > 0 THEN
         round(CAST((abs(n_only_a - n_only_b) - 1)
                    * (abs(n_only_a - n_only_b) - 1) AS DOUBLE)
               / (n_only_a + n_only_b), 6) > 3.841459 END AS significant
FROM agg
""",
)


def _q_disparate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "source",
        (F.col("n_chars") > 300).alias("kept"),
        (F.col("n_chars") + F.col("doc_id") % 100 > 330).alias("good"),
    )
    return profiling.filter_disparate_impact(staged)


_register(
    "filter_disparate_impact",
    _q_disparate,
    """
WITH staged AS (
  SELECT source AS g,
         (n_chars > 300) AS p,
         (n_chars + doc_id % 100 > 330) AS y
  FROM documents),
g AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS npos,
             CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM staged GROUP BY 1),
r AS (SELECT *, CAST(npos AS DOUBLE) / n AS rate FROM g),
m AS (SELECT max(rate) AS rmax FROM r)
SELECT r.g AS source, r.n,
       round(rate, 6) AS sel_rate,
       round(rate / rmax, 6) AS impact_ratio,
       round(rate / rmax, 6) < CAST(0.8 AS DOUBLE) AS four_fifths_flag,
       CASE WHEN tp + fn > 0
            THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS tpr,
       CASE WHEN fp + tn > 0
            THEN round(CAST(fp AS DOUBLE) / (fp + tn), 6) END AS fpr
FROM r CROSS JOIN m
""",
)


# T-closeness and the KMV distinct sketch audit.
#
# Reference anchor: the reference republishes feed rows verbatim to a
# shared sheet (src/rss_feed_etl/sinks/gsheet.py); t-closeness completes
# the k-anonymity / l-diversity release ladder (``k_anonymity_violations``,
# ``l_diversity_violations``) with the
# distributional leak those two miss, and KMV is the mergeable
# COUNT DISTINCT the lakehouse side of this registry estimates with HLL —
# but expressed exactly, so the ORACLE checks the estimator itself.
#
# The KMV k is 12 — below every test SF's per-type distinct-user count —
# so the estimation path (not the small-cardinality exact mode) is what
# both engines hash-compare at every scale.

_TC_T = 0.04


def _q_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    staged = ev.select(
        "event_type",
        F.hour("ts").cast("int").alias("hour_of_day"),
        F.least(F.floor(F.col("value") / 10), F.lit(20))
        .cast("bigint")
        .alias("sv"),
    )
    return profiling.t_closeness_report(
        staged, ["event_type", "hour_of_day"], "sv", t=_TC_T
    )


_register(
    "t_closeness_report",
    _q_tcloseness,
    f"""
WITH f AS (SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day,
                  CAST(least(floor(value / 10), 20) AS BIGINT) AS sv,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2, 3),
cls AS (SELECT event_type, hour_of_day, CAST(sum(n) AS BIGINT) AS nc
        FROM f GROUP BY 1, 2),
gd AS (SELECT sv, CAST(sum(n) AS BIGINT) AS g FROM f GROUP BY 1),
dom AS (SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(g) AS BIGINT) AS nt FROM gd),
gcum AS (SELECT sv, CAST(sum(g) OVER (ORDER BY sv
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cg
         FROM gd),
grid AS (SELECT cls.event_type, cls.hour_of_day, cls.nc, gcum.sv, gcum.cg,
                coalesce(f.n, 0) AS n
         FROM cls CROSS JOIN gcum
         LEFT JOIN f ON f.event_type = cls.event_type
                    AND f.hour_of_day = cls.hour_of_day AND f.sv = gcum.sv),
cum AS (SELECT event_type, hour_of_day, nc, cg,
               CAST(sum(n) OVER (PARTITION BY event_type, hour_of_day
                    ORDER BY sv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn
        FROM grid),
emd AS (SELECT event_type, hour_of_day, nc,
               round(CAST(sum(CAST(round(abs(
                   CAST(cn AS DOUBLE) / nc - CAST(cg AS DOUBLE) / nt), 9)
                 AS DECIMAL(30,10))) AS DOUBLE)
                 / CAST(max(m) - 1 AS DOUBLE), 6) AS emd
        FROM cum CROSS JOIN dom GROUP BY 1, 2, 3)
SELECT event_type, hour_of_day, nc AS group_size, emd,
       emd > CAST({_TC_T} AS DOUBLE) AS exceeds_t
FROM emd
""",
)

"""Approximate-aggregate queries over ``operators/sketches.py`` and
``operators/udafs.py``: distinct counts, percentiles, count-min, KMV, Bloom
sizing, bootstrap intervals, DP counts and mergeable histograms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import _register
from ..functions.hashing import MOD, salt_to_int
from ..operators import sketches
from ..operators.sketches import _POIS1_TP
from .corpus import _hexfold


# BPE-ish token counting and IVF approximate nearest-neighbor search.
#
# Registered into ``driver_queries.QUERIES`` / ``ORACLES`` like the corpus queries.
# Both queries are deterministic end-to-end (sampled quantizer, 4dp-rounded
# cosines, fixed regex) so the DuckDB oracle replays them exactly.

# --- cardinality / distribution profiles (exact = oracle baseline for the
# --- HLL / GK-digest sketches in operators/sketches.py) -------------------


def _q_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.distinct_daily(td.load_table(spark, sf_dir, "events"))


_register(
    "events_distinct_daily",
    _q_distinct_daily,
    """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY day ORDER BY day
""",
)


def _q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.value_percentiles(td.load_table(spark, sf_dir, "events"))


_register(
    "value_percentiles",
    _q_value_percentiles,
    """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99,
       round(avg(value), 4) AS mean
FROM events GROUP BY event_type ORDER BY event_type
""",
)


# --- custom UDAF: geometric mean per group --------------------------------


def _q_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of event values per type via an Arrow grouped-agg
    pandas UDF — the engine's UDAF registration surface (SURVEY §2.10,
    absent in the reference).  One batch per (group × partition) reaches
    Python; Spark plans it like any aggregate (partial pieces stay JVM-side,
    the UDF sees each group's values Arrow-batched).  The log-space mean is
    rounded to 6dp so cross-engine float summation order cannot surface."""
    from ..operators.udafs import gmean_udaf as gmean
    from ..session import ensure_executors_can_import

    ensure_executors_can_import(spark)

    ev = td.load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(F.round(gmean("value"), 6).alias("gmean_value"))
    )


_register(
    "gmean_value_udaf",
    _q_gmean,
    """
SELECT event_type,
       round(exp(avg(ln(value))), 6) AS gmean_value
FROM events WHERE value > 0
GROUP BY event_type
""",
)


# --- MAD outliers ----------------------------------------------------------

_Z_CUT = 3.5


def _q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return sketches.mad_outliers(ev, z_cut=_Z_CUT)


_register(
    "value_outliers",
    _q_mad_outliers,
    f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1),
mad AS (
  SELECT e.event_type, med,
         quantile_cont(abs(e.value - med), 0.5) AS mad
  FROM events e JOIN med USING (event_type) GROUP BY 1, 2)
SELECT event_id, e.event_type, value,
       round((value - med) / nullif({sketches.MAD_SCALE} * mad, 0), 4) AS robust_z
FROM events e JOIN mad ON e.event_type = mad.event_type
WHERE abs(round((value - med) / nullif({sketches.MAD_SCALE} * mad, 0), 4)) > {_Z_CUT}
""",
)


# Structural/statistical corpus scoring — item-transition PageRank over the
# event stream, per-document shingle novelty, per-source z-score normalization,
# session path mining, and a mergeable HLL distinct rollup.
#
# PageRank is the importance-sampling signal web-corpus builders use
# (Common Crawl ships harmonic-centrality ranks for exactly this); the
# others are the normalize/diversify/aggregate steps around it.

# --- per-source z-score normalization + cut --------------------------------

_ZNORM_CUT = 2.0


def _q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.grouped_zscore(
        td.load_table(spark, sf_dir, "documents"),
        group_col="source",
        value_col="n_chars",
        z_cut=_ZNORM_CUT,
    )


_register(
    "source_zscore_keep",
    _q_zscore,
    f"""
WITH s AS (SELECT source, count(*) AS n,
                  sum(CAST(n_chars AS DOUBLE)) AS sm,
                  sum(CAST(n_chars AS DOUBLE) * n_chars) AS ss
           FROM documents GROUP BY 1),
st AS (SELECT source, round(sm / n, 9) AS mean,
              round(sqrt(greatest(ss / n - (sm / n) * (sm / n), 0)), 9) AS sd
       FROM s),
z AS (SELECT doc_id, documents.source, CAST(n_chars AS DOUBLE) AS n_chars,
             round((n_chars - mean) / nullif(sd, 0), 6) AS zscore
      FROM documents JOIN st ON documents.source = st.source)
SELECT * FROM z WHERE abs(zscore) <= {_ZNORM_CUT}
""",
)


# --- mergeable HLL distinct rollup (no exact SQL oracle: estimates are
# sketch-dependent; the pytest suite bounds them against exact counts) -------


def _q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.distinct_rollup_sketched(
        td.load_table(spark, sf_dir, "events")
    )


_register("approx_distinct_rollup", _q_hll_rollup, None)


# --- exact global percent rank ---------------------------------------------


def _q_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.global_percent_rank(td.load_table(spark, sf_dir, "events"))


_register(
    "global_percent_rank",
    _q_pct_rank,
    """
SELECT event_id, round(value, 2) AS value,
       round(percent_rank() OVER (ORDER BY round(value, 2)), 6) AS pct_rank
FROM events
""",
)


# Monitoring statistics — ingest-volume anomaly days, source×lang chi-square
# drift cells, and distributed-moment combination proven lossless against a
# direct oracle.

# --- source × lang chi-square ----------------------------------------------


def _q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.contingency_chi2(td.load_table(spark, sf_dir, "documents"))


_register(
    "source_lang_chi2",
    _q_chi2,
    """
WITH obs AS (SELECT source AS r, lang AS c, count(*) AS o
             FROM documents GROUP BY 1, 2),
rt AS (SELECT r, sum(o) AS rt FROM obs GROUP BY 1),
ct AS (SELECT c, sum(o) AS ct FROM obs GROUP BY 1),
n AS (SELECT sum(o) AS n FROM obs),
grid AS (SELECT r, c FROM (SELECT DISTINCT r FROM obs), (SELECT DISTINCT c FROM obs)),
cells AS (
  SELECT grid.r AS source, grid.c AS lang,
         CAST(coalesce(o, 0) AS BIGINT) AS observed,
         round(rt.rt * ct.ct / n.n, 6) AS expected
  FROM grid
  LEFT JOIN obs ON grid.r = obs.r AND grid.c = obs.c
  JOIN rt ON grid.r = rt.r
  JOIN ct ON grid.c = ct.c, n)
SELECT source, lang, observed, expected,
       round(pow(observed - expected, 2) / expected, 6) AS chi2_contrib
FROM cells
""",
)


# --- distributed moments, combine proven against direct computation --------


def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.mergeable_moments(
        td.load_table(spark, sf_dir, "documents"), value_col="n_chars"
    )


_register(
    "merged_corpus_stats",
    _q_moments,
    """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(avg(n_chars), 6) AS mean,
       round(sqrt(var_pop(n_chars)), 6) AS stddev_pop
FROM documents
""",
)


# --- count-min sketch estimates ---------------------------------------------

_CM_DEPTH, _CM_WIDTH, _CM_SALT = 4, 256, "cm-v1"


def _q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.countmin_estimates(
        td.load_table(spark, sf_dir, "events"),
        "user_id",
        depth=_CM_DEPTH,
        width=_CM_WIDTH,
        salt=_CM_SALT,
    )


def _cm_bucket(key_expr: str) -> str:
    return (
        _hexfold(f"('{_CM_SALT}:' || CAST(row AS VARCHAR) || ':' || {key_expr})")
        + f" % {_CM_WIDTH}"
    )


_register(
    "countmin_estimates",
    _q_countmin,
    f"""
WITH rows AS (SELECT unnest(range({_CM_DEPTH})) AS row),
cells AS (
  SELECT row, {_cm_bucket("CAST(user_id AS VARCHAR)")} AS bucket
  FROM events, rows),
sketch AS (SELECT row, bucket, count(*) AS n FROM cells GROUP BY 1, 2),
exact AS (SELECT user_id AS key, count(*) AS exact_n FROM events GROUP BY 1),
probes AS (
  SELECT key, exact_n, row, {_cm_bucket("CAST(key AS VARCHAR)")} AS bucket
  FROM exact, rows)
SELECT key, CAST(exact_n AS BIGINT) AS exact_n, CAST(min(n) AS BIGINT) AS est_n
FROM probes JOIN sketch USING (row, bucket)
GROUP BY 1, 2
""",
)


# Distributed statistics — Poisson- bootstrap confidence intervals, ε-DP noisy
# count release, and day-of-week seasonal anomaly decomposition.

# --- Poisson-bootstrap CI ---------------------------------------------------

_BOOT_B, _BOOT_SALT = 40, "boot-v1"


def _q_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.bootstrap_ci(
        td.load_table(spark, sf_dir, "events"),
        value_col="value",
        group_col="event_type",
        id_col="event_id",
        n_boot=_BOOT_B,
        salt=_BOOT_SALT,
    )


_BOOT_SI = salt_to_int(_BOOT_SALT)
_BOOT_H0 = (
    f"(((((event_id % {MOD}) + {_BOOT_SI}) * 48271) % {MOD})"
    f" * ((((event_id % {MOD}) + {_BOOT_SI}) * 48271) % {MOD}))"
)
_BOOT_W = " + ".join(
    f"(CASE WHEN (u * u) % {MOD} > {t} THEN 1 ELSE 0 END)" for t in _POIS1_TP
)

_register(
    "bootstrap_mean_ci",
    _q_bootstrap,
    f"""
WITH base AS (
  SELECT event_type AS g, value AS v, {_BOOT_H0} % {MOD} AS h0 FROM events),
reps AS (
  SELECT g, v, h0, b
  FROM base, (SELECT unnest(range({_BOOT_B})) AS b)),
uu AS (SELECT g, b, v, (h0 * (b + 2)) % {MOD} AS u FROM reps),
ww AS (SELECT g, b, v, {_BOOT_W} AS w FROM uu),
means AS (SELECT g, b, round(sum(w * v) / sum(w), 6) AS m FROM ww GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY g ORDER BY m, b) AS rn FROM means),
cis AS (
  SELECT g, max(CASE WHEN rn = 2 THEN m END) AS ci_lo,
         max(CASE WHEN rn = {_BOOT_B - 1} THEN m END) AS ci_hi
  FROM ranked GROUP BY 1),
overall AS (
  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
         round(avg(value), 6) AS mean
  FROM events GROUP BY 1)
SELECT g AS event_type, n, mean, ci_lo, ci_hi
FROM overall JOIN cis USING (g)
""",
)


# --- ε-DP noisy counts ------------------------------------------------------

_DP_EPS, _DP_SALT = 1.0, "dp-v1"


def _q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.dp_noisy_counts(
        td.load_table(spark, sf_dir, "events"),
        group_col="event_type",
        epsilon=_DP_EPS,
        salt=_DP_SALT,
    )


_register(
    "dp_event_counts",
    _q_dp_counts,
    f"""
WITH counts AS (SELECT event_type AS g, count(*) AS n FROM events GROUP BY 1),
u AS (SELECT g, n,
             {_hexfold(f"('{_DP_SALT}:' || g)")} / 1152921504606846976.0 AS u
      FROM counts)
SELECT g AS event_type, CAST(n AS BIGINT) AS exact_n,
       round(n + round(-{1.0 / _DP_EPS} * sign(u - 0.5)
                       * ln(1 - 2 * abs(u - 0.5)), 6), 6) AS noisy_n
FROM u
""",
)


# Winsorized robust means, distinct-n lexical diversity, and the foreign-key
# join-profile report.

# --- winsorized means -------------------------------------------------------

_WZ_LO, _WZ_HI = 0.05, 0.95


def _q_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.winsorized_means(
        td.load_table(spark, sf_dir, "events"), lo=_WZ_LO, hi=_WZ_HI
    )


_register(
    "winsorized_means",
    _q_winsorized,
    f"""
WITH q AS (
  SELECT event_type AS g,
         round(quantile_cont(value, {_WZ_LO}), 9) AS p_lo,
         round(quantile_cont(value, {_WZ_HI}), 9) AS p_hi
  FROM events GROUP BY 1)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(avg(value), 6) AS raw_mean,
       round(avg(least(greatest(value, p_lo), p_hi)), 6) AS winsorized_mean,
       max(p_lo) AS p_lo, max(p_hi) AS p_hi
FROM events JOIN q ON event_type = g
GROUP BY 1
""",
)


# --- incremental aggregate maintenance --------------------------------------

_AGG_SPLIT = "2024-01-20"


def _q_combine_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    old = ev.filter(F.to_date("ts") < F.lit(_AGG_SPLIT))
    batch = ev.filter(F.to_date("ts") >= F.lit(_AGG_SPLIT))
    old_agg = old.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        # decimal total: exact, so stored+batch addition in
        # combine_aggregates is order-independent (mirrors the oracle's
        # CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE))
        F.sum(F.col("value").cast("decimal(30,10)")).alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    # total_exact is persistence state (the fold input for the NEXT epoch),
    # not part of the maintained view the oracle recomputes
    return sketches.combine_aggregates(
        old_agg, batch, key_col="event_type", value_col="value"
    ).drop("total_exact")


_register(
    "incremental_agg_maintenance",
    _q_combine_agg,
    f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2) AS total,
       min(value) AS vmin,
       max(value) AS vmax,
       round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS mean
FROM events GROUP BY 1
""",
)


# Weighted percentiles (inverse-CDF on a quantized grid) and the source-level
# MinHash Jaccard matrix.

_PS = (0.5, 0.9, 0.99)


def _q_wpct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.weighted_percentiles(
        td.load_table(spark, sf_dir, "lineitem"), ps=_PS
    )


_WP_COLS = ", ".join(
    f"CAST(min(CASE WHEN CAST(cum AS DOUBLE) >= {p!r} * CAST(wt AS DOUBLE) "
    f"THEN v END) AS BIGINT) AS wp{str(p).replace('0.', '').ljust(2, '0')}"
    for p in _PS
)

_register(
    "weighted_percentiles",
    _q_wpct,
    f"""
WITH g AS (
  SELECT CAST(round(l_extendedprice, 0) AS BIGINT) AS v,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1),
c AS (
  SELECT v,
         CAST(sum(w) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(w) OVER () AS BIGINT) AS wt
  FROM g)
SELECT CAST(max(wt) AS BIGINT) AS w_total, {_WP_COLS}
FROM c
""",
)


_HP_LO, _HP_HI, _HP_BINS = 0.0, 500.0, 100
_HP_W = (_HP_HI - _HP_LO) / _HP_BINS
_HP_PS = (0.5, 0.9, 0.99)


def _q_hist_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.histogram_percentile_error(
        td.load_table(spark, sf_dir, "events"),
        lo=_HP_LO, hi=_HP_HI, n_bins=_HP_BINS, ps=_HP_PS,
    )


def _est(p: float) -> str:
    return (
        f"min(CASE WHEN cum >= ceil({float(p)!r} * CAST(n AS DOUBLE)) "
        f"THEN {_HP_LO!r} + CAST(bucket - 1 AS DOUBLE) * {_HP_W!r} END)"
    )


_PROWS = " UNION ALL ".join(
    f"SELECT g AS event_type, CAST({float(p)!r} AS DOUBLE) AS p, "
    f"round(e{int(p * 100)}, 6) AS est, round(x{int(p * 100)}, 6) AS exact, "
    f"round(abs(e{int(p * 100)} - x{int(p * 100)}), 6) AS abs_err, "
    f"CAST(CASE WHEN abs(e{int(p * 100)} - x{int(p * 100)}) <= {_HP_W!r} "
    f"THEN 1 ELSE 0 END AS INT) AS within_one_bin FROM j"
    for p in _HP_PS
)

_register(
    "histogram_percentile_error",
    _q_hist_pct,
    f"""
WITH h AS (
  SELECT event_type AS g,
         CASE WHEN value < {_HP_LO!r} THEN 0
              WHEN value >= {_HP_HI!r} THEN {_HP_BINS + 1}
              ELSE CAST(floor((value - {_HP_LO!r}) / {_HP_W!r}) AS BIGINT) + 1
         END AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT g, bucket,
         CAST(sum(c) OVER (PARTITION BY g ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum,
         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) n
  FROM h),
est AS (
  SELECT g, {", ".join(f"{_est(p)} AS e{int(p * 100)}" for p in _HP_PS)}
  FROM cum GROUP BY 1),
ex AS (
  SELECT event_type AS g2,
         {", ".join(f"quantile_cont(value, {float(p)!r}) AS x{int(p * 100)}" for p in _HP_PS)}
  FROM events GROUP BY 1),
j AS (SELECT est.*, {", ".join(f"x{int(p * 100)}" for p in _HP_PS)}
      FROM est JOIN ex ON est.g = ex.g2)
{_PROWS}
""",
)


# Mergeable-histogram incremental maintenance and token-Gini concentration —
# the materialized-profile fold and the template-source detector.

# --- incremental histogram fold ------------------------------------------------

_H_LO, _H_HI, _H_BINS = 0.0, 500.0, 20
_H_SPLIT = td.CUTOFF[:10]


def _q_hist_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    old = ev.filter(F.to_date("ts") < F.lit(_H_SPLIT))
    batch = ev.filter(F.to_date("ts") >= F.lit(_H_SPLIT))
    old_hist = old.groupBy(
        F.width_bucket("value", F.lit(_H_LO), F.lit(_H_HI), F.lit(_H_BINS))
        .cast("bigint")
        .alias("bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(30,10)")).alias("total_exact"),
    )
    # total_exact is persistence state for the NEXT fold, not part of the
    # maintained view the oracle recomputes
    return sketches.incremental_histogram_fold(
        old_hist, batch, lo=_H_LO, hi=_H_HI, n_bins=_H_BINS
    ).drop("total_exact")


_register(
    "incremental_histogram_fold",
    _q_hist_fold,
    f"""
SELECT CASE WHEN value < {_H_LO} THEN 0
            WHEN value >= {_H_HI} THEN {_H_BINS + 1}
            ELSE CAST(floor((value - {_H_LO}) / {(_H_HI - _H_LO) / _H_BINS}) AS BIGINT) + 1
       END AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2) AS total
FROM events GROUP BY 1
""",
)


_KMV_K = 12


def _q_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return sketches.kmv_distinct_estimate(
        ev, key_col="user_id", group_col="event_type", k=_KMV_K
    )


_KMV_H = _hexfold("CAST(user_id AS VARCHAR)")

_register(
    "kmv_distinct_estimate",
    _q_kmv,
    f"""
WITH hashed AS (SELECT DISTINCT event_type AS g, {_KMV_H} AS h FROM events),
exact AS (SELECT g, CAST(count(*) AS BIGINT) AS nd FROM hashed GROUP BY 1),
kth AS (SELECT g, h AS hk FROM (
          SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h ASC) AS r
          FROM hashed) WHERE r = {_KMV_K}),
per_group AS (
  SELECT CAST(g AS VARCHAR) AS scope, nd AS exact_distinct,
         CASE WHEN nd < {_KMV_K} THEN CAST(nd AS DOUBLE)
              WHEN hk > 0 THEN round(CAST({_KMV_K - 1} AS DOUBLE)
                         / (CAST(hk AS DOUBLE)
                            / CAST({float(1 << 60)} AS DOUBLE)), 6) END
           AS kmv_estimate
  FROM exact LEFT JOIN kth USING (g)),
uh AS (SELECT DISTINCT h FROM hashed),
und AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM uh),
ukth AS (SELECT max(h) AS hk FROM (SELECT h FROM uh ORDER BY h ASC
                                   LIMIT {_KMV_K})),
union_row AS (
  SELECT '__union__' AS scope, nd AS exact_distinct,
         CASE WHEN nd < {_KMV_K} THEN CAST(nd AS DOUBLE)
              WHEN hk > 0 THEN round(CAST({_KMV_K - 1} AS DOUBLE)
                         / (CAST(hk AS DOUBLE)
                            / CAST({float(1 << 60)} AS DOUBLE)), 6) END
           AS kmv_estimate
  FROM und CROSS JOIN ukth),
allrows AS (SELECT * FROM per_group UNION ALL SELECT * FROM union_row)
SELECT scope, exact_distinct, kmv_estimate,
       round((kmv_estimate - CAST(exact_distinct AS DOUBLE))
             / exact_distinct, 6) AS rel_err
FROM allrows
""",
)


# Bloom-filter sizing planner and the truncation token-loss curve.
#
# Reference anchor: the reference re-reads its whole sheet to answer "have
# I seen this link?" (scd1_manager.py) — the bloom planner is the
# membership-index sizing table that replaces that scan at scale (and
# complements the registered ``bloom_prune_revenue`` join pruning and the
# ``lsh_param_plan``/``postinglist_compression_plan`` planner family);
# the truncation curve is the other half of the max-sequence-length
# decision ``packing_fragmentation`` already prices (truncation loses
# tails, padding wastes slots — the curves bracket the choice).

_BF_BITS = (4, 6, 8, 10, 12, 16)
_LN2 = 0.6931471805599453


def _q_bloom_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return sketches.bloom_filter_plan(ev, key_col="user_id", bits_per_key=_BF_BITS)


_register(
    "bloom_filter_plan",
    _q_bloom_plan,
    f"""
WITH n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
           FROM events),
cand AS (SELECT * FROM (VALUES {", ".join(f"({b})" for b in _BF_BITS)})
         t(bits_per_key)),
staged AS (
  SELECT n_keys, bits_per_key,
         CAST(floor(bits_per_key * {_LN2} + 0.5) AS BIGINT) AS k_hashes,
         CAST(n_keys * bits_per_key AS BIGINT) AS m_bits
  FROM n CROSS JOIN cand)
SELECT n_keys, bits_per_key, k_hashes, m_bits,
       CAST(ceil(CAST(m_bits AS DOUBLE) / 8.0) AS BIGINT) AS filter_bytes,
       round(exp(CAST(k_hashes AS DOUBLE)
                 * ln(round(1.0 - exp(-CAST(k_hashes AS DOUBLE)
                                      / CAST(bits_per_key AS DOUBLE)), 9))),
             6) AS fpr
FROM staged
""",
)

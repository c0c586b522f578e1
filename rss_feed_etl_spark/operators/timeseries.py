"""Time-series spine generation and gap filling (hypertable-rollup-style).

The reference's only time-series notion is the lookback window filter
(run_job_filter.py:112-152); a real analytics engine also needs the
inverse: a *dense* per-key daily series even when the raw events are
sparse, so downstream rollups / charts / features see every day.

Scale shape: the day spine is generated per key from that key's own
[min, max] range with ``sequence`` + ``explode`` — no driver-side date
loop, no global calendar table, and a key's spine length is bounded by
its own span.  The LOCF sweep is one window per key ordered by day;
partitions are per-key so the window never globalizes.  Everything is
Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import ordered_pairs


def gapfill_locf(
    daily: DataFrame,
    key_col: str = "event_type",
) -> DataFrame:
    """Densify a per-key daily series and fill gaps by carrying the last
    observation forward.

    ``daily`` has one row per (key, day) for *observed* days.  Output has
    one row per (key, every day in that key's [min, max] span) with:
    - ``total``: the observed value, NULL on gap days;
    - ``filled_total``: LOCF value (never NULL — the spine starts at
      each key's first observed day);
    - ``is_gap``: whether the day was absent from the input.
    """
    spine = (
        daily.groupBy(key_col)
        .agg(F.min("day").alias("_d0"), F.max("day").alias("_d1"))
        .select(
            key_col,
            F.explode(F.sequence("_d0", "_d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, [key_col, "day"], "left")
        .withColumn("filled_total", F.last("total", ignorenulls=True).over(w))
        .withColumn("is_gap", F.col("total").isNull())
    )


def daily_count_anomalies(
    events: DataFrame,
    threshold: float = 0.05,
    window_days: int = 7,
) -> DataFrame:
    """Days whose event volume deviates more than ``threshold`` (fraction)
    from the trailing ``window_days`` moving average — the volume-anomaly
    monitor an ingest pipeline alarms on (a feed going dark or doubling).

    The facts reduce to day-grain counts first; the moving-average window
    then runs over calendar-bounded rows (one row per day — years of data
    is still only thousands of rows), so the unpartitioned window is safe
    at any corpus size.  One fact-grain shuffle total.
    """
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    w = Window.orderBy("day").rowsBetween(-(window_days - 1), 0)
    scored = daily.select(
        "day",
        "n",
        F.round(F.avg("n").over(w), 6).alias("ma"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("bigint").alias("n"),
        "ma",
        F.round((F.col("n") - F.col("ma")) / F.col("ma"), 6).alias(
            "pct_dev"
        ),
    )
    return scored.filter(F.abs("pct_dev") > threshold)


def dow_seasonal_residuals(
    daily: DataFrame,
    sigmas: float = 2.0,
) -> DataFrame:
    """Day-of-week seasonal decomposition over a day-grain series: expected
    value = the mean of the same weekday across the whole series, residual
    = value − expected, anomaly = |residual| beyond ``sigmas`` standard
    deviations of all residuals.  Separates weekly rhythm from genuine
    volume anomalies — the trailing-MA detector flags every Monday in a
    weekday-heavy stream; this one doesn't.

    Everything after the day-grain input is profile-sized: the 7-row
    weekday profile and the 1-row residual sigma both ride back as
    broadcasts.
    """
    d = daily.select(
        F.col("day"),
        F.col("total").cast("double").alias("val"),
        (F.dayofweek("day") - 1).alias("dow"),  # 0=Sunday, matches DuckDB
    )
    # The weekday mean accumulates as exact DECIMAL (day-grain totals are
    # 2-dp money values, so the 6-dp quantization is lossless) and divides
    # once — fold order can no longer move the 6-dp rounding.  A double
    # avg() put sf0.001's Sunday mean exactly on a .xxxxxx5 boundary and
    # Spark/DuckDB rounded opposite ways (round-10 inherited fix).
    profile = d.groupBy("dow").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(30,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("expected")
    )
    resid = d.join(F.broadcast(profile), "dow").withColumn(
        "residual", F.round(F.col("val") - F.col("expected"), 6)
    )
    sigma = resid.agg(F.round(F.stddev_pop("residual"), 6).alias("sd"))
    return resid.crossJoin(F.broadcast(sigma)).select(
        "day",
        F.col("val").alias("total"),
        "dow",
        "expected",
        "residual",
        F.when(F.abs(F.col("residual")) > F.lit(sigmas) * F.col("sd"), 1)
        .otherwise(0)
        .alias("is_anomaly"),
    )


def daily_trend_slope(
    events: DataFrame,
) -> DataFrame:
    """Per-group OLS trend slope of daily counts against the day index —
    "is this metric growing and how fast", in events/day² units, via the
    closed form slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).

    Two aggregates total: events → day-grain counts, day-grain → the four
    sums per group (all exact integers — x is the day ordinal, y a count
    — so the only float op is the final division, identical everywhere).
    """
    daily = events.groupBy(
        F.col("event_type").alias("g"), F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("y"))
    d = daily.withColumn("x", F.datediff("day", F.lit("1970-01-01")).cast("bigint"))
    sums = d.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(num / den, 6).alias("slope"),
    )


def ks_drift(
    events: DataFrame,
    split_ts: str,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per group: D =
    max |ECDF_before(v) − ECDF_after(v)| between the value distributions
    before and after ``split_ts`` — the continuous-distribution companion
    to the chi-square categorical drift check, run between corpus or
    metric snapshots to catch silent shifts.

    Exact and distributed: counts collapse to DISTINCT-VALUE grain before
    any window (the per-group cumulative window walks unique values, not
    rows), and per-group totals broadcast.  For value domains too large
    even at distinct grain, quantize ``value`` to a grid first — D is
    then exact on the coarsened distribution.
    """
    s = events.select(
        F.col("event_type").alias("g"),
        F.col("value").cast("double").alias("v"),
        (F.col("ts") < F.to_timestamp(F.lit(split_ts))).alias("before"),
    )
    per_v = s.groupBy("g", "v").agg(
        F.sum(F.when(F.col("before"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(~F.col("before"), 1).otherwise(0)).alias("c2"),
    )
    tot = s.groupBy("g").agg(
        F.sum(F.when(F.col("before"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col("before"), 1).otherwise(0)).alias("n2"),
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = per_v.withColumn("a1", F.sum("c1").over(w)).withColumn(
        "a2", F.sum("c2").over(w)
    )
    d = ecdf.join(F.broadcast(tot), "g").select(
        "g",
        "n1",
        "n2",
        F.abs(F.col("a1") / F.col("n1") - F.col("a2") / F.col("n2")).alias("gap"),
    )
    return d.groupBy(F.col("g").alias("event_type")).agg(
        F.max("n1").cast("bigint").alias("n_before"),
        F.max("n2").cast("bigint").alias("n_after"),
        F.round(F.max("gap"), 6).alias("ks_stat"),
    )


def ema_smoothing(
    daily: DataFrame,
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key exponential moving average over a daily series:
    s_0 = x_0, s_t = α·x_t + (1−α)·s_{t−1} — the standard smoother for
    dashboards/alerting that a plain moving average lags behind.

    The recursion is closed-form-expanded so it runs as ONE window pass
    (no recursive CTE, no per-key UDF fold):
        s_t = α·(1−α)^t·Σ_{i≤t,i≥1} (1−α)^(−i)·x_i + (1−α)^t·x_0.
    The running sum Σ (1−α)^(−i)·x_i telescopes in an ordinary
    unbounded-preceding frame, exactly like the time-decay attribution
    trick.  (1−α)^(−i) grows with the series index, so the form is for
    day-GRAIN series (thousands of points ≈ fine at α ≤ 0.5 in doubles —
    0.7^−2500 overflows; re-chunk or re-base longer series.)

    Scale shape: input is day-grain (tiny by construction); one window
    per key, partial nothing to worry about.  Output adds ``ema``.
    """
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    decay = F.lit(1.0 - alpha)
    idx = F.row_number().over(w_ord) - 1  # t = 0, 1, ...
    x0 = F.first("total").over(w_run)
    contrib = F.when(idx > 0, F.pow(decay, -idx) * F.col("total")).otherwise(
        F.lit(0.0)
    )
    staged = daily.select(
        "event_type", "day", "total", idx.alias("__t"), contrib.alias("__c"),
        x0.alias("__x0"),
    )
    run = F.sum("__c").over(
        Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ema = (
        F.lit(alpha) * F.pow(decay, F.col("__t")) * run
        + F.pow(decay, F.col("__t")) * F.col("__x0")
    )
    return staged.select(
        "event_type", "day", "total", F.round(ema, 4).alias("ema")
    )


def time_weighted_average(
    samples: DataFrame,
) -> DataFrame:
    """Per-key time-weighted average over irregular samples: each value
    holds until the key's next sample, so TWAP = Σ vᵢ·Δtᵢ / Σ Δtᵢ with
    Δtᵢ the seconds to the next sample (the last sample carries no
    weight).  The correct mean for sensor/price/quality series sampled on
    change — the arithmetic mean over-weights busy periods exactly where
    sampling is densest.

    Plan shape (100 TB): one per-key window (``lead`` for Δt), one
    partial-aggregated groupBy — same single-shuffle discipline as every
    series operator here.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    dt = F.lead(F.col("ts").cast("double")).over(w) - F.col("ts").cast("double")
    staged = samples.withColumn("__dt", dt).filter(F.col("__dt").isNotNull())
    return staged.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("value") * F.col("__dt")) / F.sum("__dt"), 6
        ).alias("twap"),
        F.round(F.avg("value"), 6).alias("plain_mean"),
        F.count("*").cast("bigint").alias("n_intervals"),
    )


def seasonal_naive_mase(
    events: DataFrame,
    season_days: int = 7,
) -> DataFrame:
    """Backtest the seasonal-naive forecast (ŷ_d = y_{d−season}) on the
    daily series and score it with MASE — mean |error| divided by the
    mean |error| of the NON-seasonal naive (ŷ_d = y_{d−1}) — the
    scale-free forecast-quality baseline every fancier model must beat
    (MASE < 1 = seasonality carries real signal).

    Plan shape (100 TB): day-grain aggregate first (the only fact-sized
    pass), then two lags on one per-key window and a per-key rollup —
    series operators never shuffle facts twice.
    """
    from pyspark.sql import Window

    daily = events.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    staged = daily.withColumn("__s", F.lag("y", season_days).over(w)).withColumn(
        "__n", F.lag("y", 1).over(w)
    )
    scored = staged.filter(F.col("__s").isNotNull() & F.col("__n").isNotNull())
    return scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.avg(F.abs(F.col("y") - F.col("__s"))), 6).alias(
            "mae_seasonal"
        ),
        F.round(F.avg(F.abs(F.col("y") - F.col("__n"))), 6).alias(
            "mae_naive"
        ),
        F.round(
            F.avg(F.abs(F.col("y") - F.col("__s")))
            / F.avg(F.abs(F.col("y") - F.col("__n"))),
            6,
        ).alias("mase"),
    )


def theil_sen_trend(
    events: DataFrame,
) -> DataFrame:
    """Robust daily-count trend per key: the Theil-Sen slope — the MEDIAN
    of all pairwise (count difference / day difference) slopes — which a
    single outage day or traffic spike cannot drag the way OLS's mean
    can (breakdown point ~29% vs 0%).

    Plan shape (100 TB): facts collapse to day grain first; the O(days²)
    pair expansion runs INSIDE a per-key array expression over the
    collected day series (bounded by the calendar, thousands of entries
    at most — this is the documented day-grain envelope), so no pair ever
    hits an exchange.
    """
    daily = events.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    per_key = daily.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("y")))
        ).alias("pts")
    )
    slopes = ordered_pairs(
        F.col("pts"),
        lambda a, b: (b["y"] - a["y"])
        / F.datediff(b["day"], a["day"]).cast("double"),
    )
    staged = per_key.select(
        "event_type",
        F.size("pts").cast("bigint").alias("n_days"),
        F.array_sort(slopes).alias("__s"),
    )
    n = F.size("__s")
    mid = (n / 2).cast("int")
    median = F.when(
        n % 2 == 1, F.get("__s", mid)
    ).otherwise((F.get("__s", mid - 1) + F.get("__s", mid)) / 2.0)
    return staged.select(
        "event_type", "n_days", F.round(median, 6).alias("slope_per_day")
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution: PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) over fixed
    bins — the monitoring metric scorecards use where KS gives a max-gap
    and chi² gives a test statistic; PSI's per-bin contributions say
    WHERE the distribution moved (rule of thumb: >0.2 = retrain).
    Laplace-smoothed (½-count per bin) so empty bins stay finite.

    Plan shape (100 TB): one partial-aggregated fixed-width histogram per
    side (map-only binning — no quantile pass, no sort), a bin-grain
    full-outer merge, totals broadcast.  Both inputs scanned exactly once.
    """
    width = (hi - lo) / n_bins
    bucket = (
        F.when(F.col("value") < lo, F.lit(0))
        .when(F.col("value") >= hi, F.lit(n_bins + 1))
        .otherwise(F.floor((F.col("value") - lo) / width).cast("int") + 1)
    )

    def hist(df: DataFrame, name: str) -> DataFrame:
        return df.select(bucket.alias("bucket")).groupBy("bucket").agg(
            F.count("*").cast("bigint").alias(name)
        )

    merged = hist(ref, "n_ref").join(hist(cur, "n_cur"), "bucket", "full_outer")
    merged = merged.select(
        "bucket",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    totals = merged.agg(
        F.sum("n_ref").cast("double").alias("Nr"),
        F.sum("n_cur").cast("double").alias("Nc"),
    )
    k = n_bins + 2
    p_ref = (F.col("n_ref") + 0.5) / (F.col("Nr") + 0.5 * k)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("Nc") + 0.5 * k)
    contrib = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return merged.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round(contrib, 6).alias("psi_contrib"),
    )


def cusum_changepoints(
    events: DataFrame,
    drift_k: float = 0.5,
    alarm_h: float = 4.0,
) -> DataFrame:
    """Two-sided CUSUM changepoint detection on each series' daily counts
    — the classic Page (1954) drift detector a corpus-ingest monitor runs
    per feed: a sustained level shift accumulates while transient noise
    resets, which a plain per-day z-score can't distinguish.

    The textbook recurrence s+_t = max(0, s+_{t-1} + z_t − k) is
    SEQUENTIAL; here it's telescoped to pure window algebra via
    s+_t = R_t − min(0, min_{j≤t} R_j) with R the prefix sum of (z − k)
    — the same running-min trick ``time_decay_attribution`` uses — so no
    per-series fold, no UDF, no collected arrays.  Series whose daily
    counts are constant (std = 0) carry no signal and are dropped.

    Output per series: ``(event_type, n_days, max_cusum_pos,
    max_cusum_neg, n_alarm_days, first_alarm_day)``.

    Plan / 100 TB: facts collapse to (type, day) grain in ONE shuffle
    with map-side partial counts; every window after that runs over
    day-grain rows partitioned BY SERIES (years of days is still only
    thousands of rows per series).  Per-series mean/std come from exact
    integer sums joined back broadcast (series-cardinality table).
    """
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(F.col("event_type").alias("t"), day.alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    st = daily.groupBy("t").agg(
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sq"),
        F.count("*").cast("long").alias("c"),
    )
    j = daily.join(F.broadcast(st), "t")
    mean = F.col("s").cast("double") / F.col("c")
    var = F.col("sq").cast("double") / F.col("c") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = (F.col("n").cast("double") - mean) / F.col("std")
    w = (
        Window.partitionBy("t")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        j.withColumn("std", std)
        .filter(F.col("std") > 0)
        .select(
            "t",
            "day",
            F.sum(z - F.lit(drift_k)).over(w).alias("rp"),
            F.sum(-z - F.lit(drift_k)).over(w).alias("rn"),
        )
        .select(
            "t",
            "day",
            (F.col("rp") - F.least(F.min("rp").over(w), F.lit(0.0))).alias("sp"),
            (F.col("rn") - F.least(F.min("rn").over(w), F.lit(0.0))).alias("sn"),
        )
    )
    alarm = (F.col("sp") > alarm_h) | (F.col("sn") > alarm_h)
    return scored.groupBy(F.col("t").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.max("sp"), 6).alias("max_cusum_pos"),
        F.round(F.max("sn"), 6).alias("max_cusum_neg"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("bigint").alias("n_alarm_days"),
        F.date_format(
            F.min(F.when(alarm, F.col("day"))), "yyyy-MM-dd"
        ).alias("first_alarm_day"),
    )


def daily_autocorrelation(
    events: DataFrame,
    max_lag: int = 14,
) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..max_lag
    — the periodicity detector that finds weekly (lag-7) ingest cycles a
    moving-average monitor mistakes for anomalies.

    acf(k) = Σ(x_t−m)(x_{t+k}−m) / Σ(x_t−m)² with the numerator EXPANDED
    to integer cross-products (Σ x_t·x_{t+k}, Σ x_t, Σ x_{t+k}, n_k):
    every distributed sum is an exact bigint, and the float arithmetic
    happens once per lag on the 1-row aggregates — so the result cannot
    drift with partitioning or engine (float-sum order is the #7 parity
    pitfall).  Missing days pair by CALENDAR offset (an integer day-index
    join), not by row adjacency, so gaps don't shift the lag.

    Output: ``(lag, n_pairs, acf)`` for lags with at least 2 pairs.

    Plan / 100 TB: facts collapse to day grain in one shuffle; the lag
    self-join and the lag fan-out (×max_lag) run on the DAY-GRAIN table
    (years ≈ thousands of rows).  The global mean/variance aggregate is
    broadcast back to the per-lag table.
    """
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(day.alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    return _acf_core(daily, max_lag, 6)


def _acf_core(daily: DataFrame, max_lag: int, decimals: int) -> DataFrame:
    """ACF math over an already-built (day, x) table — shared by
    :func:`daily_autocorrelation` (public output unchanged) and
    :func:`ljung_box_q` (which also needs the day count from the SAME
    day-grain collapse, so the facts are scanned exactly once)."""
    mn = daily.agg(F.min("day").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mn)).select(
        F.datediff("day", "d0").cast("long").alias("di"), "x"
    )
    glob = idx.agg(
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sq"),
        F.count("*").cast("long").alias("c"),
    )
    lags = idx.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = idx.select(F.col("di").alias("di1"), F.col("x").alias("x1"))
    b = idx.select(F.col("di").alias("di2"), F.col("x").alias("x2"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("di2") == F.col("di1") + F.col("lag"))
    )
    per_lag = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("sxy"),
        F.sum("x1").cast("long").alias("sx"),
        F.sum("x2").cast("long").alias("sy"),
    )
    m = F.col("s").cast("double") / F.col("c")
    den = F.col("sq").cast("double") - F.col("c") * m * m
    num = (
        F.col("sxy").cast("double")
        - m * F.col("sx").cast("double")
        - m * F.col("sy").cast("double")
        + F.col("n_pairs") * m * m
    )
    return (
        per_lag.crossJoin(F.broadcast(glob))
        .filter((F.col("n_pairs") >= 2) & (den > 0))
        .select(
            "lag",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(num / den, decimals).alias("acf"),
        )
    )


def series_correlation_matrix(
    events: DataFrame,
) -> DataFrame:
    """Pairwise Pearson correlation between the daily-count series of
    every pair of event types — the co-movement matrix that separates "all
    feeds dipped together" (upstream outage) from "one feed dipped alone"
    (source-specific break) when a volume monitor fires.

    Only days where BOTH series have rows pair up (inner calendar join),
    so a type that starts late correlates over its shared span.  All
    distributed sums are exact bigints; Pearson's formula runs once per
    pair on the aggregated scalars (cast to double first — at extreme
    daily volumes the c·Σxy cross terms exceed bigint even though each
    sum fits).

    Output: ``(type_a, type_b, n_days, corr)`` for a < b.

    Plan / 100 TB: one fact-grain shuffle to (type, day) counts; the
    day-grain self-join and pair aggregation run over series-cardinality
    × calendar rows.  No windows, no fact self-join.
    """
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(
        F.col("event_type").alias("t"), day.alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    a = daily.select(F.col("t").alias("ta"), "day", F.col("n").alias("x"))
    b = daily.select(F.col("t").alias("tb"), "day", F.col("n").alias("y"))
    pairs = a.join(b, "day").filter(F.col("ta") < F.col("tb"))
    agg = pairs.groupBy("ta", "tb").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    cd = F.col("c").cast("double")
    num = cd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    denx = cd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    deny = cd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return (
        agg.filter((F.col("c") >= 2) & (denx > 0) & (deny > 0))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("c").cast("bigint").alias("n_days"),
            F.round(num / F.sqrt(denx * deny), 6).alias("corr"),
        )
    )


def holt_forecast(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 7,
) -> DataFrame:
    """Holt double-exponential smoothing per daily-count series: level +
    trend state folded sequentially over the calendar, the capacity
    forecast ("how many events will this feed produce next week?") that a
    plain EMA can't answer because it has no trend term.

    Unlike ``ema_smoothing`` (telescoped closed form, documented horizon
    bound) the Holt recursion couples two states and does not telescope;
    it runs as an explicit SEQUENTIAL FOLD over the collected series —
    ``F.aggregate`` on Spark, ``list_reduce`` in the DuckDB oracle — with
    init l₁ = x₁, b₁ = x₂ − x₁.  Both engines execute the identical IEEE
    op sequence, so results are bit-mirrorable.  The fold also
    accumulates the one-step-ahead |error| BEFORE each update, yielding
    in-sample MAE for free.

    Output per series: ``(event_type, n_days, level, trend,
    forecast_h, mae)``; series shorter than 2 days are dropped and MAE is
    NULL when no held-out step exists.

    Plan / 100 TB: one fact shuffle to (type, day) counts, one groupBy to
    series grain.  The collected array is DAY-grain (years ≈ thousands of
    doubles per series) — bounded by the calendar, not the corpus, the
    same contract as every other per-series operator here.
    """
    a, ombeta, omalpha = float(alpha), 1.0 - float(beta), 1.0 - float(alpha)
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(F.col("event_type").alias("t"), day.alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    ser = daily.groupBy("t").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "n"))),
            lambda s: s["n"].cast("double"),
        ).alias("xs")
    ).filter(F.size("xs") >= 2)
    x1 = F.element_at("xs", 1)
    x2 = F.element_at("xs", 2)
    zero = F.struct(
        x1.alias("l"),
        (x2 - x1).alias("b"),
        F.lit(0.0).alias("ae"),
        F.lit(0.0).alias("k"),
    )
    rest = F.slice("xs", 3, F.greatest(F.size("xs") - 2, F.lit(0)))

    def step(acc, x):
        fc = acc["l"] + acc["b"]
        l2 = F.lit(a) * x + F.lit(omalpha) * fc
        b2 = F.lit(float(beta)) * (l2 - acc["l"]) + F.lit(ombeta) * acc["b"]
        return F.struct(
            l2.alias("l"),
            b2.alias("b"),
            (acc["ae"] + F.abs(x - fc)).alias("ae"),
            (acc["k"] + F.lit(1.0)).alias("k"),
        )

    r = F.aggregate(rest, zero, step)
    return ser.select(
        F.col("t").alias("event_type"),
        F.size("xs").cast("bigint").alias("n_days"),
        F.round(r["l"], 6).alias("level"),
        F.round(r["b"], 6).alias("trend"),
        F.round(r["l"] + F.lit(float(horizon)) * r["b"], 6).alias(
            "forecast_h"
        ),
        F.round(
            F.when(r["k"] > 0, r["ae"] / r["k"]), 6
        ).alias("mae"),
    )


def slo_burn_rate(
    events: DataFrame,
    slo_budget: float = 0.25,
    long_window_hours: int = 6,
) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE workbook
    pattern): an alert fires only when BOTH the short (1 h) and long
    (``long_window_hours``) error-rate windows burn above budget —
    the short window gives speed, the long window kills flappy alerts
    on a single bad minute.

    Output: breaching hours —
    ``(hour, n_events, burn_1h, burn_Nh)`` with burn = rate / budget.

    Plan / 100 TB: facts collapse to HOUR grain in one shuffle (integer
    error/total counts); both rolling windows run over the hour-grain
    series (calendar-bounded).  Rolling counts are integer sums; the two
    divisions per row are the only float ops.
    """
    hr = F.date_trunc("hour", F.col("ts"))
    hourly = events.groupBy(hr.alias("hr")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("long")
        .alias("e"),
    )
    wl = Window.orderBy("hr").rowsBetween(-(long_window_hours - 1), 0)
    rolled = hourly.select(
        "hr", "n", "e",
        F.sum("n").over(wl).cast("long").alias("nl"),
        F.sum("e").over(wl).cast("long").alias("el"),
    )
    b1 = (
        F.col("e").cast("double") / F.col("n").cast("double")
    ) / F.lit(float(slo_budget))
    bl = (
        F.col("el").cast("double") / F.col("nl").cast("double")
    ) / F.lit(float(slo_budget))
    return rolled.filter((b1 > 1.0) & (bl > 1.0)).select(
        F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
        F.col("n").cast("bigint").alias("n_events"),
        F.round(b1, 6).alias("burn_1h"),
        F.round(bl, 6).alias(f"burn_{long_window_hours}h"),
    )


def holt_forecast_interval(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 7,
    q: float = 0.9,
) -> DataFrame:
    """``holt_forecast`` with a conformal-style interval: the fold also
    RECORDS each one-step-ahead |residual|, and the interval is
    forecast ± the q-quantile of those residuals — the distribution-free
    band ("90% of one-step errors were smaller than this") that turns a
    point forecast into an alerting threshold without a normality
    assumption.

    Same sequential fold as ``holt_forecast`` (the struct carries a
    residual ARRAY); the oracle recovers per-step residuals as
    consecutive differences of the recursion's cumulative |error| — no
    second fold formulation to keep in sync.

    Output per series (≥3 days): ``(event_type, n_days, forecast_h,
    resid_q, lo, hi)``.
    """
    a, ombeta, omalpha = float(alpha), 1.0 - float(beta), 1.0 - float(alpha)
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(F.col("event_type").alias("t"), day.alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    ser = daily.groupBy("t").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "n"))),
            lambda s: s["n"].cast("double"),
        ).alias("xs")
    ).filter(F.size("xs") >= 3)
    x1 = F.element_at("xs", 1)
    x2 = F.element_at("xs", 2)
    zero = F.struct(
        x1.alias("l"),
        (x2 - x1).alias("b"),
        F.array().cast("array<double>").alias("rs"),
    )
    rest = F.slice("xs", 3, F.greatest(F.size("xs") - 2, F.lit(0)))

    def step(acc, x):
        fc = acc["l"] + acc["b"]
        l2 = F.lit(a) * x + F.lit(omalpha) * fc
        b2 = F.lit(float(beta)) * (l2 - acc["l"]) + F.lit(ombeta) * acc["b"]
        return F.struct(
            l2.alias("l"),
            b2.alias("b"),
            F.concat(acc["rs"], F.array(F.abs(x - fc))).alias("rs"),
        )

    r = F.aggregate(rest, zero, step)
    folded = ser.select(
        "t",
        F.size("xs").cast("bigint").alias("n_days"),
        (r["l"] + F.lit(float(horizon)) * r["b"]).alias("fc"),
        r["rs"].alias("rs"),
    ).localCheckpoint(eager=False)
    resid = folded.select("t", F.explode("rs").alias("res"))
    rq = resid.groupBy("t").agg(
        F.percentile("res", F.lit(float(q))).alias("rq")
    )
    return folded.join(rq, "t").select(
        F.col("t").alias("event_type"),
        "n_days",
        F.round("fc", 6).alias("forecast_h"),
        F.round("rq", 6).alias("resid_q"),
        F.round(F.col("fc") - F.col("rq"), 6).alias("lo"),
        F.round(F.col("fc") + F.col("rq"), 6).alias("hi"),
    )


def classical_decompose_daily(
    daily: DataFrame,
) -> DataFrame:
    """Classical additive decomposition of a day-grain series:
    value = trend + seasonal + residual, where trend is the CENTERED
    7-day moving average, the seasonal term is the
    day-of-week mean of the DETRENDED series, and the residual is what
    neither explains — the STL-shaped upgrade of
    ``dow_seasonal_residuals`` (which has no trend term, so a growing
    series leaks growth into every weekday's "seasonal" mean).

    Output per day: ``(day, value, trend, seasonal, residual)``; edge
    days average over the window rows that exist (standard clipped
    frame), so the series keeps its full length.

    Plan / 100 TB: the input is already day-grain (thousands of rows
    from any corpus), so the unpartitioned centered window and the 7-row
    weekday profile are deliberate REDUCED-GRAIN operations — the
    pattern `tests/test_plan_shapes.py` pins for distinct-score grids.
    Upstream aggregation to day grain is the only corpus-sized work and
    belongs to the caller's scan.
    """
    w = Window.orderBy("day").rowsBetween(-3, 3)
    d = daily.select(
        F.col("day"),
        F.col("total").cast("double").alias("val"),
        (F.dayofweek("day") - 1).alias("dow"),  # 0=Sunday, matches DuckDB
    ).withColumn("trend", F.round(F.avg("val").over(w), 6))
    d = d.withColumn("detr", F.round(F.col("val") - F.col("trend"), 6))
    profile = d.groupBy("dow").agg(
        F.round(F.avg("detr"), 6).alias("seasonal")
    )
    return (
        d.join(F.broadcast(profile), "dow")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("val").alias("value"),
            "trend",
            "seasonal",
            F.round(
                F.col("val") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )


def conformal_interval_coverage(
    daily: DataFrame,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction interval, evaluated honestly: fit a
    day-of-week mean model on the FIRST 60% of the series,
    take the ceil((n_cal+1)(1-alpha))-th smallest absolute residual on
    the NEXT 20% as the interval half-width q̂ (the
    finite-sample-valid conformal quantile, Vovk et al.), and report the
    fraction of the held-out TAIL the interval actually covers.  Any
    forecast operator in this module can be audited the same way — the
    guarantee needs no distributional assumption, only exchangeability.

    Output: one row — ``(n_train, n_cal, n_test, q_hat, target_coverage,
    coverage)``.

    Plan / 100 TB: day-grain input (the caller's one corpus aggregate);
    the temporal split is a rank against broadcast count, the model is a
    7-row profile, and q̂ is one ordered rank over the calibration
    residuals — all reduced-grain by construction.
    """
    n1 = F.broadcast(daily.agg(F.count("*").cast("long").alias("n")))
    d = (
        daily.select(
            F.col("day"),
            F.col("total").cast("double").alias("val"),
            (F.dayofweek("day") - 1).alias("dow"),
        )
        .crossJoin(n1)
        .withColumn("rn", F.row_number().over(Window.orderBy("day")))
        .withColumn("n_train", F.floor(F.lit(0.6) * F.col("n")))
        .withColumn("n_cal", F.floor(F.lit(0.2) * F.col("n")))
    )
    train = d.filter(F.col("rn") <= F.col("n_train"))
    cal = d.filter(
        (F.col("rn") > F.col("n_train"))
        & (F.col("rn") <= F.col("n_train") + F.col("n_cal"))
    )
    test = d.filter(F.col("rn") > F.col("n_train") + F.col("n_cal"))
    profile = F.broadcast(
        train.groupBy("dow").agg(F.round(F.avg("val"), 6).alias("pred"))
    )
    gmean = F.broadcast(
        train.agg(F.round(F.avg("val"), 6).alias("gpred"))
    )

    def _resid(df):
        return (
            df.join(profile, "dow", "left")
            .crossJoin(gmean)
            .withColumn(
                "r",
                F.round(
                    F.abs(
                        F.col("val") - F.coalesce(F.col("pred"), F.col("gpred"))
                    ),
                    6,
                ),
            )
        )

    calr = _resid(cal).withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("r").asc(), F.col("day").asc()))
    )
    qpos = F.broadcast(
        cal.agg(
            F.least(
                F.ceil(
                    (F.count("*") + 1) * F.lit(1.0 - float(alpha))
                ).cast("long"),
                F.count("*").cast("long"),
            ).alias("k"),
            F.count("*").cast("bigint").alias("n_cal_rows"),
        )
    )
    qhat = F.broadcast(
        calr.crossJoin(qpos)
        .filter(F.col("rk") == F.col("k"))
        .select(F.col("r").alias("q_hat"), "n_cal_rows")
    )
    testr = _resid(test).crossJoin(qhat)
    cov = testr.agg(
        F.max("n_cal_rows").alias("n_cal"),
        F.count("*").cast("bigint").alias("n_test"),
        F.max("q_hat").alias("q_hat"),
        F.round(
            F.avg((F.col("r") <= F.col("q_hat")).cast("double")), 6
        ).alias("coverage"),
    )
    ntr = F.broadcast(
        train.agg(F.count("*").cast("bigint").alias("n_train"))
    )
    return cov.crossJoin(ntr).select(
        "n_train", "n_cal", "n_test", "q_hat",
        F.lit(round(1.0 - float(alpha), 6)).alias("target_coverage"),
        "coverage",
    )


def competing_risks_cif(
    durations: DataFrame,
    event_a: str = "a",
    event_b: str = "b",
) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING risks: when
    two absorbing events race (churn vs convert, purchase vs error),
    1 − KM(per-cause) OVERSTATES each cause's incidence because it
    treats the competitor as censoring; the CIF

        CIF_k(t) = Σ_{s≤t} S(s−) · d_k(s) / n(s)

    (with S the ALL-cause survival) is the estimate that actually sums
    to ≤ 1 across causes.  Input is one row per subject: duration and
    event type (``event_a`` / ``event_b`` / anything else = censored).

    Output per distinct event time: ``(dur, n_risk, d_a, d_b, surv,
    cif_a, cif_b)``.

    Plan / 100 TB: subject rows collapse to ONE duration-grain
    aggregate; the risk set, the survival product (as an exp of a
    DECIMAL-summed log cumulative — products don't commute across
    engines, log-sums do), and both CIF running sums are windows over
    that distinct-time grid (the reduced-grain pattern of
    ``km_survival``).  ln terms round to 9 dp before accumulation.
    """
    rows = durations.select(
        F.col("dur").cast("long").alias("dur"),
        F.col("etype").alias("et"),
    )
    grid = rows.groupBy("dur").agg(
        F.count("*").cast("long").alias("m"),
        F.sum((F.col("et") == event_a).cast("long")).cast("long").alias("d_a"),
        F.sum((F.col("et") == event_b).cast("long")).cast("long").alias("d_b"),
    ).localCheckpoint(eager=True)  # distinct-time grain: the total, the
    # risk-set window, and both CIF sums all read it — one subject scan
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wcur = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = F.broadcast(grid.agg(F.sum("m").cast("long").alias("n_total")))
    g = (
        grid.crossJoin(tot)
        .withColumn(
            "n_risk",
            F.col("n_total") - F.coalesce(F.sum("m").over(wprev), F.lit(0)),
        )
        .withColumn(
            # clamp: if every subject at risk fails at the last time,
            # 1 - d/n is an exact 0 and ln(0) poisons the cumulative
            "lnterm",
            F.round(
                F.log(
                    F.greatest(
                        F.lit(1e-9),
                        1.0
                        - (F.col("d_a") + F.col("d_b")).cast("double")
                        / F.col("n_risk"),
                    )
                ),
                9,
            ).cast("decimal(30,10)"),
        )
    )
    # S(s-) = exp of the EXCLUSIVE log cumulative
    g = g.withColumn(
        "surv_prev",
        F.exp(
            F.coalesce(F.sum("lnterm").over(wprev), F.lit(0).cast("decimal(30,10)"))
            .cast("double")
        ),
    )
    for k in ("a", "b"):
        g = g.withColumn(
            f"cif_{k}_t",
            F.round(
                F.col("surv_prev") * F.col(f"d_{k}") / F.col("n_risk"), 9
            ).cast("decimal(30,10)"),
        )
    out = g.select(
        "dur",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_a").cast("bigint").alias("d_a"),
        F.col("d_b").cast("bigint").alias("d_b"),
        F.round(
            F.exp(F.sum("lnterm").over(wcur).cast("double")), 6
        ).alias("surv"),
        F.round(
            F.sum("cif_a_t").over(wcur).cast("double"), 6
        ).alias("cif_a"),
        F.round(
            F.sum("cif_b_t").over(wcur).cast("double"), 6
        ).alias("cif_b"),
    )
    return out.filter((F.col("d_a") > 0) | (F.col("d_b") > 0))


def cusum_trajectory(
    events: DataFrame,
    drift_k: float = 0.5,
    alarm_h: float = 4.0,
) -> DataFrame:
    """Per-DAY CUSUM trajectory — ``cusum_changepoints`` reports each
    series' summary (max statistic, alarm count, first alarm day); this
    emits the full day-by-day path of both statistics, the view an
    on-call actually plots to read detection latency and reset behavior
    around a regime change.

    Identical arithmetic to ``cusum_changepoints``: z-normalized daily
    counts, the sequential max(0, ...) recursion telescoped to window
    algebra via s+_t = R_t − min(0, min_{j≤t} R_j) (the Lindley
    running-min trick — no per-series fold, no collected arrays).

    Output per (series, day): ``(event_type, day, n, z, cusum_pos,
    cusum_neg, alarm)`` with day formatted 'yyyy-MM-dd'.

    Plan / 100 TB: one fact shuffle to (type, day) counts; the windows
    run over day-grain rows partitioned by series (calendar-bounded);
    per-series moments join back broadcast.
    """
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(F.col("event_type").alias("t"), day.alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    st = daily.groupBy("t").agg(
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sq"),
        F.count("*").cast("long").alias("c"),
    )
    j = daily.join(F.broadcast(st), "t")
    mean = F.col("s").cast("double") / F.col("c")
    var = F.col("sq").cast("double") / F.col("c") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = (F.col("n").cast("double") - mean) / F.col("std")
    w = (
        Window.partitionBy("t")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        j.withColumn("std", std)
        .filter(F.col("std") > 0)
        .select(
            "t",
            "day",
            "n",
            z.alias("z"),
            F.sum(z - F.lit(drift_k)).over(w).alias("rp"),
            F.sum(-z - F.lit(drift_k)).over(w).alias("rn"),
        )
        .select(
            "t",
            "day",
            "n",
            "z",
            (F.col("rp") - F.least(F.min("rp").over(w), F.lit(0.0))).alias("sp"),
            (F.col("rn") - F.least(F.min("rn").over(w), F.lit(0.0))).alias("sn"),
        )
    )
    return scored.select(
        F.col("t").alias("event_type"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("bigint").alias("n"),
        F.round("z", 6).alias("z"),
        F.round("sp", 6).alias("cusum_pos"),
        F.round("sn", 6).alias("cusum_neg"),
        (
            (F.col("sp") > F.lit(float(alarm_h)))
            | (F.col("sn") > F.lit(float(alarm_h)))
        ).alias("alarm"),
    )


def ljung_box_q(
    events: DataFrame,
    max_lag: int = 14,
) -> DataFrame:
    """Ljung-Box portmanteau whiteness statistic over the daily
    event-count series — the STANDARD test on top of the ACF
    (:func:`daily_autocorrelation` reports the per-lag correlations;
    this cumulates them into the one number a monitoring gate
    thresholds: is the series white noise, or is there structure worth
    a seasonal model):

        Q_k = n (n + 2) · Σ_{j=1..k} r_j² / (n − j)

    Under whiteness Q_k ~ χ²_k; the caller compares against the
    chi-square critical value for its α (kept OUT of the engine — no
    cross-engine CDF arithmetic).

    Output per lag k: ``(lag, n_days, acf, q_stat)`` — acf is the
    6-dp-rounded r_k (identical to ``daily_autocorrelation``), and Q
    cumulates the ROUNDED r_j (both engines replay the identical
    doubles; per-lag terms round to 9 dp and cumulate as DECIMAL).

    Plan / 100 TB: the facts collapse to day grain ONCE (the shared
    ``_acf_core`` day table feeds both the ACF and the day count); the
    cumulative window runs over ≤ max_lag rows — model-sized, the
    benign unpartitioned-window case.
    """
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy(day.alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    daily = daily.localCheckpoint(eager=True)  # day-grain; two consumers
    acf = _acf_core(daily, max_lag, 6)
    n = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    staged = acf.crossJoin(F.broadcast(n))
    term = F.round(
        (F.col("acf") * F.col("acf")).cast("double")
        / (F.col("n_days") - F.col("lag")).cast("double"),
        9,
    )
    w = Window.orderBy(F.col("lag").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(term.cast("decimal(30,10)")).over(w).cast("double")
    return staged.select(
        "lag",
        "n_days",
        "acf",
        F.round(
            F.col("n_days").cast("double")
            * (F.col("n_days") + 2).cast("double")
            * cum,
            6,
        ).alias("q_stat"),
    )

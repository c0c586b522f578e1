"""Sketch / approximate aggregates for 100 TB-scale profiling.

The reference has no aggregation tree at all (SURVEY.md §2.4 — whole-frame
counts only, `src/rss_feed_etl/core/data_loader.py:203-207`), but a
training-data pipeline lives on cardinality and distribution profiles:
distinct users per day, p99 of a quality score, heavy-hitter sources.

Exact forms (``count_distinct``, ``percentile``) are the oracle-checked
baselines.  The scale path is the sketch pair:

- ``approx_count_distinct`` — HyperLogLog++.  One shuffle of fixed-size
  sketch buffers instead of the two-phase expand+dedup shuffle of exact
  DISTINCT; error ~rsd regardless of cardinality.
- ``percentile_approx`` — Greenwald-Khanna quantile digest.  Bounded
  memory per group vs the exact form's full sorted collection, and the
  digests merge associatively so partial aggregation stays map-side.

Both sketches are mergeable, so at 1000 executors the combine tree moves
kilobytes per group, not the column itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PCTS = [0.5, 0.9, 0.99]


def distinct_daily(events: DataFrame) -> DataFrame:
    """Exact distinct actors per day (the profile the sketches approximate).

    Spark plans exact DISTINCT-agg as a two-phase shuffle (expand on
    (day, user) then re-agg on day); correct but the expensive baseline.
    """
    return (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day")
    )


def approx_distinct_daily(
    events: DataFrame,
    rsd: float = 0.02,
) -> DataFrame:
    """HLL++ variant of :func:`distinct_daily` — single-shuffle, fixed
    memory, the form that survives a 100 TB event log."""
    return (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("n_users_approx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day")
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact interpolated p50/p90/p99 per group (≡ SQL ``quantile_cont``)."""
    p = F.percentile("value", F.lit(PCTS))
    return (
        events.groupBy("event_type")
        .agg(
            F.round(p[0], 4).alias("p50"),
            F.round(p[1], 4).alias("p90"),
            F.round(p[2], 4).alias("p99"),
            F.round(F.avg("value"), 4).alias("mean"),
        )
        .orderBy("event_type")
    )


def approx_value_percentiles(
    events: DataFrame,
) -> DataFrame:
    """GK-digest variant of :func:`value_percentiles`: rank error ≤
    1/10000 with O(10000) memory per group, mergeable partials."""
    p = F.percentile_approx("value", F.lit(PCTS), F.lit(10000))
    return (
        events.groupBy("event_type")
        .agg(
            F.round(p[0], 4).alias("p50"),
            F.round(p[1], 4).alias("p90"),
            F.round(p[2], 4).alias("p99"),
        )
        .orderBy("event_type")
    )


def heavy_hitters_topk(
    terms: DataFrame,
    k: int = 20,
    width: int = 1000,
) -> DataFrame:
    """Exact top-k terms via Misra-Gries candidate pruning — the 100 TB
    form of a frequency top-k.

    A plain ``groupBy(term).count()`` shuffles the ENTIRE vocabulary
    (billions of long-tail terms at corpus scale) to count the handful
    that matter.  Here each Arrow batch emits only its locally heavy terms
    (local count × width > batch size); by pigeonhole, any term with
    global frequency > N/width is locally heavy in at least one batch, so
    the union of candidates provably contains every global heavy hitter.
    The exact recount then runs with a broadcast semi-join filter BEFORE
    the shuffle — the exchange carries candidate terms only.

    Output equals the exact top-k whenever the k-th frequency exceeds
    N/width (size ``width`` generously: it only grows the candidate set).
    Candidates depend on physical batching, but any superset of the heavy
    set yields the same final answer, so the result is partitioning-
    independent under that condition.
    """
    from collections.abc import Iterator

    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(terms.sparkSession)
    col = "term"

    def local_heavy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            counts = b[col].value_counts()
            heavy = counts[counts * width > len(b)]
            yield pd.DataFrame({col: heavy.index})

    candidates = (
        terms.select(col)
        .mapInPandas(local_heavy, f"{col} string")
        .distinct()
    )
    return (
        terms.join(F.broadcast(candidates), on=col, how="left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col(col).asc())
        .limit(k)
    )


MAD_SCALE = 1.4826  # Φ⁻¹(0.75) normalization: MAD → σ under normality


def mad_outliers(
    df: DataFrame,
    z_cut: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier flagging via median absolute deviation:
    z = (x - median) / (MAD_SCALE · MAD); keep rows with |z| > ``z_cut``.

    Median/MAD (exact percentiles) resist the very outliers being hunted,
    unlike mean/stddev.  Two grouped exact-percentile aggregates over the
    group key, then a broadcast join back — the fact stream is scanned
    twice but never shuffled (per-group stats are dimension-sized).
    Exact percentile keeps the oracle comparable; at 100 TB swap in
    ``approx_percentile`` (same plan, sketch-mergeable) when the group's
    value list no longer fits the aggregation buffer.
    """
    med = df.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("__med")
    )
    mad = (
        df.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("__med")), 0.5).alias("__mad"),
            F.first("__med").alias("__med"),
        )
    )
    # nullif guards the all-identical group (MAD = 0): ANSI mode would
    # raise DIVIDE_BY_ZERO; NULL z is never an outlier, the right call
    z = (F.col("value") - F.col("__med")) / F.nullif(
        F.lit(MAD_SCALE) * F.col("__mad"), F.lit(0.0)
    )
    return (
        df.join(F.broadcast(mad), "event_type")
        .withColumn("robust_z", F.round(z, 4))
        .filter(F.abs("robust_z") > z_cut)
        .drop("__med", "__mad")
    )


def grouped_zscore(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    z_cut: float = 2.0,
) -> DataFrame:
    """Per-group z-score normalization with an outlier cut — the
    normalize-then-threshold step a multi-source corpus mix runs so one
    source's length/quality scale doesn't dominate another's (the
    mean/stddev complement of ``mad_outliers``: that HUNTS outliers
    robustly, this KEEPS the in-distribution mass per source).

    Plan: one grouped aggregate produces (mean, stddev) per group —
    dimension-sized — then a broadcast join back and a pure projection;
    the fact stream is never shuffled.  stddev is population form
    (sum-of-squares identity, spelled out so the oracle replays the same
    arithmetic rather than a Welford variant), rounded to 9dp before the
    z division.
    """
    stats = df.groupBy(group_col).agg(
        F.count("*").alias("__n"),
        F.sum(F.col(value_col).cast("double")).alias("__s"),
        F.sum(F.col(value_col).cast("double") * F.col(value_col)).alias("__ss"),
    )
    mean = F.col("__s") / F.col("__n")
    var = F.col("__ss") / F.col("__n") - mean * mean
    stats = stats.select(
        group_col,
        F.round(mean, 9).alias("__mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 9).alias("__sd"),
    )
    z = (F.col(value_col) - F.col("__mean")) / F.nullif(
        F.col("__sd"), F.lit(0.0)
    )
    return (
        df.join(F.broadcast(stats), group_col)
        .select(
            "doc_id",
            group_col,
            F.col(value_col).cast("double").alias(value_col),
            F.round(z, 6).alias("zscore"),
        )
        .filter(F.abs("zscore") <= z_cut)
    )


def distinct_rollup_sketched(
    df: DataFrame,
) -> DataFrame:
    """Mergeable distinct-count rollup: per-day HLL sketches of the key,
    then the MONTH estimate computed by UNIONING the day sketches — never
    re-scanning the facts.  This is the 100 TB pattern for cardinality
    dashboards: daily jobs persist tiny sketch blobs; any coarser rollup
    (week, month, all-time) is a sketch merge, not a data pass.

    Output: one row per month with the sketch-merged estimate AND the
    per-day-sum upper bound next to it.  Estimates are HLL (approximate,
    ±~1.6% at lg_k=12), so this query has no exact SQL oracle — the test
    suite asserts the estimate lands within the sketch's error envelope
    of the exact count.
    """
    day = F.date_trunc("day", F.col("ts"))
    daily = df.groupBy(day.alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.count_distinct("user_id").alias("exact_day"),
    )
    return (
        daily.groupBy(F.date_trunc("month", F.col("day")).alias("month"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct"),
            F.sum("exact_day").cast("bigint").alias("sum_daily_distinct"),
            F.count("*").cast("bigint").alias("n_days"),
        )
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            "est_distinct",
            "sum_daily_distinct",
            "n_days",
        )
    )


def global_percent_rank(
    df: DataFrame,
) -> DataFrame:
    """Exact global percent_rank of every row WITHOUT a global sort of the
    facts: quantize the value, count per distinct value, cumulate the
    counts over the VALUE-grain rows, and broadcast-join the rank back.

    ``percent_rank() OVER (ORDER BY v)`` on the raw facts forces every
    row through one partition; here only the distinct-value table (grid
    cardinality — bounded by the quantization, not the corpus) passes
    through the single-partition cumulative window, and the facts join it
    broadcast.  pr = count(values < v) / (N - 1), identical to SQL
    percent_rank including tie behavior.
    """
    v = F.round(F.col("value"), 2)
    counts = df.select(v.alias("v")).groupBy("v").agg(
        F.count("*").alias("cnt")
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = counts.select(
        "v", (F.sum("cnt").over(w) - F.col("cnt")).alias("below")
    )
    n1 = df.agg((F.count("*") - 1).alias("nm1"))
    return (
        df.select(F.col("event_id"), v.alias("v"))
        .join(F.broadcast(ranked), "v")
        .crossJoin(F.broadcast(n1))
        .select(
            "event_id",
            F.col("v").alias("value"),
            F.round(F.col("below") / F.col("nm1"), 6).alias("pct_rank"),
        )
    )


def contingency_chi2(
    df: DataFrame,
) -> DataFrame:
    """Per-cell chi-square contributions for the ``source`` × ``lang``
    contingency table — the distribution-shift detector a corpus refresh
    runs (is language mix independent of source, or did one source's mix
    drift?).  Cells with zero observations are materialized via a
    dimension cross join so the statistic is complete.

    Plan: one fact-grain shuffle to the (row, col) counts; row totals,
    column totals, and N are dimension-sized aggregates cross/broadcast
    joined back; the zero-cell grid is a cross join of the two DISTINCT
    dimension tables (tiny × tiny).  Facts are scanned once.
    """
    obs = df.groupBy(
        F.col("source").alias("r"), F.col("lang").alias("c")
    ).agg(F.count("*").alias("o"))
    rows = obs.groupBy("r").agg(F.sum("o").alias("rt"))
    cols = obs.groupBy("c").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = rows.select("r").crossJoin(cols.select("c"))
    full = (
        grid.join(obs, ["r", "c"], "left")
        .join(F.broadcast(rows), "r")
        .join(F.broadcast(cols), "c")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("r").alias("source"),
            F.col("c").alias("lang"),
            F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("observed"),
            F.round(F.col("rt") * F.col("ct") / F.col("n"), 6).alias(
                "expected"
            ),
        )
    )
    return full.withColumn(
        "chi2_contrib",
        F.round(
            F.pow(F.col("observed") - F.col("expected"), 2) / F.col("expected"),
            6,
        ),
    )


def mergeable_moments(
    df: DataFrame,
    value_col: str = "n_chars",
    shard_expr: str = "doc_id % 8",
) -> DataFrame:
    """Mean/variance computed the DISTRIBUTED way: per-shard (n, mean, M2)
    moments combined with the parallel-combine identity (Chan et al.) —
    combined M2 = Σ M2_i + Σ n_i·mean_i² − N·mean².  The oracle computes
    the same statistics DIRECTLY over the corpus, so a green row is a
    machine-checked proof the combine is lossless — the property that
    lets a 100 TB pipeline keep per-partition/per-day moment sketches and
    roll them up without re-scanning facts (same story as the HLL rollup,
    but exact).
    """
    shards = df.groupBy(F.expr(shard_expr).alias("shard")).agg(
        F.count("*").alias("n"),
        F.avg(value_col).alias("mean"),
        (F.var_pop(value_col) * F.count("*")).alias("m2"),
    )
    g = shards.agg(
        F.sum("n").alias("N"),
        (F.sum(F.col("n") * F.col("mean")) / F.sum("n")).alias("gmean"),
        F.sum("m2").alias("sm2"),
        F.sum(F.col("n") * F.col("mean") * F.col("mean")).alias("snm2"),
    )
    return g.select(
        F.col("N").cast("bigint").alias("n_rows"),
        F.round("gmean", 6).alias("mean"),
        F.round(
            F.sqrt(
                (F.col("sm2") + F.col("snm2") - F.col("N") * F.col("gmean") * F.col("gmean"))
                / F.col("N")
            ),
            6,
        ).alias("stddev_pop"),
    )


def countmin_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm-v1",
) -> DataFrame:
    """Count-min sketch table (Cormode & Muthukrishnan 2005): ``depth``
    independent md5-derived hash rows × ``width`` buckets, each cell the
    count of keys landing there.

    The sketch is depth×width rows TOTAL regardless of input size — one
    exploded groupBy builds it (partial aggregation makes the exchange
    carry at most depth×width rows per task), it merges across shards by
    cell-wise addition, and it broadcasts everywhere it is probed.  The
    fixed-size mergeable summary is the point at 100 TB: frequency
    estimates with ε ≈ e/width overcount and no second pass.
    """
    from ..functions.hashing import md5_bucket

    k = F.col(key_col).cast("string")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"),
                    (md5_bucket(F.concat(F.lit(f"{salt}:{r}:"), k)) % width).alias(
                        "bucket"
                    ),
                )
                for r in range(depth)
            ]
        )
    )
    return (
        df.select(cells.alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def countmin_estimates(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm-v1",
) -> DataFrame:
    """Probe the count-min sketch for every distinct key and report the
    estimate next to the exact count: est = min over rows of the key's
    cell.  The sketch only ever OVERcounts (collisions add), so
    ``est_n >= exact_n`` always; the gap is the collision error the width
    buys down.

    Plan: exact counts are one groupBy; the sketch (depth×width rows)
    joins back as a broadcast probed ``depth`` times per key — no second
    corpus shuffle.
    """
    from ..functions.hashing import md5_bucket

    exact = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("exact_n")
    )
    sketch = countmin_sketch(df, key_col, depth, width, salt)
    probes = exact.select(
        "key",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        (
                            md5_bucket(
                                F.concat(
                                    F.lit(f"{salt}:{r}:"), F.col("key").cast("string")
                                )
                            )
                            % width
                        ).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select("key", "exact_n", F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("key", "exact_n")
        .agg(F.min("n").alias("est_n"))
    )


# Poisson(1) CDF thresholds scaled to the mod-1e9+7 mixer range: weight k
# is the number of thresholds below the row-replicate's mixed integer —
# pure integer comparisons, no float inverse-CDF, identical in any engine.
_POIS1_TP = [367879443, 735758887, 919698609, 981011849, 996340160, 999405822, 999916765, 999989757]


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    n_boot: int = 40,
    salt: str = "boot-v1",
) -> DataFrame:
    """Per-group mean with a ~95% Poisson-bootstrap confidence interval
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams" —
    the bootstrap that works on a cluster): every (row, replicate) draws
    an independent Poisson(1) resampling weight, replicate means are
    weighted means, and the CI is the 2nd/(B−1)th of the B sorted
    replicate means.

    Weights are content-addressed and deterministic, with NO hash
    function in the hot path: the row id and an integer-folded salt feed
    a Lehmer-multiply + square mixer entirely in exact mod-1e9+7 integer
    arithmetic (every intermediate < 2^63, so Spark and DuckDB agree
    bit-for-bit), and each replicate's uniform draw is compared against
    precomputed integer CDF thresholds.  An earlier md5-per-(row,
    replicate) draw dominated the runtime — and hashing per row doesn't
    survive optimization, since Catalyst collapses the projection below
    the replicate explode and re-evaluates it per output row; integer
    mixing costs ~nothing per row either way (measured 4.8 s → ~1 s at
    sf0.1, B=40).  The replicate expansion is map-only; the only
    shuffles are the (group, replicate) partial-agg means — B×groups
    rows — and the B-row-per-group ranking window.  Replicate means are
    rounded to 6dp before ranking so CI selection is reproducible across
    engines.
    """
    from ..functions.hashing import MOD, salt_to_int

    s_int = salt_to_int(salt)
    h0 = (
        ((F.col(id_col).cast("bigint") % MOD + s_int) * 48271) % MOD
    )
    h0 = (h0 * h0) % MOD
    reps = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
        h0.alias("h0"),
        F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("b"),
    )
    u = (F.col("h0") * (F.col("b") + 2)) % MOD
    vmix = (u * u) % MOD
    w = sum(
        (F.when(vmix > F.lit(t), 1).otherwise(0) for t in _POIS1_TP),
        F.lit(0),
    )
    means = (
        reps.withColumn("w", w)
        .groupBy("g", "b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("v")) / F.sum("w"), 6
            ).alias("m")
        )
    )
    rank_w = Window.partitionBy("g").orderBy("m", "b")
    cis = (
        means.withColumn("rn", F.row_number().over(rank_w))
        .groupBy("g")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
            F.max(F.when(F.col("rn") == n_boot - 1, F.col("m"))).alias("ci_hi"),
        )
    )
    overall = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count("*").alias("n"), F.round(F.avg(value_col), 6).alias("mean")
    )
    return overall.join(cis, "g").select(
        F.col("g").alias(group_col), "n", "mean", "ci_lo", "ci_hi"
    )


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    salt: str = "dp-v1",
) -> DataFrame:
    """ε-differentially-private count release via the Laplace mechanism:
    noisy_n = n + Laplace(1/ε), the standard private-statistics export for
    per-group counts (sensitivity 1).

    The noise draw is seeded (md5 of salt:group → exact 2^-60-grain
    uniform → Laplace inverse CDF): deterministic here so the release is
    testable/oracle-checkable — in production the salt is a fresh secret
    per release, which is what makes the mechanism private.  Noise is
    rounded to 6dp before the add so libm ln() ulp differences cannot
    surface.  Group-grain all the way: one count aggregate, map-only
    noise.
    """
    from ..functions.hashing import md5_bucket

    counts = df.groupBy(F.col(group_col).alias("g")).agg(F.count("*").alias("n"))
    u = md5_bucket(F.concat(F.lit(salt + ":"), F.col("g").cast("string"))) / F.lit(
        float(1 << 60)
    )
    centered = u - F.lit(0.5)
    noise = F.round(
        -F.lit(1.0 / epsilon)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered)),
        6,
    )
    return counts.select(
        F.col("g").alias(group_col),
        F.col("n").cast("bigint").alias("exact_n"),
        F.round(F.col("n") + noise, 6).alias("noisy_n"),
    )


def winsorized_means(
    df: DataFrame,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Winsorized (clipped) per-group means: values below the group's
    ``lo`` quantile or above its ``hi`` quantile are clamped to those
    bounds before averaging — the robust mean that survives the fat tails
    raw averages drown in.

    Two passes at group grain: one exact-percentile aggregate whose
    group-sized result broadcasts back, then one clamp+mean over the
    facts.  Clip bounds are rounded to 9dp before the clamp so both
    engines clamp at identical thresholds.
    """
    g = F.col("event_type")
    q = df.groupBy(g.alias("g")).agg(
        F.round(F.percentile("value", F.lit(lo)), 9).alias("p_lo"),
        F.round(F.percentile("value", F.lit(hi)), 9).alias("p_hi"),
    )
    v = F.col("value").cast("double")
    clipped = F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi"))
    return (
        df.join(F.broadcast(q), g == F.col("g"))
        .groupBy(g.alias("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg(v), 6).alias("raw_mean"),
            F.round(F.avg(clipped), 6).alias("winsorized_mean"),
            F.max("p_lo").alias("p_lo"),
            F.max("p_hi").alias("p_hi"),
        )
    )


def combine_aggregates(
    old_agg: DataFrame,
    batch: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Incremental aggregate-table maintenance: fold an INSERT batch into
    a stored per-key aggregate (n, total, vmin, vmax, mean) without
    rescanning history — new = combine(stored, aggregate(batch)), using
    only associative statistics, so the stored table is all the state the
    pipeline ever needs.  (Deletions would break vmin/vmax — handle those
    with partition-level recompute, not decrements.)

    Plan shape (100 TB): the batch collapses to key grain map-side; the
    stored aggregate is already key grain; a full-outer merge on the key
    then costs |keys|, never |history|.  The history FACTS are never read
    — that is the point.
    """
    # Totals accumulate as decimal(30,10): stored + batch is then a pure
    # function of the value multiset, never of double addition order — the
    # same guard diff_in_diff carries (double partial sums can flip
    # round(·,2)/round(·,6) on boundary values).  The UNROUNDED decimal
    # rides out as ``total_exact`` and is what a persisting caller must
    # store and fold from (re-folding the 2dp display ``total`` drifts the
    # running sum ±0.005 per fold); when ``old_agg`` carries
    # ``total_exact`` it is preferred over ``total`` automatically.
    dec = "decimal(30,10)"
    fresh = batch.groupBy(F.col(key_col).alias("k")).agg(
        F.count("*").cast("bigint").alias("bn"),
        F.sum(F.col(value_col).cast(dec)).alias("btotal"),
        F.min(value_col).alias("bmin"),
        F.max(value_col).alias("bmax"),
    )
    stored_total = "total_exact" if "total_exact" in old_agg.columns else "total"
    stored = old_agg.select(
        F.col(key_col).alias("k"),
        F.col("n").alias("on_"),
        F.col(stored_total).cast(dec).alias("ototal"),
        F.col("vmin").alias("omin"),
        F.col("vmax").alias("omax"),
    )
    merged = stored.join(fresh, "k", "full_outer")
    n = F.coalesce("on_", F.lit(0)) + F.coalesce("bn", F.lit(0))
    zero = F.lit(0).cast("decimal(30,10)")
    exact = F.coalesce("ototal", zero) + F.coalesce("btotal", zero)
    total = exact.cast("double")
    return merged.select(
        F.col("k").alias(key_col),
        n.cast("bigint").alias("n"),
        F.round(total, 2).alias("total"),
        F.least(
            F.coalesce("omin", "bmin"), F.coalesce("bmin", "omin")
        ).alias("vmin"),
        F.greatest(
            F.coalesce("omax", "bmax"), F.coalesce("bmax", "omax")
        ).alias("vmax"),
        F.round(total / n, 6).alias("mean"),
        exact.cast(dec).alias("total_exact"),
    )


def weighted_percentiles(
    df: DataFrame,
    ps: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Weight-aware percentiles via the inverse CDF over a QUANTIZED value
    grid: the p-th weighted percentile is the smallest value whose
    cumulative weight reaches p·W.  Spark has no weighted percentile
    builtin; the usual workaround (explode each row weight times) is a
    corpus multiplier — this is the scalable form: quantize, aggregate
    weights per grid point, one cumulative window over the GRID (bounded
    by the value domain, not the corpus), then one conditional-min
    aggregate per requested percentile.

    All weights and grid values are exact integers; the only float is
    the p·W threshold, computed identically on both engines.

    Output (one row): ``(w_total, wp50, wp90, wp99, …)``.
    """
    v = F.round(F.col("l_extendedprice"), 0).cast("long")
    grid = df.groupBy(v.alias("v")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w")
    )
    cw = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tw = Window.partitionBy()
    c = grid.select(
        "v",
        F.sum("w").over(cw).cast("long").alias("cum"),
        F.sum("w").over(tw).cast("long").alias("wt"),
    )
    aggs = [F.max("wt").cast("bigint").alias("w_total")]
    for p in ps:
        tag = str(p).replace("0.", "").ljust(2, "0")
        aggs.append(
            F.min(
                F.when(
                    F.col("cum").cast("double")
                    >= F.lit(float(p)) * F.col("wt").cast("double"),
                    F.col("v"),
                )
            )
            .cast("bigint")
            .alias(f"wp{tag}")
        )
    return c.agg(*aggs)


def histogram_percentile_error(
    events: DataFrame,
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 100,
    ps: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Fixed-width-histogram percentiles with their MEASURED error
    against the exact percentile — the proof that a mergeable histogram
    (integer bucket counts, additively combinable across batches,
    shards, and days) answers percentile queries within one bucket
    width.  That mergeability is what an incremental pipeline needs:
    exact percentiles cannot be maintained under appends, histograms
    can.

    Estimate = lower edge of the first bucket whose cumulative count
    reaches ⌈p·N⌉ (a deterministic integer rule, no interpolation).
    Guaranteed |est − exact| ≤ bin width whenever the exact percentile
    lies in [lo, hi].

    Output per (group, p): ``(event_type, p, est, exact, abs_err,
    within_one_bin)``.

    Plan / 100 TB: one shuffle to (group, bucket) integer counts; the
    cumulative walk runs at bucket grain.  The exact baseline
    (``percentile``) is computed alongside for the audit — in production
    you'd drop it and keep only the histogram.
    """
    width = (hi - lo) / n_bins
    b = F.width_bucket(F.col("value"), F.lit(lo), F.lit(hi), F.lit(n_bins))
    hist = events.groupBy(F.col("event_type").alias("g"), b.alias("bucket")).agg(
        F.count("*").cast("long").alias("c")
    )
    cw = Window.partitionBy("g").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tw = Window.partitionBy("g")
    cum = hist.select(
        "g", "bucket",
        F.sum("c").over(cw).cast("long").alias("cum"),
        F.sum("c").over(tw).cast("long").alias("n"),
    )
    exact = events.groupBy(F.col("event_type").alias("g2")).agg(
        *[
            F.percentile("value", F.lit(p)).alias(f"ex{int(p * 100)}")
            for p in ps
        ]
    )
    rows = []
    for p in ps:
        tag = int(p * 100)
        # first bucket whose cum reaches ceil(p*n); bucket k spans
        # [lo + (k-1)w, lo + kw) -> estimate at the lower edge
        est = F.min(
            F.when(
                F.col("cum")
                >= F.ceil(F.lit(float(p)) * F.col("n").cast("double")),
                F.lit(lo) + (F.col("bucket") - 1).cast("double") * F.lit(width),
            )
        )
        rows.append((p, tag, est))
    per_g = cum.groupBy("g").agg(
        *[est.alias(f"est{tag}") for (_, tag, est) in rows]
    )
    j = per_g.join(F.broadcast(exact), per_g["g"] == exact["g2"])
    out_rows = [
        F.struct(
            F.lit(float(p)).alias("p"),
            F.round(F.col(f"est{tag}"), 6).alias("est"),
            F.round(F.col(f"ex{tag}"), 6).alias("exact"),
            F.round(F.abs(F.col(f"est{tag}") - F.col(f"ex{tag}")), 6).alias(
                "abs_err"
            ),
            (F.abs(F.col(f"est{tag}") - F.col(f"ex{tag}")) <= F.lit(width))
            .cast("int")
            .alias("within_one_bin"),
        )
        for (p, tag, _) in rows
    ]
    return j.select(
        F.col("g").alias("event_type"), F.explode(F.array(*out_rows)).alias("r")
    ).select(
        "event_type", "r.p", "r.est", "r.exact", "r.abs_err", "r.within_one_bin"
    )


def incremental_histogram_fold(
    old_hist: DataFrame,
    batch: DataFrame,
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 20,
) -> DataFrame:
    """Incremental fixed-width-histogram maintenance: fold an INSERT batch
    into a stored per-bucket histogram without rescanning history — the
    histogram twin of :func:`combine_aggregates`, exploiting that
    fixed-grid histograms are MERGEABLE (bucket-wise addition), which is
    the whole reason fixed grids beat exact quantiles at 100 TB.

    ``old_hist`` carries ``(bucket, n, total_exact)``; the batch
    aggregates to the same grid map-side and a full-outer merge on the
    small int bucket key costs |buckets|, never |history|.  Totals
    accumulate as decimal(30,10) (``total_exact``) and the 2dp ``total``
    is display-only — fold from the exact column (same drift rule as
    combine_aggregates).

    Output: ``(bucket, n, total, total_exact)``.
    """
    dec = "decimal(30,10)"
    fresh = batch.groupBy(
        F.width_bucket("value", F.lit(lo), F.lit(hi), F.lit(n_bins)).alias("b")
    ).agg(
        F.count("*").cast("bigint").alias("bn"),
        F.sum(F.col("value").cast(dec)).alias("btotal"),
    )
    stored_total = "total_exact" if "total_exact" in old_hist.columns else "total"
    stored = old_hist.select(
        F.col("bucket").alias("b"),
        F.col("n").alias("on_"),
        F.col(stored_total).cast(dec).alias("ototal"),
    )
    merged = stored.join(fresh, "b", "full_outer")
    zero = F.lit(0).cast(dec)
    n = F.coalesce("on_", F.lit(0)) + F.coalesce("bn", F.lit(0))
    exact = F.coalesce("ototal", zero) + F.coalesce("btotal", zero)
    return merged.select(
        F.col("b").cast("bigint").alias("bucket"),
        n.cast("bigint").alias("n"),
        F.round(exact.cast("double"), 2).alias("total"),
        exact.cast(dec).alias("total_exact"),
    )


def kmv_distinct_estimate(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 12,
) -> DataFrame:
    """K-minimum-values distinct sketch audit (Bar-Yossef et al. 2002) —
    the mergeable COUNT DISTINCT sketch theta/KMV lakehouse engines
    ship: hash every key to a uniform (0,1] value, keep only the k
    smallest, and estimate D = (k-1)/h_(k).  Unlike the HLL rollup
    (``approx_distinct_rollup``, non-SQL), KMV is EXACTLY expressible
    in both engines — the hash is the house md5 bucket normalized by
    2^60 (a power-of-two division, IEEE-exact) — so the driver oracle
    can hash-check the estimator itself, not just its row count.

    Per group AND for the union of all groups (the mergeability
    property: the union sketch is the k smallest of the pooled distinct
    hashes), reports the estimate against the exact distinct count.
    Groups holding fewer than k distinct keys return the sketch's exact
    content count (the standard small-cardinality mode).

    Output: ``(scope, exact_distinct, kmv_estimate, rel_err)`` — one
    row per group plus scope '__union__'.

    Plan / 100 TB: rows collapse to DISTINCT (group, hash) grain once
    (map-side partials, checkpointed — the per-group ranks, the union
    rank, and both exact counts all derive from it); the per-group
    k-smallest uses the two-stage partial rank (no group ever
    concentrates its full hash set in one task) and the union
    k-smallest is a TakeOrdered.  The only floats are the final
    normalizations and ratios.
    """
    from ..functions.hashing import md5_bucket

    two60 = float(1 << 60)
    hashed = (
        df.select(
            F.col(group_col).alias("g"),
            md5_bucket(F.col(key_col).cast("string")).alias("h"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    exact = hashed.groupBy("g").agg(F.count("*").cast("bigint").alias("nd"))

    staged = hashed.withColumn("__pid", F.spark_partition_id())
    w1 = Window.partitionBy("g", "__pid").orderBy(F.col("h").asc())
    w2 = Window.partitionBy("g").orderBy(F.col("h").asc())
    kth = (
        staged.withColumn("__pr", F.row_number().over(w1))
        .filter(F.col("__pr") <= k)
        .withColumn("r", F.row_number().over(w2))
        .filter(F.col("r") == k)
        .select("g", F.col("h").alias("hk"))
    )
    # hk == 0 guard (ADVICE r8): an all-zero md5 prefix (~2^-60 per key)
    # would make Spark's non-ANSI division NULL while DuckDB's double
    # division yields inf — both engines now return NULL for that edge.
    est = F.when(
        F.col("nd") < k, F.col("nd").cast("double")
    ).when(
        F.col("hk") > 0,
        F.round(
            F.lit(float(k - 1)) / (F.col("hk").cast("double") / F.lit(two60)),
            6,
        ),
    )
    per_group = (
        exact.join(kth, "g", "left")
        .select(
            F.col("g").cast("string").alias("scope"),
            F.col("nd").alias("exact_distinct"),
            est.alias("kmv_estimate"),
        )
    )
    u_exact = hashed.select("h").distinct()
    u_nd = u_exact.agg(F.count("*").cast("bigint").alias("nd"))
    u_kth = u_exact.orderBy(F.col("h").asc()).limit(k).agg(
        F.max("h").alias("hk")
    )
    u_est = F.when(
        F.col("nd") < k, F.col("nd").cast("double")
    ).when(
        F.col("hk") > 0,
        F.round(
            F.lit(float(k - 1)) / (F.col("hk").cast("double") / F.lit(two60)),
            6,
        ),
    )
    union_row = u_nd.crossJoin(F.broadcast(u_kth)).select(
        F.lit("__union__").alias("scope"),
        F.col("nd").alias("exact_distinct"),
        u_est.alias("kmv_estimate"),
    )
    out = per_group.unionByName(union_row)
    return out.select(
        "scope",
        "exact_distinct",
        "kmv_estimate",
        F.round(
            (F.col("kmv_estimate") - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double"),
            6,
        ).alias("rel_err"),
    )


def bloom_filter_plan(
    df: DataFrame,
    key_col: str = "user_id",
    bits_per_key: tuple[int, ...] = (4, 6, 8, 10, 12, 16),
) -> DataFrame:
    """Bloom-filter sizing planner — the design-time table behind every
    lakehouse bloom index (Parquet bloom filters, join-pruning blooms
    like ``bloom_prune_revenue``): for the MEASURED key cardinality n and
    each candidate bits-per-key ratio r, the optimal hash count
    k* = round(r·ln 2) and the resulting false-positive rate

        fpr = (1 − e^{−k/r})^k

    plus the filter's byte cost — the table that picks r before any
    filter is built (Bloom 1970; the standard m/n sizing identity).

    Output per candidate: ``(n_keys, bits_per_key, k_hashes, m_bits,
    filter_bytes, fpr)``.

    Plan / 100 TB: ONE distinct-count aggregate over the keys (map-side
    partial, exact), cross-joined with a literal candidate grid — the
    planner itself is model arithmetic.  Powers go through exp/ln on
    9-dp-rounded arguments (the ``lsh_param_plan`` idiom) so both
    engines replay the same floats.
    """
    ln2 = 0.6931471805599453
    n = df.agg(F.count_distinct(F.col(key_col)).cast("bigint").alias("n_keys"))
    cand = df.sparkSession.createDataFrame(
        [(int(r),) for r in bits_per_key], ["bits_per_key"]
    )
    grid = n.crossJoin(F.broadcast(cand))
    k = F.floor(F.col("bits_per_key") * F.lit(ln2) + F.lit(0.5)).cast("bigint")
    staged = grid.select(
        "n_keys",
        "bits_per_key",
        k.alias("k_hashes"),
        (F.col("n_keys") * F.col("bits_per_key")).cast("bigint").alias("m_bits"),
    )
    base = F.round(
        1.0
        - F.exp(
            -F.col("k_hashes").cast("double")
            / F.col("bits_per_key").cast("double")
        ),
        9,
    )
    fpr = F.round(
        F.exp(F.col("k_hashes").cast("double") * F.log(base)), 6
    )
    return staged.select(
        "n_keys",
        "bits_per_key",
        "k_hashes",
        "m_bits",
        F.ceil(F.col("m_bits").cast("double") / 8.0).cast("bigint").alias(
            "filter_bytes"
        ),
        fpr.alias("fpr"),
    )

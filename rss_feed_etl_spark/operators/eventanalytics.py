"""Event analytics over the events stream: ordered funnels, retention
cohorts, histograms, per-group quantile binning.

These generalize the reference's lookback-window counting (its only
event-style analysis, run_job_filter.py:112-152) into the standard
product-analytics operator set — and every one is a single-pass,
partition-friendly DataFrame program.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_stages(
    events: DataFrame,
    stages: list[str],
) -> DataFrame:
    """Ordered funnel: how many users completed stage k only counting
    events that occur AFTER their previous-stage completion (strict event
    order by (ts, id), so simultaneous timestamps resolve
    deterministically).

    One shuffle total: a single per-user window sorted once; each stage's
    "reached" flag is a running max chained on the previous stage's flag.
    Output: (stage_idx, stage, n_users), n_users non-increasing.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = events
    prev_flag = None
    flags = []
    for i, stage in enumerate(stages):
        hit = F.col("event_type") == stage
        if prev_flag is not None:
            hit = hit & (F.col(prev_flag) == 1)
        flag = f"__s{i}"
        df = df.withColumn(flag, F.max(F.when(hit, 1).otherwise(0)).over(w))
        prev_flag = flag
        flags.append(flag)
    per_user = df.groupBy("user_id").agg(
        *[F.max(f).alias(f) for f in flags]
    )
    counts = per_user.agg(
        *[F.sum(f).alias(f"n{i}") for i, f in enumerate(flags)]
    )
    stage_rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return counts.select(F.explode(stage_rows).alias("r")).select(
        "r.stage_idx", "r.stage", "r.n_users"
    )


def retention_cohorts(
    events: DataFrame,
) -> DataFrame:
    """Cohort retention: users grouped by first-activity day; for each
    (cohort day, day offset), how many of that cohort were active.

    Two aggregates sharing the user-key partitioning (distinct active days,
    then first day) and one final (cohort, offset) rollup — the cohort
    dimension is bounded by the calendar, never by users.
    """
    days = events.select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("day")
    ).distinct()
    firsts = days.groupBy("u").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(firsts, "u")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("offset_days"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def value_histogram(
    events: DataFrame,
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-width histogram via ``width_bucket`` — one partial-aggregated
    pass; bucket 0 / n_bins+1 catch underflow/overflow."""
    return (
        events.groupBy(
            F.width_bucket("value", F.lit(lo), F.lit(hi), F.lit(n_bins)).alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


def group_deciles(
    events: DataFrame,
    n: int = 10,
) -> DataFrame:
    """Per-group quantile binning (``ntile``) with (value, id) ordering so
    ties split deterministically; emits per-bin count and value range —
    the feature-bucketization primitive."""
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("decile", F.ntile(n).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


def last_touch_attribution(
    events: DataFrame,
    source_types: list[str],
    max_age_days: int = 7,
) -> DataFrame:
    """Attribute each conversion to the user's most recent prior source
    event (last-touch) within ``max_age_days``; conversions with no
    fresh-enough source attribute to 'direct'.

    The as-of pattern without a range join: one per-user window sorted by
    (ts, id) carries the last non-null source type/timestamp forward
    (``last(..., ignorenulls)``), so the plan is a single shuffle + sort —
    no per-conversion probe, no time-bucket explosion.  Output:
    (source, n_conversions, total_value).
    """
    src = F.when(F.col("event_type").isin(source_types), F.col("event_type"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = events.withColumn(
        "__src", F.last(src, ignorenulls=True).over(w)
    ).withColumn(
        "__src_ts",
        F.last(F.when(src.isNotNull(), F.col("ts")), ignorenulls=True).over(w),
    )
    fresh = F.col("__src_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {max_age_days} DAYS"
    )
    return (
        flagged.filter(F.col("event_type") == "purchase")
        .select(
            F.when(F.col("__src").isNotNull() & fresh, F.col("__src"))
            .otherwise(F.lit("direct"))
            .alias("source"),
            F.col("value"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_conversions"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def session_paths(
    events: DataFrame,
    top: int = 20,
) -> DataFrame:
    """Top-N session paths: sessionize (gap rule), concatenate each
    session's event types in time order into a ``a>b>c`` path string,
    count paths corpus-wide — clickstream pattern mining, the event-log
    analogue of the n-gram counting done on text.

    Plan: ONE per-user window chains the gap flags into session ids (the
    same single-shuffle shape as ``funnel_stages``); the path build is a
    per-(user, session) ``array_sort(collect_list(struct(ts, tiebreak,
    type)))`` — sorting inside the aggregate, deterministic under any
    partitioning, no second window; then a path-key count and top-k.
    Session grain is bounded by the gap rule, so the collected arrays are
    small regardless of corpus size.
    """
    base = events.select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("t"),
        F.col("event_id").alias("tb"),
        F.col("event_type").alias("et"),
    )
    w = Window.partitionBy("u").orderBy("t", "tb")
    gap_us = F.unix_micros(F.col("t")) - F.unix_micros(F.lag("t").over(w))
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 30 * 60_000_000), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessed = base.withColumn("sess", F.sum(new_sess).over(run))
    paths = (
        sessed.groupBy("u", "sess")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("t", "tb", "et"))),
                    lambda s: s["et"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(top)
    )


def daily_stickiness(
    events: DataFrame,
    window_days: int = 7,
) -> DataFrame:
    """DAU / rolling-WAU stickiness per day — the engagement-density
    metric (DAU/WAU, DAU/MAU) every growth dashboard carries.

    Rolling DISTINCT counts can't ride a window frame (count_distinct has
    no frame support and a naive per-day range self-join re-scans the
    facts per day).  Instead each (day, user) active pair CONTRIBUTES to
    the ``window_days`` trailing target days via one ``sequence`` explode
    — the explode runs over the already-deduped day-user pairs (tiny vs
    the raw facts), and the rolling distinct becomes a plain groupBy.
    Three shuffles total (day-user dedup, windowed distinct, daily
    distinct), all over day-user-grain rows.
    """
    day = F.date_trunc("day", F.col("ts"))
    day_users = events.select(
        day.alias("day"), F.col("user_id").alias("u")
    ).distinct()
    contrib = day_users.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr(f"INTERVAL {window_days - 1} DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("tday"),
        "u",
    )
    wau = contrib.groupBy("tday").agg(
        F.count_distinct("u").alias("window_active")
    )
    dau = day_users.groupBy("day").agg(F.count_distinct("u").alias("dau"))
    return (
        dau.join(wau, dau["day"] == wau["tday"])
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("window_active").cast("bigint").alias("window_active"),
            F.round(F.col("dau") / F.col("window_active"), 6).alias(
                "stickiness"
            ),
        )
    )


def churned_users(
    events: DataFrame,
    inactive_days: int = 7,
) -> DataFrame:
    """Users whose LAST activity is >= ``inactive_days`` before the
    corpus's max day — churn candidates.  One per-user aggregate plus a
    broadcast 1-row max; the fact stream is aggregated once and never
    joined against itself.
    """
    day = F.date_trunc("day", F.col("ts"))
    last = events.groupBy(F.col("user_id")).agg(
        F.max(day).alias("last_day")
    )
    mx = events.agg(F.max(day).alias("max_day"))
    return (
        last.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
            F.datediff("max_day", "last_day").cast("bigint").alias(
                "days_inactive"
            ),
        )
        .filter(F.col("days_inactive") >= inactive_days)
    )


def new_vs_returning(
    events: DataFrame,
) -> DataFrame:
    """Daily growth accounting: how many of each day's active users are
    NEW (first-ever day) vs RETURNING.  Day-user dedup, per-user min-day
    aggregate, then a user-key join and a daily rollup — all shuffles
    carry day-user-grain rows.
    """
    day = F.date_trunc("day", F.col("ts"))
    du = events.select(day.alias("day"), F.col("user_id").alias("u")).distinct()
    firsts = du.groupBy("u").agg(F.min("day").alias("first_day"))
    return (
        du.join(firsts, "u")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "new_users",
            "returning_users",
        )
    )


def event_type_lift(
    events: DataFrame,
) -> DataFrame:
    """Market-basket lift between event types co-occurring in the same
    user-day basket: lift(a,b) = P(a,b) · N / (P(a)·P(b)) over baskets —
    the cross-sell / co-engagement signal.

    No self-join: each basket's distinct types collect into one sorted
    array and the a<b pairs expand ARRAY-SIDE (the jaccard-pairs shape),
    so the only shuffles are basket-grain.  The basket count rides in as
    a broadcast 1-row aggregate.
    """
    bid = F.concat_ws(
        "#",
        F.col("user_id"),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"),
    )
    b = events.select(bid.alias("bid"), F.col("event_type").alias("t")).distinct()
    nb = b.agg(F.count_distinct("bid").alias("n_baskets"))
    per_type = b.groupBy("t").agg(F.count("*").alias("nt"))

    arrs = b.groupBy("bid").agg(F.sort_array(F.collect_set("t")).alias("ts"))
    pairs = arrs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ts"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ts"),
                            i + 2,
                            F.greatest(F.size("ts") - i - 1, F.lit(0)),
                        ),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")
    counts = pairs.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    pa = per_type.select(F.col("t").alias("a"), F.col("nt").alias("na"))
    pb = per_type.select(F.col("t").alias("b"), F.col("nt").alias("nb_"))
    return (
        counts.join(F.broadcast(pa), "a")
        .join(F.broadcast(pb), "b")
        .crossJoin(F.broadcast(nb))
        .select(
            "a",
            "b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                F.col("n_ab") * F.col("n_baskets") / (F.col("na") * F.col("nb_")),
                6,
            ).alias("lift"),
        )
    )


def decayed_popularity(
    events: DataFrame,
    half_life_days: float = 7.0,
) -> DataFrame:
    """Exponentially time-decayed popularity per item — the freshness-
    weighted ranking signal (an event ``half_life_days`` ago counts half
    as much as one now).  The decay anchor (corpus max timestamp) rides
    in as a broadcast 1-row aggregate; scoring is then one map-side
    expression + one item-key aggregate.  Per-event weights are rounded
    to 9dp before the sum so cross-engine fold order cannot move the 6dp
    score.
    """
    import math

    lam = math.log(2.0) / half_life_days
    mx = events.agg(F.max("ts").alias("mx"))
    age_days = (
        F.unix_micros(F.col("mx")) - F.unix_micros(F.col("ts"))
    ) / F.lit(86_400_000_000.0)
    return (
        events.crossJoin(F.broadcast(mx))
        .select(
            F.expr("CAST(get_json_object(props, '$.k') AS INT)").alias("item"),
            F.round(F.exp(-F.lit(lam) * age_days), 9).alias("w"),
        )
        .groupBy("item")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("w"), 6).alias("score"),
        )
    )


def trending_items(
    events: DataFrame,
    window_days: int = 7,
    top: int = 20,
) -> DataFrame:
    """Trending score per (item, day): today's event count against the
    item's trailing ``window_days``-day DAILY AVERAGE (missing days count
    as zero — the sum over a RANGE frame divided by the window width, not
    an average over only-present rows).  The burst detector behind every
    "trending now" ranking.

    Day×item grain after the first aggregate; the trailing frame is a
    per-item RANGE window over day ordinals — embarrassingly parallel
    across items, never a corpus-wide sort.  Top rows by (ratio, item,
    day) with the ratio rounded before ranking.
    """
    daily = (
        events.select(
            F.expr("CAST(get_json_object(props, '$.k') AS INT)").alias("item"),
            F.to_date("ts").alias("day"),
        )
        .groupBy("item", "day")
        .agg(F.count("*").alias("n"))
        .withColumn("day_idx", F.datediff("day", F.lit("1970-01-01")))
    )
    w = (
        Window.partitionBy("item")
        .orderBy("day_idx")
        .rangeBetween(-window_days, -1)
    )
    scored = (
        daily.withColumn("trail_sum", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .filter(F.col("trail_sum") > 0)
        .withColumn(
            "ratio",
            F.round(F.col("n") * F.lit(float(window_days)) / F.col("trail_sum"), 6),
        )
    )
    return (
        scored.select(
            "item",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n"),
            F.col("trail_sum").cast("bigint").alias("trail_sum"),
            "ratio",
        )
        .orderBy(F.col("ratio").desc(), F.col("item").asc(), F.col("day").asc())
        .limit(top)
    )


def _survival_risk_table(events: DataFrame, censor_days: int) -> DataFrame:
    """Shared duration-grain risk table for the survival estimators:
    per-user (``user_id``) lifetimes over ``ts`` with recency censoring,
    collapsed to ``(duration_days, n_events, n_censored, n_risk)``."""
    day = F.to_date("ts")
    per_user = events.groupBy("user_id").agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    horizon = events.agg(F.max(day).alias("max_day"))
    flagged = per_user.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").alias("duration_days"),
        (
            F.col("last_day") <= F.date_sub(F.col("max_day"), censor_days)
        ).cast("int").alias("is_event"),
    )
    grain = flagged.groupBy("duration_days").agg(
        F.sum("is_event").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("is_event")).cast("bigint").alias("n_censored"),
    )
    w_desc = (
        Window.orderBy(F.col("duration_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grain.withColumn(
        "n_risk", F.sum(F.col("n_events") + F.col("n_censored")).over(w_desc)
    )


def kaplan_meier(
    events: DataFrame,
    censor_days: int = 3,
) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes: a user's duration
    is last_seen − first_seen in days; users still active near the end of
    the observation window (last_seen within ``censor_days`` of the corpus
    max date) are right-censored, not churned.  S(t) = Π_{t'≤t} (1 −
    d_{t'}/n_{t'}) with deaths d and at-risk n — the standard estimator
    the lookback-window counting in the reference (run_job_filter.py:133)
    has no answer to.

    Plan shape (100 TB): one user-key aggregate (partial, map-side
    combined) collapses the event log to user grain; everything after is
    duration grain — at most ~max-lifetime-days rows — so the cumulative
    windows run on a provably tiny single partition and the observation
    horizon rides in as a broadcast 1-row aggregate, never a second scan
    of the facts.
    """
    at_risk = _survival_risk_table(events, censor_days)
    w_asc = (
        Window.orderBy(F.col("duration_days").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    frac = F.col("n_events") / F.col("n_risk")
    term = F.when(F.col("n_events") < F.col("n_risk"), F.log(1.0 - frac))
    dead = F.max((F.col("n_events") == F.col("n_risk")).cast("int")).over(w_asc)
    surv = F.when(dead == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.coalesce(F.sum(term).over(w_asc), F.lit(0.0))), 6)
    )
    return at_risk.select(
        "duration_days", "n_risk", "n_events", "n_censored",
        surv.alias("survival"),
    )


def time_decay_attribution(
    events: DataFrame,
    source_types: list[str],
    half_life_days: float = 7.0,
) -> DataFrame:
    """Multi-touch attribution with exponential time decay: every source
    touch before a conversion earns credit 0.5^(Δt/half_life), normalized
    so each conversion distributes exactly 1.0 across its touches;
    conversions with no prior touch attribute to 'direct'.  The fractional
    credit generalizes ``last_touch_attribution`` (winner-takes-all is the
    half_life→0 limit).

    Plan shape (100 TB): no touch×conversion pair join — the decayed sum
    telescopes: Σ 0.5^((T−t)/hl) = 0.5^(T/hl) · Σ 2^(t/hl), so one
    per-user window per source carries a running sum of 2^(t/hl) and each
    conversion reads its per-source credit off the running sums in O(1).
    One shuffle (the user window) plus a tiny source-grain aggregate.

    The rebase t → t − min(t | user) is PER USER (a plain min over the
    same user partition the running sums already shuffle on — no extra
    exchange, no broadcast): shares are normalized within each
    conversion, so the rebase cancels exactly, and the growth term
    2^(d/hl) now only needs one USER's history span, not the corpus
    span — a global rebase overflows to inf (NaN shares) once the corpus
    spans ~1023·half_life days, which 100 TB of multi-year logs with a
    7-day half-life would hit.
    """
    # fractional-epoch cast, not unix_timestamp: the latter truncates
    # sub-second precision, and micros/1e6 is the same IEEE division the
    # oracle's epoch() performs — bit-identical inputs to the decay pow
    sec = F.col("ts").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the per-user rebase min uses the SAME window spec as the running
    # sums: over ts-ascending rows the running min IS the partition min,
    # and sharing the spec means one sort + one exchange for all windows
    days = (sec - F.min(sec).over(w)) / F.lit(86400.0)
    ev = events.withColumn("__d", days)
    grow = F.pow(F.lit(2.0), F.col("__d") / F.lit(half_life_days))
    # one select for all running sums: separate withColumns leave separate
    # Window nodes in the plan; same spec in one projection collapses them
    ev = ev.select(
        "*",
        *[
            F.sum(F.when(F.col("event_type") == s, grow).otherwise(F.lit(0.0)))
            .over(w)
            .alias(f"__rs{i}")
            for i, s in enumerate(source_types)
        ],
    )
    shrink = F.pow(F.lit(2.0), -F.col("__d") / F.lit(half_life_days))
    conv = ev.filter(F.col("event_type") == "purchase")
    ws = [(F.col(f"__rs{i}") * shrink) for i in range(len(source_types))]
    total = sum(ws[1:], ws[0])
    arms = [
        F.struct(
            F.lit(s).alias("source"),
            F.when(total > 0, ws[i] / total).otherwise(F.lit(0.0)).alias("share"),
        )
        for i, s in enumerate(source_types)
    ] + [
        F.struct(
            F.lit("direct").alias("source"),
            F.when(total > 0, F.lit(0.0)).otherwise(F.lit(1.0)).alias("share"),
        )
    ]
    per_conv = conv.select(
        F.col("value"), F.explode(F.array(*arms)).alias("a")
    ).select("value", F.col("a.source").alias("source"), F.col("a.share").alias("share"))
    return per_conv.groupBy("source").agg(
        F.round(F.sum("share"), 3).alias("credited_conversions"),
        F.round(F.sum(F.col("share") * F.col("value")), 2).alias("credited_value"),
    )


def woe_binning(
    events: DataFrame,
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 10,
) -> DataFrame:
    """Weight-of-evidence binning of a numeric feature against a binary
    outcome — the classic scorecard/feature-prep transform: per value bin,
    WOE = ln( (pos_i+½)/P / ((neg_i+½)/N) ), plus each bin's information-
    value contribution (p_pos − p_neg)·WOE.  Tells a feature pipeline
    which value ranges separate converters from non-converters and by how
    much, with ½-smoothing so empty cells stay finite.

    Scale shape: one map-only bin assignment (fixed-width buckets — no
    global sort, no ntile single-partition hazard), one partial-aggregated
    groupBy at bin grain, and the global pos/neg totals ride in as a
    broadcast 1-row aggregate.  Fact rows are scanned once.
    """
    width = (hi - lo) / n_bins
    bucket = (
        F.when(F.col("value") < lo, F.lit(0))
        .when(F.col("value") >= hi, F.lit(n_bins + 1))
        .otherwise(
            F.floor((F.col("value") - lo) / width).cast("int") + 1
        )
    )
    is_pos = (F.col("event_type") == "purchase").cast("int")
    grain = (
        events.select(bucket.alias("bucket"), is_pos.alias("__p"))
        .groupBy("bucket")
        .agg(
            F.sum("__p").cast("bigint").alias("n_pos"),
            F.sum(1 - F.col("__p")).cast("bigint").alias("n_neg"),
        )
    )
    totals = grain.agg(
        F.sum("n_pos").cast("double").alias("P"),
        F.sum("n_neg").cast("double").alias("N"),
    )
    p_pos = (F.col("n_pos") + 0.5) / F.col("P")
    p_neg = (F.col("n_neg") + 0.5) / F.col("N")
    woe = F.log(p_pos / p_neg)
    return grain.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_pos",
        "n_neg",
        F.round(woe, 6).alias("woe"),
        F.round((p_pos - p_neg) * woe, 6).alias("iv_contrib"),
    )


def wilson_rate_intervals(
    events: DataFrame,
    z: float = 1.96,
) -> DataFrame:
    """Per-group conversion rate with a Wilson score interval — the
    A/B-readout aggregate: unlike the normal approximation, Wilson stays
    inside [0, 1] and behaves at small n / extreme rates, so segment
    tables don't show negative lower bounds on rare conversions.

        center = (p̂ + z²/2n) / (1 + z²/n),
        half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n).

    Plan shape (100 TB): one partial-aggregated groupBy (n, conversions)
    at segment grain; the interval is closed-form expression work on the
    aggregate row.
    """
    grp = F.expr("CAST(get_json_object(props, '$.k') AS INT) % 10")
    is_conv = (F.col("event_type") == "purchase").cast("int")
    g = events.select(grp.alias("segment"), is_conv.alias("c")).groupBy(
        "segment"
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("n_conv"),
    )
    n = F.col("n").cast("double")
    p = F.col("n_conv") / n
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return g.select(
        "segment", "n", "n_conv",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )


def funnel_latency(
    events: DataFrame,
) -> DataFrame:
    """Time-to-convert distribution: per user, the delay from the FIRST
    ``view`` event to the first ``purchase`` event after it; output
    is one row of funnel timing stats (converting users, conversion rate
    among exposed users, p50/p90 latency in seconds).

    Plan shape (100 TB): one per-user window pass carries the first-start
    timestamp forward; first-conversion-after-start is a per-user
    aggregate on the same partitioning; the percentile runs at
    converting-user grain.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start_ts = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    staged = events.withColumn("__start", start_ts)
    per_user = staged.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("s"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & F.col("__start").isNotNull(),
                F.col("ts"),
            )
        ).alias("e"),
    )
    lat = per_user.filter(F.col("s").isNotNull()).select(
        (F.col("e").cast("double") - F.col("s").cast("double")).alias("latency")
    )
    p = F.percentile(F.col("latency"), F.lit([0.5, 0.9]))
    return lat.agg(
        F.count("*").cast("bigint").alias("n_exposed"),
        F.count("latency").cast("bigint").alias("n_converted"),
        F.round(F.count("latency") / F.count("*"), 6).alias("conversion_rate"),
        F.round(p[0], 2).alias("latency_p50_s"),
        F.round(p[1], 2).alias("latency_p90_s"),
    )


def diff_in_diff(
    events: DataFrame,
    split_date: str,
) -> DataFrame:
    """Difference-in-differences estimate over the 2×2 (treated, post)
    design: DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
    with a large-sample standard error from the four cell variances —
    the workhorse readout for staged rollouts where randomization isn't
    per-event.

    Plan shape (100 TB): ONE partial-aggregated pass computes each cell's
    (n, mean, variance via sum/sumsq); the estimate is driver-free
    expression math on the 4-row aggregate.  Facts scanned once.
    """
    cell = F.concat_ws(
        "_",
        F.when(F.expr("user_id % 2 = 1"), F.lit("treat")).otherwise(F.lit("ctrl")),
        F.when(
            F.to_date("ts") >= F.lit(split_date), F.lit("post")
        ).otherwise(F.lit("pre")),
    )
    # decimal-exact sums: double accumulation order differs between map
    # partitions (and engines), and the 6dp rounding downstream would sit
    # inside that noise; exact sums make the means a pure function of the
    # multiset
    s1 = F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
    s2 = F.sum(
        (F.col("value") * F.col("value")).cast("decimal(30,10)")
    ).cast("double")
    g = events.groupBy(cell.alias("cell")).agg(
        F.count("*").cast("bigint").alias("n"),
        (s1 / F.count("*")).alias("m"),
        (
            s2 / F.count("*")
            - (s1 / F.count("*")) * (s1 / F.count("*"))
        ).alias("v"),
    )
    p = g.groupBy().pivot(
        "cell", ["treat_post", "treat_pre", "ctrl_post", "ctrl_pre"]
    ).agg(F.first("m").alias("m"), F.first("v").alias("v"), F.first("n").alias("n"))
    did = (
        (F.col("treat_post_m") - F.col("treat_pre_m"))
        - (F.col("ctrl_post_m") - F.col("ctrl_pre_m"))
    )
    se = F.sqrt(
        F.col("treat_post_v") / F.col("treat_post_n")
        + F.col("treat_pre_v") / F.col("treat_pre_n")
        + F.col("ctrl_post_v") / F.col("ctrl_post_n")
        + F.col("ctrl_pre_v") / F.col("ctrl_pre_n")
    )
    return p.select(
        F.round("treat_pre_m", 6).alias("treat_pre"),
        F.round("treat_post_m", 6).alias("treat_post"),
        F.round("ctrl_pre_m", 6).alias("ctrl_pre"),
        F.round("ctrl_post_m", 6).alias("ctrl_post"),
        F.round(did, 6).alias("did_estimate"),
        F.round(se, 6).alias("std_err"),
        F.round(did - 1.96 * se, 6).alias("ci_lo"),
        F.round(did + 1.96 * se, 6).alias("ci_hi"),
    )


def ordered_pair_episodes(
    events: DataFrame,
    within_hours: int = 24,
) -> DataFrame:
    """Sequential-episode support: how many users exhibit "A then B
    within T" (the sequence-mining building block funnels simplify away:
    this asks about ANY a→b occurrence, not first-touch order).

    Plan shape (100 TB): one per-user window carries the running LAST
    A-timestamp forward; a B row closes an episode iff the carried
    timestamp is within the window — no per-pair join, no time-bucket
    explosion; then a user-grain rollup.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_a = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    hit = (
        (F.col("event_type") == "purchase")
        & last_a.isNotNull()
        & (
            F.col("ts").cast("double") - last_a.cast("double")
            <= within_hours * 3600.0
        )
    )
    per_user = events.select(
        F.col("user_id").alias("u"),
        hit.cast("int").alias("h"),
        (F.col("event_type") == "view").cast("int").alias("a"),
    ).groupBy("u").agg(
        F.max("h").alias("converted"), F.max("a").alias("exposed"),
        F.sum("h").cast("bigint").alias("n_episodes"),
    )
    return per_user.agg(
        F.sum("exposed").cast("bigint").alias("n_exposed_users"),
        F.sum("converted").cast("bigint").alias("n_episode_users"),
        F.sum("n_episodes").cast("bigint").alias("n_episodes"),
        F.round(
            F.sum("converted") / F.greatest(F.sum("exposed"), F.lit(1)), 6
        ).alias("support"),
    )


def cohort_ltv(
    events: DataFrame,
) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-activity day;
    for each (cohort, day offset), the CUMULATIVE conversion revenue per
    cohort member — the payback-period readout retention counts can't
    give (retention says they came back; LTV says what that was worth).

    Plan shape (100 TB): one user-grain aggregate pins each user's cohort
    day; revenue rolls up to (cohort, offset) grain before the cumulative
    window, so the running sum runs over calendar-bounded rows — facts
    are scanned once and shuffled once (user key), never windowed.
    """
    from pyspark.sql import Window

    day = F.to_date("ts")
    firsts = events.groupBy(F.col("user_id").alias("u")).agg(
        F.min(day).alias("cohort_day")
    )
    sizes = firsts.groupBy("cohort_day").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    rev = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("u"), day.alias("d"), F.col("value"))
        .join(firsts, "u")
        .groupBy("cohort_day", F.datediff("d", "cohort_day").alias("offset_days"))
        .agg(F.sum("value").alias("__rev"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("offset_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(sizes, "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "offset_days",
            "cohort_size",
            F.round(F.sum("__rev").over(w) / F.col("cohort_size"), 4)
            .alias("cum_revenue_per_user"),
        )
    )


def cuped_adjustment(
    events: DataFrame,
) -> DataFrame:
    """CUPED variance reduction for a hash-split A/B readout: per user,
    split the window at the corpus midpoint into pre/post value sums,
    estimate θ = cov(pre, post)/var(pre) POOLED across arms, and report
    each arm's adjusted mean  post − θ·(pre − mean(pre))  plus the
    variance-reduction percentage — the standard trick that shrinks
    experiment runtimes by regressing out pre-period behavior
    (Deng et al., WSDM'13).

    Determinism: per-user pre/post sums accumulate as decimal(30,10) and
    quantize to integer CENTS, so every cross-user aggregate (Σx, Σxx,
    Σxy…) is an exact bigint and θ, means, and variances are a fixed
    sequence of scalar double ops — no float-sum ordering anywhere
    (pitfall #7).  Arm assignment uses the portable md5 hash (same as
    ``srm_check``), so the split itself is oracle-reproducible.

    Output per arm: ``(arm, n_users, mean_post, mean_adj,
    var_reduction_pct)`` in original value units.

    Plan / 100 TB: one fact-grain shuffle to user grain, one aggregate to
    ARM grain (2 rows), pooled sums via a window over those 2 rows.
    Integer headroom: cents² sums bound corpus value sums ≲ 3·10⁹ per
    user at bigint safety; rescale the quantization for larger ledgers.
    """
    from ..functions.hashing import token_code

    dec = "decimal(30,10)"
    e = F.col("ts").cast("double")
    bounds = F.broadcast(
        events.agg(
            F.min(e).alias("e0"), F.max(e).alias("e1")
        )
    )
    ev = events.crossJoin(bounds)
    mid = (F.col("e0") + F.col("e1")) / F.lit(2.0)
    v = F.col("value").cast(dec)
    per_user = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.sum(F.when(e < mid, v).otherwise(F.lit(0).cast(dec))).alias("pre"),
        F.sum(F.when(e >= mid, v).otherwise(F.lit(0).cast(dec))).alias("post"),
    )
    cents = per_user.select(
        (token_code(F.col("u").cast("string")) % 2).cast("int").alias("arm"),
        F.round(F.col("pre") * 100, 0).cast("long").alias("pc"),
        F.round(F.col("post") * 100, 0).cast("long").alias("qc"),
    )
    arms = cents.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pc").cast("long").alias("sx"),
        F.sum("qc").cast("long").alias("sy"),
        F.sum(F.col("pc") * F.col("pc")).cast("long").alias("sxx"),
        F.sum(F.col("qc") * F.col("qc")).cast("long").alias("syy"),
        F.sum(F.col("pc") * F.col("qc")).cast("long").alias("sxy"),
    )
    w = Window.partitionBy()
    g = arms.select(
        "*",
        F.sum("n").over(w).cast("long").alias("gn"),
        F.sum("sx").over(w).cast("long").alias("gsx"),
        F.sum("sy").over(w).cast("long").alias("gsy"),
        F.sum("sxx").over(w).cast("long").alias("gsxx"),
        F.sum("sxy").over(w).cast("long").alias("gsxy"),
    )
    gnd = F.col("gn").cast("double")
    theta = (
        gnd * F.col("gsxy").cast("double")
        - F.col("gsx").cast("double") * F.col("gsy").cast("double")
    ) / (
        gnd * F.col("gsxx").cast("double")
        - F.col("gsx").cast("double") * F.col("gsx").cast("double")
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    gmx = F.col("gsx").cast("double") / gnd
    var_post = F.col("syy").cast("double") / nd - my * my
    var_pre = F.col("sxx").cast("double") / nd - mx * mx
    cov = F.col("sxy").cast("double") / nd - mx * my
    var_adj = var_post + theta * theta * var_pre - F.lit(2.0) * theta * cov
    return g.select(
        F.col("arm"),
        F.col("n").cast("bigint").alias("n_users"),
        F.round(my / F.lit(100.0), 6).alias("mean_post"),
        F.round((my - theta * (mx - gmx)) / F.lit(100.0), 6).alias(
            "mean_adj"
        ),
        F.round(
            F.lit(100.0) * (F.lit(1.0) - var_adj / var_post), 6
        ).alias("var_reduction_pct"),
    )


def interevent_burstiness(
    events: DataFrame,
) -> DataFrame:
    """Burstiness index B = (σ−μ)/(σ+μ) of per-user inter-event gaps,
    pooled per event type (Goh & Barabási, 2008): B ≈ −1 for metronomic
    traffic, ≈ 0 for Poisson arrivals, → +1 for heavy bursts — the
    arrival-process fingerprint that tells a capacity planner whether a
    feed's daily mean is even usable.

    Gaps quantize to integer SECONDS (via exact integer microseconds →
    DIV), so all cross-row sums are exact bigints and σ/μ/B are scalar
    double math — deterministic under any partitioning.

    Output per type: ``(event_type, n_gaps, mean_gap_s, burstiness)``;
    types whose gaps are all identical (σ = 0) report B = −1 exactly.

    Plan / 100 TB: one window (lag) partitioned by (user, type) — the
    same shuffle sessionization uses — then one aggregate to type grain
    with map-side partials.  Gap² sums bound gaps ≲ 3·10⁶ s at bigint
    safety for 10⁶-row partitions; at larger horizons bucket gaps first.
    """
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        events.select(
            F.col("event_type").alias("t"),
            (us - F.lag(us).over(w)).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .select("t", F.expr("CAST(gap_us DIV 1000000 AS BIGINT)").alias("g"))
    )
    agg = gaps.groupBy(F.col("t").alias("event_type")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sq"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sig = F.sqrt(
        F.greatest(F.col("sq").cast("double") / nd - mu * mu, F.lit(0.0))
    )
    return agg.filter(F.col("n") >= 2).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(
            F.when((sig + mu) > 0, (sig - mu) / (sig + mu)).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("burstiness"),
    )


def peak_concurrency(
    events: DataFrame,
    session_seconds: int = 1800,
) -> DataFrame:
    """Peak simultaneous sessions per day via the classic sweep-line:
    every event opens a session ``[ts, ts + W)``, each session emits a +1
    at its (day-clipped) start and a −1 at its end, and the running sum
    of deltas ordered by time is the live-session count — its daily max
    is the number that sizes connection pools and rate limits.

    Sessions crossing midnight are split per day (a 30-min session spans
    ≤ 2 days, so the explode fan-out is bounded by 2×2 rows/event).
    Tie order is pinned at (ts, delta): a −1 sorts before a +1 at the
    same instant, the half-open-interval convention, so back-to-back
    sessions never double-count.  Max-of-running-sum is insensitive to
    ordering WITHIN an equal (ts, delta) group, so the result is
    deterministic.

    Output per day: ``(day, n_started, peak_concurrent)``.

    Plan / 100 TB: the only window is partitioned BY DAY over boundary
    rows (≤ 4× the day's events) — no global ordering exists anywhere.
    A hot day is a skew unit; AQE splits it, or pre-aggregate equal
    timestamps first.
    """
    s = F.col("ts")
    e = s + F.expr(f"INTERVAL {int(session_seconds)} SECONDS")
    days = F.sequence(
        F.date_trunc("day", s),
        F.date_trunc("day", e - F.expr("INTERVAL 1 MICROSECOND")),
        F.expr("INTERVAL 1 DAY"),
    )
    per_day = events.select(
        s.alias("s"), e.alias("e"), F.explode(days).alias("day")
    )
    bounds = per_day.select(
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.greatest(F.col("s"), F.col("day")).alias("t"),
                    F.lit(1).alias("d"),
                ),
                F.struct(
                    F.least(
                        F.col("e"), F.col("day") + F.expr("INTERVAL 1 DAY")
                    ).alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("b"),
    ).select("day", F.col("b.t").alias("t"), F.col("b.d").alias("d"))
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t").asc(), F.col("d").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = bounds.select("day", "d", F.sum("d").over(w).alias("live"))
    return run.groupBy("day").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_boundaries_in"),
        F.max("live").cast("bigint").alias("peak_concurrent"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_boundaries_in").alias("n_started"),
        "peak_concurrent",
    )


def positional_attribution(
    events: DataFrame,
    source_types: list[str],
    max_age_days: int = 7,
) -> DataFrame:
    """U-shaped (position-based) attribution, completing the family with
    ``last_touch_attribution`` and ``time_decay_attribution``: within each
    conversion's touch path, the FIRST and LAST source touches take 40%
    each and the middles split the remaining 20%; single-touch paths take
    100%, two-touch paths 50/50.  Conversions with no fresh-enough touch
    credit 'direct'.

    Touches bind to their user's NEXT conversion via one backward-looking
    window (first_value IGNORE NULLS over the following frame) — the
    same no-range-join as-of pattern as last-touch, mirrored exactly in
    the oracle.  Credited values quantize per summand to integer cents
    BEFORE the cross-conversion sum, so aggregation order cannot move
    the output (pitfall #7).

    Output: ``(source, n_touches, credited_value)`` including the
    'direct' row.

    Plan / 100 TB: two windows over the same (user-partitioned) sort —
    one binds touches to conversions, one ranks positions within a
    (user, conversion) path — then one aggregate to source grain.
    """
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    conv_id = F.when(F.col("event_type") == "purchase", F.col("event_id"))
    conv_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    conv_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    tagged = events.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("typ"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("id"),
        F.col("value").alias("val"),
        F.first(conv_id, ignorenulls=True).over(fwd).alias("cid"),
        F.first(conv_ts, ignorenulls=True).over(fwd).alias("cts"),
        F.first(conv_val, ignorenulls=True).over(fwd).alias("cval"),
    )
    age_ok = F.col("cts").cast("double") - F.col("ts").cast("double") <= F.lit(
        float(max_age_days * 86400)
    )
    touches = tagged.filter(
        F.col("typ").isin(source_types)
        & F.col("cid").isNotNull()
        & (F.col("cid") != F.col("id"))
        & age_ok
    )
    pw = Window.partitionBy("u", "cid").orderBy(F.col("ts").asc(), F.col("id").asc())
    pwd = Window.partitionBy("u", "cid").orderBy(
        F.col("ts").desc(), F.col("id").desc()
    )
    kw = Window.partitionBy("u", "cid")
    ranked = touches.select(
        "typ", "cval", "cid",
        F.row_number().over(pw).alias("rn"),
        F.row_number().over(pwd).alias("rd"),
        F.count("*").over(kw).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when(F.col("rn") == 1, F.lit(0.4))
        .when(F.col("rd") == 1, F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("k") - 2).cast("double"))
    )
    cents = F.round(credit * F.col("cval") * F.lit(100.0), 0).cast("long")
    by_source = ranked.select(
        F.col("typ").alias("source"), cents.alias("c")
    ).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.round(F.sum("c").cast("double") / F.lit(100.0), 2).alias(
            "credited_value"
        ),
    )
    matched = ranked.select("cid").distinct()
    direct = (
        events.filter(F.col("event_type") == "purchase")
        .join(matched, F.col("event_id") == matched["cid"], "left_anti")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.round(
                F.sum(F.round(F.col("value") * F.lit(100.0), 0).cast("long"))
                .cast("double")
                / F.lit(100.0),
                2,
            ).alias("credited_value"),
        )
        .select(F.lit("direct").alias("source"), "n_touches", "credited_value")
    )
    return by_source.unionByName(direct)


def nelson_aalen(
    events: DataFrame,
    censor_days: int = 3,
) -> DataFrame:
    """Nelson–Aalen cumulative hazard over the same censored user
    lifetimes as ``kaplan_meier``: H(t) = Σ_{t'≤t} d/n with standard
    error sqrt(Σ d/n²) — the estimator to use when hazard RATES (how
    fast are we losing users at day t) matter more than the survival
    level, and the numerically stabler input to a proportional-hazards
    fit.

    Plan: identical shape to KM (shared ``_survival_risk_table``) —
    facts collapse to user grain once, everything after runs at
    duration grain.  The cumulative float sums run in a fixed window
    order, so they're deterministic (same contract as KM's Π(1−d/n)).
    """
    at_risk = _survival_risk_table(events, censor_days)
    w_asc = (
        Window.orderBy(F.col("duration_days").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = F.col("n_events").cast("double")
    n = F.col("n_risk").cast("double")
    return at_risk.select(
        "duration_days", "n_risk", "n_events", "n_censored",
        F.round(F.sum(d / n).over(w_asc), 6).alias("cum_hazard"),
        F.round(
            F.sqrt(F.sum(d / (n * n)).over(w_asc)), 6
        ).alias("hazard_se"),
    )


def rfm_segments(
    events: DataFrame,
) -> DataFrame:
    """RFM segmentation: per user, Recency (days since last activity),
    Frequency (event count), Monetary (value sum), each scored 1–5 by
    corpus quintile thresholds, users grouped into the R×F×M segment
    grid — the classic lifecycle segmentation (at-risk whales vs new
    low-spenders) marketing and retention teams run weekly.

    Scores are threshold-based (score = 1 + #{quintile cuts the value
    exceeds}), not rank-based: thresholds come from one exact
    ``percentile`` aggregate over the USER-grain table and broadcast
    back, so no global ordering of users exists anywhere and ties score
    identically on both engines.  Scores ascend with the raw value
    (R5 = LONGEST ago — invert downstream if you want 5 = best).
    Monetary sums quantize to integer cents before aggregation.

    Output per segment: ``(r_score, f_score, m_score, n_users,
    avg_monetary)``.

    Plan / 100 TB: one fact shuffle to user grain; one 1-row percentile
    aggregate over users (exact percentile buffers the user metrics —
    swap for approx at extreme user counts); map-side scoring; one
    segment-grain rollup (≤125 rows).
    """
    dec = "decimal(30,10)"
    day = F.to_date("ts")
    per_user = events.groupBy(F.col("user_id").alias("u")).agg(
        F.max(day).alias("last_day"),
        F.count("*").cast("long").alias("freq"),
        F.round(F.sum(F.col("value").cast(dec)) * 100, 0)
        .cast("long")
        .alias("mon_c"),
    )
    horizon = events.agg(F.max(day).alias("max_day"))
    pu = per_user.crossJoin(F.broadcast(horizon)).select(
        F.datediff("max_day", "last_day").cast("long").alias("rec"),
        "freq", "mon_c",
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    cuts = F.broadcast(
        pu.agg(
            *[
                F.percentile(c, F.lit(q)).alias(f"{c}_{int(q * 100)}")
                for c in ("rec", "freq", "mon_c")
                for q in qs
            ]
        )
    )
    j = pu.crossJoin(cuts)

    def score(col: str):
        s = F.lit(1)
        for q in qs:
            s = s + (F.col(col).cast("double") > F.col(f"{col}_{int(q * 100)}")).cast(
                "int"
            )
        return s

    scored = j.select(
        score("rec").alias("r_score"),
        score("freq").alias("f_score"),
        score("mon_c").alias("m_score"),
        "mon_c",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(
            F.sum("mon_c").cast("double") / F.count("*").cast("double") / F.lit(100.0),
            2,
        ).alias("avg_monetary"),
    )


def simpsons_paradox_check(
    events: DataFrame,
) -> DataFrame:
    """Simpson's-paradox audit for the hash-split experiment: compare the
    arm-1 − arm-0 mean-value difference OVERALL against the same
    difference WITHIN each segment.  When the overall sign disagrees
    with the segments (the textbook aggregation reversal caused by
    unequal arm mix across segments), a naive top-line readout draws the
    wrong conclusion — this emits the per-segment evidence.

    Output: one row per segment plus an ``OVERALL`` row —
    ``(segment, n_arm0, n_arm1, mean_arm0, mean_arm1, diff,
    agrees_with_overall)``.

    Determinism: value sums quantize to integer cents per (segment, arm)
    cell; every mean/diff is scalar double math over exact bigints; the
    overall row reuses the SAME cell sums via a whole-table window over
    the segment-grain table (single fact scan).
    """
    from ..functions.hashing import token_code

    arm = (token_code(F.col("user_id").cast("string")) % 2).cast("int")
    dec = "decimal(30,10)"
    cells = events.groupBy(
        F.col("event_type").alias("seg"), arm.alias("arm")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum(F.col("value").cast(dec)) * 100, 0)
        .cast("long")
        .alias("sc"),
    )
    piv = cells.groupBy("seg").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("sc")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("arm") == 1, F.col("sc")).otherwise(0))
        .cast("long")
        .alias("s1"),
    )
    w = Window.partitionBy()
    tot = piv.select(
        "*",
        F.sum("n0").over(w).cast("long").alias("tn0"),
        F.sum("n1").over(w).cast("long").alias("tn1"),
        F.sum("s0").over(w).cast("long").alias("ts0"),
        F.sum("s1").over(w).cast("long").alias("ts1"),
    )

    def mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double") / F.lit(100.0)

    d_seg = mean("s1", "n1") - mean("s0", "n0")
    d_all = mean("ts1", "tn1") - mean("ts0", "tn0")
    seg_rows = tot.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        F.col("seg").alias("segment"),
        F.col("n0").cast("bigint").alias("n_arm0"),
        F.col("n1").cast("bigint").alias("n_arm1"),
        F.round(mean("s0", "n0"), 6).alias("mean_arm0"),
        F.round(mean("s1", "n1"), 6).alias("mean_arm1"),
        F.round(d_seg, 6).alias("diff"),
        (F.signum(d_seg) == F.signum(d_all)).cast("int").alias(
            "agrees_with_overall"
        ),
    )
    overall = (
        tot.limit(1)
        .select(
            F.lit("OVERALL").alias("segment"),
            F.col("tn0").cast("bigint").alias("n_arm0"),
            F.col("tn1").cast("bigint").alias("n_arm1"),
            F.round(mean("ts0", "tn0"), 6).alias("mean_arm0"),
            F.round(mean("ts1", "tn1"), 6).alias("mean_arm1"),
            F.round(d_all, 6).alias("diff"),
            F.lit(1).cast("int").alias("agrees_with_overall"),
        )
    )
    return seg_rows.unionByName(overall)


def user_hour_divergence(
    events: DataFrame,
    top_k: int = 20,
    min_events: int = 10,
) -> DataFrame:
    """Bot / automation screen: the ``top_k`` users whose hour-of-day
    activity histogram most diverges (KL) from the corpus's global
    diurnal profile.  Humans share the site's day-night rhythm; crawlers
    are uniform or spike at fixed hours — exactly what
    KL(user ‖ global) over 24 hour-buckets ranks.

    The per-user KL is a FIXED 24-term scalar expression over the
    pivoted hour counts (one conditional-sum aggregate, no per-user
    float accumulation order).  Global hour totals ride in broadcast.
    Users below ``min_events`` are skipped (KL of a 3-event histogram is
    noise).

    Output: ``(user_id, n_events, kl)`` — top_k by (kl desc, user asc).
    """
    hrs = list(range(24))
    h = F.hour(F.col("ts"))
    # lazy checkpoint: the global profile is an aggregate OF the user
    # table; without it the crossJoin's second branch would rescan the
    # facts.  A whole-table window here would SinglePartition the USER
    # grain — fine at 10⁴ users, wrong at 10⁹ — the 1-row aggregate
    # keeps partial aggregation distributed.
    per = events.groupBy(F.col("user_id").alias("u")).agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum((h == i).cast("int")).cast("long").alias(f"h{i}")
            for i in hrs
        ],
    ).localCheckpoint(eager=False)
    tot = per.agg(
        F.sum("n").cast("long").alias("gn"),
        *[F.sum(f"h{i}").cast("long").alias(f"g{i}") for i in hrs],
    )
    g = per.crossJoin(F.broadcast(tot))
    kl = None
    for i in hrs:
        p = F.col(f"h{i}").cast("double") / F.col("n").cast("double")
        q = F.col(f"g{i}").cast("double") / F.col("gn").cast("double")
        term = F.when(F.col(f"h{i}") > 0, p * F.log(p / q)).otherwise(F.lit(0.0))
        kl = term if kl is None else kl + term
    scored = g.filter(F.col("n") >= min_events).select(
        F.col("u").alias("user_id"),
        F.col("n").cast("bigint").alias("n_events"),
        F.round(kl, 6).alias("kl"),
    )
    return scored.orderBy(F.col("kl").desc(), F.col("user_id").asc()).limit(top_k)


def association_rules(
    events: DataFrame,
    min_support: float = 0.01,
    min_confidence: float = 0.2,
    max_items_per_basket: int = 50,
) -> DataFrame:
    """Directional association rules a→b over (user, day) baskets of
    items (``props.k``): support, confidence, and lift — the classic
    market-basket output that PMI (symmetric association) doesn't give:
    confidence is DIRECTIONAL, "given a, how often b?", which is what a
    recommender slot or a bundling decision actually consumes.

    Baskets above ``max_items_per_basket`` are dropped before the pair
    expansion (the standard hot-basket guard bounding the quadratic).
    All counts are exact integers; support/confidence/lift are scalar
    divisions mirrored in the oracle.

    Output: rules passing both thresholds —
    ``(antecedent, consequent, n_both, support, confidence, lift)``.
    """
    day = F.date_trunc("day", F.col("ts"))
    basket_cols = [F.col(c) for c in ("user_id",)] + [day.alias("dy")]
    items = (
        events.select(
            *basket_cols, F.get_json_object("props", "$.k").alias("item")
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    bkey = [*(str(c) for c in ("user_id",)), "dy"]
    sizes = items.groupBy(*bkey).agg(F.count("*").alias("c"))
    ok = sizes.filter(F.col("c") <= max_items_per_basket).select(*bkey)
    items = items.join(F.broadcast(ok), bkey).localCheckpoint(eager=False)
    nb_df = items.select(*bkey).distinct().agg(
        F.count("*").cast("long").alias("n_baskets")
    )
    item_counts = items.groupBy("item").agg(
        F.count("*").cast("long").alias("n_item")
    )
    a = items.select(*bkey, F.col("item").alias("ia"))
    b = items.select(*bkey, F.col("item").alias("ib"))
    pairs = (
        a.join(b, bkey)
        .filter(F.col("ia") != F.col("ib"))
        .groupBy(F.col("ia").alias("antecedent"), F.col("ib").alias("consequent"))
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    j = (
        pairs.join(
            F.broadcast(item_counts.withColumnRenamed("item", "antecedent")
                        .withColumnRenamed("n_item", "n_a")),
            "antecedent",
        )
        .join(
            F.broadcast(item_counts.withColumnRenamed("item", "consequent")
                        .withColumnRenamed("n_item", "n_b")),
            "consequent",
        )
    ).crossJoin(F.broadcast(nb_df))
    nb = F.col("n_baskets").cast("double")
    support = F.col("n_both").cast("double") / nb
    conf = F.col("n_both").cast("double") / F.col("n_a").cast("double")
    lift = conf / (F.col("n_b").cast("double") / nb)
    return j.filter(
        (support >= min_support) & (conf >= min_confidence)
    ).select(
        "antecedent", "consequent", "n_both",
        F.round(support, 6).alias("support"),
        F.round(conf, 6).alias("confidence"),
        F.round(lift, 6).alias("lift"),
    )


def panel_user_slopes(
    events: DataFrame,
    min_days: int = 3,
) -> DataFrame:
    """Panel trend: each user's OLS slope of daily value over their own
    day index, summarized by the slope distribution's quartiles — the
    longitudinal answer ("are INDIVIDUAL users growing?") that a single
    pooled trend line confounds with cohort mix (new low-value users
    arriving drags the pooled slope negative even when every user
    grows).

    Per-user slopes come from exact integer sums (day index × value
    cents) in one user-grain aggregate; the cross-user summary is an
    exact percentile over the user-grain slope column.

    Output (one row): ``(n_users, median_slope, p25_slope, p75_slope,
    frac_positive)`` — slope in value units per day.
    """
    dec = "decimal(30,10)"
    day = F.to_date("ts")
    daily = events.groupBy(
        F.col("user_id").alias("u"), day.alias("d")
    ).agg(
        F.round(F.sum(F.col("value").cast(dec)) * 100, 0)
        .cast("long")
        .alias("yc")
    )
    w = Window.partitionBy("u")
    idx = daily.select(
        "u",
        F.datediff("d", F.min("d").over(w)).cast("long").alias("x"),
        "yc",
    )
    per = idx.groupBy("u").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yc").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("yc")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / den / F.lit(100.0)
    slopes = per.filter((F.col("n") >= min_days) & (den > 0)).select(
        slope.alias("s")
    )
    return slopes.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.percentile("s", F.lit(0.5)), 6).alias("median_slope"),
        F.round(F.percentile("s", F.lit(0.25)), 6).alias("p25_slope"),
        F.round(F.percentile("s", F.lit(0.75)), 6).alias("p75_slope"),
        F.round(
            F.sum((F.col("s") > 0).cast("long")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("frac_positive"),
    )


def kitagawa_rate_decomposition(
    events: DataFrame,
) -> DataFrame:
    """Kitagawa/Oaxaca decomposition of a conversion-rate change between
    the corpus's two halves: ΔRate splits exactly into a RATE effect
    (Σ w₂ₛ·(r₂ₛ−r₁ₛ): did segments convert better?) and a MIX effect
    (Σ (w₂ₛ−w₁ₛ)·r₁ₛ: did traffic shift toward converting segments?) —
    the decomposition that stops "overall conversion fell" from being
    misread when it's purely a traffic-mix shift (the aggregate cousin
    of ``simpsons_paradox_check``).

    Here the unit is an EVENT and a segment's rate is the fraction of
    its events that are conversions; segments are event sources... wait —
    conversions ARE a type, so segments come from ``user_id`` parity
    cohorts (hash buckets) to keep the demo self-contained.

    Output: per-segment contributions + an ``OVERALL`` row whose two
    effects sum to the observed Δ.  All counts exact integers.
    """
    from ..functions.hashing import token_code

    e = F.col("ts").cast("double")
    b = F.broadcast(events.agg(F.min(e).alias("e0"), F.max(e).alias("e1")))
    ev = events.crossJoin(b)
    era = (e >= (F.col("e0") + F.col("e1")) / F.lit(2.0)).cast("int")
    seg = (token_code(F.col("user_id").cast("string")) % 4).cast("int")
    conv = (F.col("event_type") == "purchase").cast("int")
    cells = ev.groupBy(seg.alias("seg"), era.alias("era")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(conv).cast("long").alias("c"),
    )
    piv = cells.groupBy("seg").agg(
        F.sum(F.when(F.col("era") == 0, F.col("n")).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("era") == 1, F.col("n")).otherwise(0))
        .cast("long").alias("n2"),
        F.sum(F.when(F.col("era") == 0, F.col("c")).otherwise(0))
        .cast("long").alias("c1"),
        F.sum(F.when(F.col("era") == 1, F.col("c")).otherwise(0))
        .cast("long").alias("c2"),
    ).localCheckpoint(eager=False)
    tot = piv.agg(
        F.sum("n1").cast("long").alias("tn1"),
        F.sum("n2").cast("long").alias("tn2"),
        F.sum("c1").cast("long").alias("tc1"),
        F.sum("c2").cast("long").alias("tc2"),
    )
    g = piv.crossJoin(F.broadcast(tot))
    r1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    r2 = F.col("c2").cast("double") / F.col("n2").cast("double")
    w1 = F.col("n1").cast("double") / F.col("tn1").cast("double")
    w2 = F.col("n2").cast("double") / F.col("tn2").cast("double")
    seg_rows = g.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        F.col("seg").cast("string").alias("segment"),
        F.round(r1, 6).alias("rate_old"),
        F.round(r2, 6).alias("rate_new"),
        F.round(w2 * (r2 - r1), 6).alias("rate_effect"),
        F.round((w2 - w1) * r1, 6).alias("mix_effect"),
    )
    tr1 = F.col("tc1").cast("double") / F.col("tn1").cast("double")
    tr2 = F.col("tc2").cast("double") / F.col("tn2").cast("double")
    # the overall effects sum FOUR doubles — a plain sum() would add them
    # in partition order (engine-divergent).  Fixed-order scalar adds over
    # per-segment conditional sums keep the epilogue deterministic.
    base = g.select(
        F.col("seg"), (w2 * (r2 - r1)).alias("re"),
        ((w2 - w1) * r1).alias("me"), tr1.alias("tr1"), tr2.alias("tr2"),
    )
    agg1 = base.agg(
        F.first("tr1").alias("tr1"), F.first("tr2").alias("tr2"),
        *[
            F.sum(F.when(F.col("seg") == k, c).otherwise(F.lit(0.0))).alias(
                f"{nm}{k}"
            )
            for k in range(4)
            for nm, c in (("re", F.col("re")), ("me", F.col("me")))
        ],
    )
    sre = sum((F.col(f"re{k}") for k in range(1, 4)), F.col("re0"))
    sme = sum((F.col(f"me{k}") for k in range(1, 4)), F.col("me0"))
    overall = agg1.select(
        F.lit("OVERALL").alias("segment"),
        F.round(F.col("tr1"), 6).alias("rate_old"),
        F.round(F.col("tr2"), 6).alias("rate_new"),
        F.round(sre, 6).alias("rate_effect"),
        F.round(sme, 6).alias("mix_effect"),
    )
    return seg_rows.unionByName(overall)


def qini_curve(
    events: DataFrame,
    n_buckets: int = 10,
) -> DataFrame:
    """Qini (uplift gain) curve over score deciles for the hash-split
    experiment: rank users by a targeting score (here their value total
    — stand-in for a model score), then per cumulative top-k decile
    compare treated conversions against control conversions scaled to
    the treated exposure:  qini_k = ct_k − cc_k·(nt_k/nc_k).  The curve
    a targeting model is judged by — a useful model front-loads uplift
    into the top deciles; random targeting walks the diagonal.

    Deciles come from percentile THRESHOLDS over the user-grain score
    (broadcast, no global sort of users — the RFM trick); every curve
    input is an exact integer count and the cumulative window runs over
    ten bucket rows.

    Output per bucket (best score first): ``(bucket, n_treat, n_ctrl,
    conv_treat, conv_ctrl, qini)``.
    """
    from ..functions.hashing import token_code

    dec = "decimal(30,10)"
    per = events.groupBy(F.col("user_id").alias("u")).agg(
        F.round(F.sum(F.col("value").cast(dec)) * 100, 0)
        .cast("long")
        .alias("score"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    arm = (token_code(F.col("u").cast("string")) % 2).cast("int")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = F.broadcast(
        per.agg(
            *[
                F.percentile("score", F.lit(q)).alias(f"c{int(q * 100)}")
                for q in qs
            ]
        )
    )
    bucket = F.lit(1)
    for q in qs:
        bucket = bucket + (
            F.col("score").cast("double") > F.col(f"c{int(q * 100)}")
        ).cast("int")
    cells = (
        per.crossJoin(cuts)
        .select(arm.alias("arm"), bucket.alias("b"), "conv")
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long").alias("nt"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long").alias("nc"),
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
            .cast("long").alias("ct"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            .cast("long").alias("cc"),
        )
    )
    w = Window.orderBy(F.col("b").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "b",
        F.sum("nt").over(w).cast("long").alias("cnt"),
        F.sum("nc").over(w).cast("long").alias("cnc"),
        F.sum("ct").over(w).cast("long").alias("cct"),
        F.sum("cc").over(w).cast("long").alias("ccc"),
    )
    qini = F.col("cct").cast("double") - F.col("ccc").cast("double") * (
        F.col("cnt").cast("double") / F.col("cnc").cast("double")
    )
    return cum.filter(F.col("cnc") > 0).select(
        F.col("b").cast("bigint").alias("bucket"),
        F.col("cnt").cast("bigint").alias("n_treat"),
        F.col("cnc").cast("bigint").alias("n_ctrl"),
        F.col("cct").cast("bigint").alias("conv_treat"),
        F.col("ccc").cast("bigint").alias("conv_ctrl"),
        (F.round(qini, 6) + F.lit(0.0)).alias("qini"),
    )


def funnel_ab_compare(
    events: DataFrame,
    stages: list[str],
) -> DataFrame:
    """Ordered-funnel completion per experiment arm with a two-proportion
    z-test per stage — the "WHERE in the funnel did the treatment act?"
    readout: an overall conversion lift usually concentrates in one
    stage transition, and this locates it.

    Stage semantics are identical to ``funnel_stages`` (strict event
    order, running-max chaining); arms come from the portable hash split
    shared by the whole A/B toolkit.  All counts are exact integers; the
    pooled-variance z per stage is a scalar epilogue.

    Output per stage: ``(stage_idx, stage, n_arm0, n_arm1, rate_arm0,
    rate_arm1, z_score)`` — rates are vs each arm's user total.
    """
    from ..functions.hashing import token_code

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = events
    flags = []
    prev = None
    for i, stage in enumerate(stages):
        hit = F.col("event_type") == stage
        if prev is not None:
            hit = hit & (F.col(prev) == 1)
        flag = f"__s{i}"
        df = df.withColumn(flag, F.max(F.when(hit, 1).otherwise(0)).over(w))
        prev = flag
        flags.append(flag)
    per_user = df.groupBy("user_id").agg(
        *[F.max(f).alias(f) for f in flags]
    )
    arm = (token_code(F.col("user_id").cast("string")) % 2).cast("int")
    agg = per_user.select(arm.alias("arm"), *flags).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long").alias("u0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long").alias("u1"),
        *[
            F.sum(F.when(F.col("arm") == a, F.col(f)).otherwise(0))
            .cast("long")
            .alias(f"s{i}a{a}")
            for i, f in enumerate(flags)
            for a in (0, 1)
        ],
    )
    rows = []
    for i, stage in enumerate(stages):
        c0 = F.col(f"s{i}a0").cast("double")
        c1 = F.col(f"s{i}a1").cast("double")
        n0 = F.col("u0").cast("double")
        n1 = F.col("u1").cast("double")
        p0 = c0 / n0
        p1 = c1 / n1
        pp = (c0 + c1) / (n0 + n1)
        var = pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
        z = F.when(var > 0, (p1 - p0) / F.sqrt(var))
        rows.append(
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.col(f"s{i}a0").cast("bigint").alias("n_arm0"),
                F.col(f"s{i}a1").cast("bigint").alias("n_arm1"),
                F.round(p0, 6).alias("rate_arm0"),
                F.round(p1, 6).alias("rate_arm1"),
                F.round(z, 6).alias("z_score"),
            )
        )
    return agg.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.stage_idx", "r.stage", "r.n_arm0", "r.n_arm1",
        "r.rate_arm0", "r.rate_arm1", "r.z_score",
    )


def topk_persistence(
    events: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Persistence of daily top-k items: for each item (``props.k``),
    how many days it ranked in the day's top-k by event count, and its
    LONGEST consecutive-day streak — separating durable catalog heads
    from one-day spikes, the stability signal a trending module needs
    before promoting an item.

    The streak uses the gaps-and-islands identity: within an item,
    day_index − row_number is CONSTANT across consecutive days, so
    islands fall out of one groupBy — no iterative logic.

    Output per item ever in a top-k: ``(item, n_days_in_topk,
    max_streak)``.

    Plan / 100 TB: one shuffle to (day, item) counts; ranking windows
    run per day over item-grain rows; island detection per item over its
    qualifying days (≤ calendar length).
    """
    day = F.date_trunc("day", F.col("ts"))
    daily = events.select(
        day.alias("day"), F.get_json_object("props", "$.k").alias("item")
    ).filter(F.col("item").isNotNull()).groupBy("day", "item").agg(
        F.count("*").cast("long").alias("n")
    )
    rw = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("item").asc()
    )
    top = daily.withColumn("r", F.row_number().over(rw)).filter(
        F.col("r") <= k
    )
    d0 = F.broadcast(top.agg(F.min("day").alias("d0")))
    idx = top.crossJoin(d0).select(
        "item", F.datediff("day", "d0").cast("long").alias("di")
    )
    iw = Window.partitionBy("item").orderBy("di")
    isl = idx.select(
        "item", "di",
        (F.col("di") - F.row_number().over(iw)).alias("grp"),
    )
    streaks = isl.groupBy("item", "grp").agg(
        F.count("*").cast("long").alias("len")
    )
    return streaks.groupBy("item").agg(
        F.sum("len").cast("bigint").alias("n_days_in_topk"),
        F.max("len").cast("bigint").alias("max_streak"),
    )


def next_item_training_pairs(
    events: DataFrame,
    n_neg_buckets: int = 1024,
    salt: str = "nitp-v1",
) -> DataFrame:
    """(context_item → next_item) training pairs from per-user event
    sequences — the supervised examples a sequential recommender / next-
    token-over-items model trains on, mined straight from the event log.
    Self-transitions (item repeated back-to-back) are dropped; each pair
    carries a deterministic ``neg_bucket`` (md5 of salt:user:event_id mod
    ``n_neg_buckets``) so downstream negative sampling joins a hash
    bucket instead of scanning the item vocabulary per pair.

    Plan / 100 TB: ONE window per user partition (lead over ts) — the
    shuffle key is the user id, the natural partitioning of an event log,
    and no global sort exists.  Everything else is map-side expression.
    """
    from ..functions.hashing import md5_bucket

    base = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.expr("CAST(get_json_object(props, '$.k') AS INT)").alias("context_item"),
            F.col("ts").alias("__ts"),
            F.col("event_id"),
        )
        .filter(F.col("context_item").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("__ts", "event_id")
    paired = base.select(
        "user_id",
        "context_item",
        F.lead("context_item").over(w).alias("next_item"),
        "event_id",
    )
    neg = md5_bucket(
        F.concat_ws(":", F.lit(salt), F.col("user_id"), F.col("event_id"))
    ) % F.lit(n_neg_buckets)
    return paired.filter(
        F.col("next_item").isNotNull()
        & (F.col("next_item") != F.col("context_item"))
    ).select(
        "user_id",
        "context_item",
        "next_item",
        neg.cast("bigint").alias("neg_bucket"),
    )


def shapley_attribution(
    events: DataFrame,
    channels: tuple[str, ...] = ("click", "error", "signup", "view"),
) -> DataFrame:
    """EXACT Shapley-value attribution (the game-theoretic gold standard
    the heuristics in this module — last-touch, time-decay, positional —
    approximate): each converting user's journey is its distinct set of
    pre-conversion channels; the characteristic function v(T) = number
    of conversions whose channel set ⊆ T; channel i's credit is the
    Shapley sum  Σ_{T∌i} |T|!(n-|T|-1)!/n! · (v(T∪{i}) − v(T)).
    Credits over all channels sum to the attributable conversions
    (efficiency axiom) — the property no heuristic here satisfies
    against a coalition-aware v.

    Tractability is structural, not sampled: with n channels the whole
    lattice is 2^n subsets — channel alphabets are single digits in any
    real funnel, so the lattice frame is dozens of rows.

    Output per channel: ``(channel, shapley_credit, n_conversions)``.

    Plan / 100 TB: ONE user-grain aggregate turns the event stream into
    journey bitmasks (map-side partials; the corpus is touched once);
    everything after runs on the ≤2^n-row mask/lattice frames.  Shapley
    weights enter as exact integer numerators over the common n!
    denominator, so the arithmetic is pure integers until one final
    division.
    """
    import math

    chans = list(channels)
    n = len(chans)
    if n > 16:
        raise ValueError(f"channel alphabet too large for the exact lattice: {n}")
    spark = events.sparkSession
    first_conv = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("u"))
        .agg(F.min("ts").alias("conv_ts"))
    )
    pre = (
        events.join(first_conv, events["user_id"] == F.col("u"))
        .filter(
            (F.col("ts") < F.col("conv_ts"))
            & (F.col("event_type") != "purchase")
        )
        .select("u", F.col("event_type").alias("t"))
        .distinct()
    )
    masks = (
        pre.withColumn(
            "b",
            sum(
                (F.when(F.col("t") == c, F.lit(1 << i)).otherwise(F.lit(0)))
                for i, c in enumerate(chans)
            ),
        )
        .groupBy("u")
        .agg(F.sum("b").cast("long").alias("mask"))
        .filter(F.col("mask") > 0)
        .groupBy("mask")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    subsets = spark.range(1 << n).select(F.col("id").cast("long").alias("T"))
    v = (
        subsets.join(
            masks,
            F.col("mask").bitwiseAND(F.col("T")) == F.col("mask"),
            "left",
        )
        .groupBy("T")
        .agg(F.sum(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("v"))
    )
    # exact weights: numerator t!(n-1-t)! over common denominator n!
    numer = {t: math.factorial(t) * math.factorial(n - 1 - t) for t in range(n)}
    denom = math.factorial(n)
    wexpr = None
    for t, num in numer.items():
        cond = F.bit_count(F.col("T")) == t
        wexpr = (
            F.when(cond, F.lit(num))
            if wexpr is None
            else wexpr.when(cond, F.lit(num))
        )
    chan_rows = spark.createDataFrame(
        [(c, 1 << i) for i, c in enumerate(chans)], ["channel", "bit"]
    )
    pairs = (
        v.alias("a")
        .crossJoin(F.broadcast(chan_rows))
        .filter(F.col("a.T").bitwiseAND(F.col("bit")) == 0)
        .join(
            v.select(F.col("T").alias("Ti"), F.col("v").alias("vi")).alias("b"),
            F.col("a.T") + F.col("bit") == F.col("Ti"),
        )
        .select(
            "channel",
            (wexpr * (F.col("vi") - F.col("a.v"))).alias("term"),
        )
    )
    totals = F.broadcast(
        masks.agg(F.sum("cnt").cast("bigint").alias("n_conversions"))
    )
    return (
        pairs.groupBy("channel")
        .agg(F.sum("term").cast("long").alias("num"))
        .crossJoin(totals)
        .select(
            "channel",
            F.round(F.col("num").cast("double") / F.lit(float(denom)), 6)
            .alias("shapley_credit"),
            "n_conversions",
        )
    )


def click_position_bias(
    events: DataFrame,
) -> DataFrame:
    """Rank-CTR position-bias curve (the COEC denominator every
    counterfactual learning-to-rank pipeline needs): per display
    position, impressions, clicks, CTR, and the bias ratio vs position
    1 — the examination probability a propensity-weighted training run
    divides by.  Feeding raw clicks to a ranker without this curve
    bakes "position 1 gets clicked" into the model as relevance.

    Output per position: ``(position, impressions, clicks, ctr,
    bias_vs_top)``.

    Plan / 100 TB: one conditional-sum aggregate at position grain
    (map-side partials over the event scan); the position-1 CTR rides
    back as a broadcast 1-row frame.  Integer counts; floats only in
    the two final ratios.
    """
    rows = events.select(
        F.col("position"),
        (F.col("event_type") == "view").cast("long").alias("imp"),
        (F.col("event_type") == "click").cast("long").alias("clk"),
    )
    g = rows.groupBy("position").agg(
        F.sum("imp").cast("bigint").alias("impressions"),
        F.sum("clk").cast("bigint").alias("clicks"),
    )
    g = g.withColumn(
        "ctr",
        F.when(
            F.col("impressions") > 0,
            F.round(
                F.col("clicks").cast("double")
                / F.col("impressions").cast("double"),
                6,
            ),
        ),
    )
    # The anchor rides back as an ALWAYS-one-row aggregate (max over the
    # conditional), not a filter: with no position-1 row a filtered frame
    # is EMPTY and the cross join silently erases every position, whereas
    # the aggregate yields a null top_ctr and keeps the full curve with
    # bias_vs_top = null — the scalar-subquery semantics the SQL oracle
    # already has.
    top = F.broadcast(
        g.agg(
            F.max(F.when(F.col("position") == 1, F.col("ctr"))).alias("top_ctr")
        )
    )
    return g.crossJoin(top).select(
        "position", "impressions", "clicks", "ctr",
        F.when(
            F.col("top_ctr") > 0,
            F.round(F.col("ctr") / F.col("top_ctr"), 6),
        ).alias("bias_vs_top"),
    )


def ipw_treatment_effect(
    df: DataFrame,
) -> DataFrame:
    """Inverse-propensity-weighted treatment effect with stratum-
    estimated propensities and Hájek (self-normalized) weighting — the
    observational companion to ``diff_in_diff``/``cuped_adjustment``:
    when treatment assignment varies by an observed stratum, the naive
    treated-minus-control mean confounds the stratum effect; weighting
    each unit by 1/p̂ (treated) or 1/(1−p̂) (control), with p̂ the
    stratum's empirical treatment rate, removes it.

        ATE_ipw = Σ_t y/p̂ / Σ_t 1/p̂  −  Σ_c y/(1−p̂) / Σ_c 1/(1−p̂)

    Strata with p̂ ∈ {0, 1} violate positivity and are EXCLUDED (their
    count is reported — silent exclusion is how IPW analyses lie).

    Output: one row — ``(n_units, n_treated, n_excluded_strata,
    naive_diff, ipw_ate)``.

    Plan / 100 TB: one stratum-grain aggregate estimates every p̂
    (map-side partials), broadcast back for the weighted second
    aggregate — two passes, no row ever carries more than its own
    weight.  Weighted sums round to 4 dp and accumulate as DECIMAL.
    """
    rows = df.select(
        F.col("stratum").alias("s"),
        F.col("treated").cast("int").alias("t"),
        F.col("outcome").cast("double").alias("y"),
    )
    prop = rows.groupBy("s").agg(
        F.count("*").cast("long").alias("nb"),
        F.sum("t").cast("long").alias("tb"),
    ).withColumn("p", F.col("tb").cast("double") / F.col("nb"))
    ok = F.broadcast(prop.filter((F.col("p") > 0) & (F.col("p") < 1)))
    n_excl = F.broadcast(
        prop.filter((F.col("p") <= 0) | (F.col("p") >= 1)).agg(
            F.count("*").cast("bigint").alias("n_excluded_strata")
        )
    )
    w = F.when(F.col("t") == 1, 1.0 / F.col("p")).otherwise(
        1.0 / (1.0 - F.col("p"))
    )
    j = rows.join(ok.select("s", "p"), "s")
    dec = lambda c: F.sum(F.round(c, 4).cast("decimal(30,10)")).cast("double")  # noqa: E731
    agg = j.agg(
        F.count("*").cast("bigint").alias("n_units"),
        F.sum("t").cast("bigint").alias("n_treated"),
        dec(F.when(F.col("t") == 1, w * F.col("y")).otherwise(0.0)).alias("twy"),
        dec(F.when(F.col("t") == 1, w).otherwise(0.0)).alias("tw"),
        dec(F.when(F.col("t") == 0, w * F.col("y")).otherwise(0.0)).alias("cwy"),
        dec(F.when(F.col("t") == 0, w).otherwise(0.0)).alias("cw"),
        dec(F.when(F.col("t") == 1, F.col("y")).otherwise(0.0)).alias("ty"),
        dec(F.when(F.col("t") == 0, F.col("y")).otherwise(0.0)).alias("cy"),
        F.sum(1 - F.col("t")).cast("long").alias("nc"),
    )
    return agg.crossJoin(n_excl).select(
        "n_units",
        "n_treated",
        "n_excluded_strata",
        F.round(
            F.col("ty") / F.col("n_treated") - F.col("cy") / F.col("nc"),
            6,
        ).alias("naive_diff"),
        F.round(
            F.col("twy") / F.col("tw") - F.col("cwy") / F.col("cw"), 6
        ).alias("ipw_ate"),
    )


def regression_discontinuity(
    df: DataFrame,
    cutoff: float = 0.0,
    bandwidth: float = 1.0,
) -> DataFrame:
    """Sharp regression-discontinuity estimate by LOCAL LINEAR fits: a
    closed-form OLS line on each side of the cutoff within ±bandwidth,
    both extrapolated to the cutoff; the jump between the two intercepts
    is the causal estimate (Imbens & Lemieux).  Local means alone are
    biased by the running variable's own slope — the two-line form is
    the standard fix, and closed-form OLS needs only five sums per side.

    Output: one row — ``(n_left, n_right, left_pred, right_pred,
    rd_estimate)``.

    Plan / 100 TB: one filtered scan into a 2-row (side-grain)
    aggregate of the OLS sufficient statistics (Σx, Σy, Σxy, Σx², n),
    each term rounded to 4 dp and summed as DECIMAL; the algebra runs
    on the 2-row frame.
    """
    rows = df.select(
        (F.col("running").cast("double") - F.lit(float(cutoff))).alias("x"),
        F.col("outcome").cast("double").alias("y"),
    ).filter(
        (F.col("x") >= -F.lit(float(bandwidth)))
        & (F.col("x") < F.lit(float(bandwidth)))
    )
    dec = lambda c: F.sum(F.round(c, 4).cast("decimal(38,10)")).cast("double")  # noqa: E731
    side = rows.groupBy(
        (F.col("x") >= 0).alias("right")
    ).agg(
        F.count("*").cast("long").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    pred = side.select(
        "right",
        F.col("n"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("pred_at_cutoff"),
    )
    left = pred.filter(~F.col("right")).select(
        F.col("n").alias("n_left"), F.col("pred_at_cutoff").alias("left_pred")
    )
    right = pred.filter(F.col("right")).select(
        F.col("n").alias("n_right"),
        F.col("pred_at_cutoff").alias("right_pred"),
    )
    return left.crossJoin(right).select(
        F.col("n_left").cast("bigint").alias("n_left"),
        F.col("n_right").cast("bigint").alias("n_right"),
        "left_pred",
        "right_pred",
        F.round(F.col("right_pred") - F.col("left_pred"), 6)
        .alias("rd_estimate"),
    )


def ucb1_ranking(
    events: DataFrame,
    top: int = 20,
) -> DataFrame:
    """UCB1 bandit scores (Auer et al. 2002) over logged interactions:
    per item, mean reward plus the exploration bonus √(2·ln N / n) —
    the index an optimism-under-uncertainty scheduler pulls next.  The
    ranking differs from plain popularity exactly where it should:
    rarely-tried items with decent means outrank exhausted ones, which
    is what a curation loop allocating LLM-scoring budget across
    sources wants (treat each source as an arm, each scored doc as a
    pull).

    Output: top ``top`` arms — ``(item, n_pulls, mean_reward, ucb)``,
    ordered (ucb DESC, item ASC).

    Plan / 100 TB: one item-grain conditional-sum aggregate (map-side
    partials) + a broadcast 1-row total; the TakeOrdered top-k never
    sorts the full arm table.
    """
    arms = events.groupBy(F.col("item")).agg(
        F.count("*").cast("long").alias("n_pulls"),
        F.sum(F.col("reward").cast("double")).alias("rsum"),
    )
    tot = F.broadcast(arms.agg(F.sum("n_pulls").cast("double").alias("N")))
    scored = arms.crossJoin(tot).select(
        "item",
        F.col("n_pulls").cast("bigint").alias("n_pulls"),
        F.round(F.col("rsum") / F.col("n_pulls"), 6)
        .alias("mean_reward"),
        F.round(
            F.col("rsum") / F.col("n_pulls")
            + F.sqrt(2.0 * F.log(F.col("N")) / F.col("n_pulls")),
            6,
        ).alias("ucb"),
    )
    return scored.orderBy(F.col("ucb").desc(), F.col("item").asc()).limit(
        int(top)
    )


def bradley_terry_ranks(
    comparisons: DataFrame,
    iters: int = 2,
    top: int = 20,
) -> DataFrame:
    """Bradley-Terry strength estimation from pairwise outcomes by
    ``iters`` UNROLLED minorization-maximization steps (Hunter 2004) —
    the arena-style ranking: P(i beats j) = wᵢ/(wᵢ+wⱼ), each MM step

        wᵢ ← Wᵢ / Σ_j nᵢⱼ / (wᵢ + wⱼ)

    (Wᵢ = total wins, nᵢⱼ = matches against j), then sum-normalized to
    the item count.  Win RATE ranks a 2-1 record above a 20-10 record
    against champions; Bradley-Terry credits opponent strength — the
    difference that matters whenever comparisons are not uniformly
    scheduled (LLM judge tournaments, interleaving experiments).

    Output: top ``top`` items — ``(item, n_wins, n_matches,
    strength)``, ordered (strength DESC, item ASC).

    Plan / 100 TB: comparisons collapse ONCE to unordered-pair grain
    (nᵢⱼ, map-side partials); each MM step is one join of that pair
    table against the item-grain weight frame and one item-grain
    aggregate — 2·iters exchanges over pair/item rows, never raw
    events.  Weights round to 9 dp per step (engine-replayable
    trajectory); the weight frame is localCheckpointed per step so
    iteration lineage never re-runs.
    """
    raw = comparisons.select(
        F.col("winner").alias("w"), F.col("loser").alias("l")
    ).filter(F.col("w") != F.col("l"))
    pairs = (
        raw.select(
            F.least("w", "l").alias("i"),
            F.greatest("w", "l").alias("j"),
            (F.col("w") == F.least("w", "l")).cast("long").alias("wi"),
        )
        .groupBy("i", "j")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("wi").cast("long").alias("wins_i"),
        )
        .localCheckpoint(eager=False)
    )
    items = (
        pairs.select(F.col("i").alias("item"), F.col("wins_i").alias("win"))
        .unionByName(
            pairs.select(
                F.col("j").alias("item"),
                (F.col("n") - F.col("wins_i")).alias("win"),
            )
        )
        .groupBy("item")
        .agg(F.sum("win").cast("long").alias("n_wins"))
        .localCheckpoint(eager=False)
    )
    k = F.broadcast(items.agg(F.count("*").cast("double").alias("k")))
    weights = items.select("item", F.lit(1.0).alias("wt"))
    for _ in range(int(iters)):
        m = (
            pairs.join(
                weights.select(F.col("item").alias("i"), F.col("wt").alias("wti")),
                "i",
            )
            .join(
                weights.select(F.col("item").alias("j"), F.col("wt").alias("wtj")),
                "j",
            )
            .withColumn(
                "d",
                F.round(
                    F.col("n") / (F.col("wti") + F.col("wtj")), 9
                ).cast("decimal(38,10)"),
            )
        )
        dsum = (
            m.select(F.col("i").alias("item"), F.col("d"))
            .unionByName(m.select(F.col("j").alias("item"), F.col("d")))
            .groupBy("item")
            .agg(F.sum("d").cast("double").alias("dsum"))
        )
        raw_w = items.join(dsum, "item").select(
            "item",
            F.when(
                F.col("dsum") > 0, F.col("n_wins") / F.col("dsum")
            ).otherwise(F.lit(0.0)).alias("rw"),
        )
        tot = F.broadcast(
            raw_w.agg(
                F.sum(F.round(F.col("rw"), 9).cast("decimal(38,10)"))
                .cast("double")
                .alias("s")
            )
        )
        # LAZY localCheckpoint (the k-core discipline): ``weights`` is
        # referenced three times per step (the i-join, the j-join, next
        # step's base), and the checkpoint both pins one shared copy and
        # keeps the lineage linear — but laziness means no per-step
        # driver-synchronous job: the final action materializes the whole
        # unrolled trajectory in one go (eager per-step checkpoints paid
        # one blocking job per iteration; plain lazy composition without
        # the checkpoint tripled the join work — both measured slower at
        # sf0.1; values bit-identical across all three shapes)
        weights = (
            raw_w.crossJoin(tot)
            .crossJoin(k)
            .select(
                "item",
                F.round(F.col("rw") * F.col("k") / F.col("s"), 9).alias("wt"),
            )
            .localCheckpoint(eager=False)
        )
    n_matches = (
        pairs.select(F.col("i").alias("item"), F.col("n"))
        .unionByName(pairs.select(F.col("j").alias("item"), F.col("n")))
        .groupBy("item")
        .agg(F.sum("n").cast("long").alias("n_matches"))
    )
    return (
        items.join(weights, "item")
        .join(n_matches, "item")
        .select(
            "item",
            "n_wins",
            F.col("n_matches").cast("bigint").alias("n_matches"),
            F.round(F.col("wt"), 6).alias("strength"),
        )
        .orderBy(F.col("strength").desc(), F.col("item").asc())
        .limit(int(top))
    )

"""Dataset profiling / operational diagnostics for 100 TB pipelines.

The reference never inspects its data beyond whole-frame row counts
(`src/rss_feed_etl/core/data_loader.py:203-207`); at cluster scale the two
questions that decide whether a job finishes at all are "is this join key
skewed?" and "is this column as clean as the pipeline assumes?".  Both
reports here are built so the expensive pass happens once:

- ``key_skew_report`` — one map-side-combined count per key (the only
  shuffle, moving one bigint per distinct key), then driver-sized summary
  aggregates over the count table.  The top-k share uses TakeOrdered, never
  a global sort.
- ``dq_assertion_report`` — every assertion is a conditional sum inside ONE
  aggregate over the fact table (single scan, partial aggregation), then a
  map-only unpivot of the 1-row result into the long report.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOP_K = 10


def key_skew_report(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """One-row skew profile of ``key_col``: row/key cardinalities, fan-out
    percentiles, and the share of rows held by the ``TOP_K`` hottest keys.

    The per-key count table is the only fact-sized work; everything
    downstream aggregates that (much smaller) table.  ``top{k}_share`` is
    the number a 1000-executor join plan turns into a salting decision:
    at 0.3+ the hot keys serialize onto single tasks.

    Plan shape: the stats branch and the TakeOrdered top-k branch each
    evaluate the counts subtree, so the (key-column-pruned) scan runs
    twice — measured cheaper than materializing the counts for a
    run-occasionally diagnostic, and both branches combine map-side.  At
    extreme key cardinality swap ``F.percentile`` for
    ``F.percentile_approx`` (the exact form buffers the count column
    per task) and ``localCheckpoint`` the counts to collapse to one scan.
    """
    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    stats = counts.agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_per_key"),
        F.round(F.avg("c"), 6).alias("avg_per_key"),
        F.round(F.percentile("c", F.lit(0.5)), 9).alias("p50_per_key"),
        F.round(F.percentile("c", F.lit(0.99)), 9).alias("p99_per_key"),
    )
    top = (
        counts.orderBy(F.desc("c"), F.asc("k"))
        .limit(TOP_K)
        .agg(F.sum("c").cast("bigint").alias("top_rows"))
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_rows",
        "n_keys",
        "max_per_key",
        "avg_per_key",
        "p50_per_key",
        "p99_per_key",
        F.round(F.col("top_rows") / F.col("n_rows"), 6).alias(
            f"top{TOP_K}_share"
        ),
    )


# (assertion name, violation predicate as a SQL boolean) — the predicate
# counts rows that BREAK the assertion.  Kept as expression strings so the
# DuckDB oracle can reuse them verbatim.
LINEITEM_ASSERTIONS: list[tuple[str, str]] = [
    ("l_quantity_not_null", "l_quantity IS NULL"),
    ("l_quantity_in_1_50", "l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50"),
    ("l_discount_in_0_0.1", "l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1"),
    ("l_extendedprice_positive", "l_extendedprice IS NULL OR l_extendedprice <= 0"),
    ("l_returnflag_domain", "l_returnflag NOT IN ('A', 'N', 'R')"),
    ("l_linestatus_domain", "l_linestatus NOT IN ('O', 'F')"),
    ("l_shipdate_not_null", "l_shipdate IS NULL"),
]


def dq_assertion_report(
    df: DataFrame,
) -> DataFrame:
    """Long-format data-quality report: one row per assertion with checked /
    violation counts and the violation rate.

    All assertions ride ONE aggregate (conditional sums) so the fact table
    is scanned exactly once regardless of how many assertions are checked;
    the unpivot to long format is a map-only explode of the 1-row result.
    """
    checks = LINEITEM_ASSERTIONS
    aggs = [F.count("*").cast("bigint").alias("n_checked")] + [
        F.sum(F.expr(pred).cast("bigint")).cast("bigint").alias(f"v{i}")
        for i, (_, pred) in enumerate(checks)
    ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("assertion"),
                F.col(f"v{i}").alias("n_violations"),
            )
            for i, (name, _) in enumerate(checks)
        ]
    )
    return (
        one.select("n_checked", F.explode(rows).alias("r"))
        .select(
            F.col("r.assertion").alias("assertion"),
            F.col("n_checked"),
            F.col("r.n_violations").alias("n_violations"),
            F.round(F.col("r.n_violations") / F.col("n_checked"), 6).alias(
                "violation_rate"
            ),
        )
    )


def join_cardinality_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    top: int = 5,
) -> DataFrame:
    """Predict an equi-join's output size BEFORE running it: |A ⋈ B| =
    Σ_k cnt_A(k)·cnt_B(k), exactly, from the two key histograms — plus
    the share of that output owned by the ``top`` hottest keys.  This is
    the pre-flight check that catches a runaway many-to-many join (or a
    key-skew hotspot AQE will struggle with) at histogram cost instead of
    join cost.

    Plan shape (100 TB): each side collapses to key grain with a partial-
    aggregated count (map-side combine), the histograms join on the key
    (already co-partitioned by the aggregation), and the result is one
    tiny rollup row.  Neither fact table is ever exchanged row-by-row.
    """
    a = left.groupBy(F.col(left_key).alias("k")).agg(F.count("*").alias("ca"))
    b = right.groupBy(F.col(right_key).alias("k")).agg(F.count("*").alias("cb"))
    m = a.join(b, "k").select(
        "k", (F.col("ca") * F.col("cb")).cast("bigint").alias("rows_out")
    )
    totals = m.agg(
        F.count("*").cast("bigint").alias("n_matching_keys"),
        F.sum("rows_out").cast("bigint").alias("est_rows"),
        F.max("rows_out").cast("bigint").alias("max_key_rows"),
    )
    top_rows = (
        m.orderBy(F.desc("rows_out"), F.asc("k"))
        .limit(top)
        .agg(F.sum("rows_out").cast("bigint").alias("top_rows"))
    )
    return totals.crossJoin(F.broadcast(top_rows)).select(
        "n_matching_keys",
        "est_rows",
        "max_key_rows",
        F.round(F.col("top_rows") / F.col("est_rows"), 6).alias("top_share"),
    )


def score_calibration(
    scored: DataFrame,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a [-0.5, 0.5) score against a binary label:
    per fixed-width score bin, the mean predicted score vs the observed
    positive rate, plus each bin's weighted |gap| (the summands of
    expected calibration error).  The check every learned quality filter
    needs before its threshold means anything.

    Plan shape (100 TB): one map-only bin assignment + one partial-
    aggregated groupBy at bin grain; the corpus total rides back as a
    broadcast 1-row aggregate for the ECE weights.
    """
    width = 1.0 / n_bins
    bucket = (
        F.when(F.col("score") < -0.5, F.lit(0))
        .when(F.col("score") >= 0.5, F.lit(n_bins + 1))
        .otherwise(F.floor((F.col("score") - (-0.5)) / width).cast("int") + 1)
    )
    g = (
        scored.select(
            bucket.alias("bucket"),
            F.col("score").alias("s"),
            F.col("label").cast("int").alias("y"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.avg("s").alias("__ms"),
            F.avg("y").alias("__rate"),
        )
    )
    total = g.agg(F.sum("n").cast("double").alias("__total_n"))
    return g.crossJoin(F.broadcast(total)).select(
        "bucket",
        "n",
        F.round("__ms", 6).alias("mean_score"),
        F.round("__rate", 6).alias("positive_rate"),
        F.round(
            (F.col("n") / F.col("__total_n")) * F.abs(F.col("__ms") - F.col("__rate")),
            6,
        ).alias("ece_contrib"),
    )


def benford_digit_test(
    df: DataFrame,
    value_col: str = "o_totalprice",
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law with a chi²
    statistic — the classic anomaly screen for organically-generated
    monetary/size values (fabricated or capped data departs from
    log-uniform digit frequencies immediately).

    Plan shape (100 TB): the digit is one string expression per row
    (first char of the absolute value's digits), the distribution is one
    partial-aggregated 9-row groupBy, and the chi² is expression math on
    the aggregate.
    """
    import math

    digit = F.substring(
        F.regexp_replace(
            F.abs(F.col(value_col)).cast("string"), r"[^1-9]*([1-9]).*", r"$1"
        ),
        1,
        1,
    ).cast("int")
    g = (
        df.filter(F.abs(F.col(value_col)) > 0)
        .select(digit.alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = g.agg(F.sum("n").cast("double").alias("__N"))
    expected = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    exp_p = F.lit(0.0)
    for d, p in expected.items():
        exp_p = F.when(F.col("digit") == d, F.lit(p)).otherwise(exp_p)
    obs_p = F.col("n") / F.col("__N")
    chi2 = (
        (obs_p - exp_p) * (obs_p - exp_p) / exp_p * F.col("__N")
    )
    return g.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(obs_p, 6).alias("p_observed"),
        F.round(exp_p, 6).alias("p_benford"),
        F.round(chi2, 6).alias("chi2_contrib"),
    )


_TYPE_BYTES = {
    "bigint": 8, "long": 8, "double": 8, "int": 4, "integer": 4,
    "date": 4, "timestamp": 8, "boolean": 1,
}


def star_join_advisor(
    fact: DataFrame,
    dims: dict[str, tuple[DataFrame, str, str]],
    broadcast_threshold_mb: float = 10.0,
) -> DataFrame:
    """Pre-flight advisor for a star join: for every dimension, its row
    count, estimated in-memory size (fixed widths + measured string
    lengths), whether it fits under the broadcast threshold, and the
    fraction of fact rows whose key actually matches — the three numbers
    that decide broadcast-vs-shuffle, expose accidental row explosion,
    and catch referential-integrity rot before the join runs.

    ``dims`` maps name → (dim_df, fact_key, dim_key).

    Plan shape (100 TB): each dimension collapses to ONE stats row
    (count + avg row width, partial-aggregated); the fact is touched once
    per key at KEY grain (groupBy fact_key, then a broadcast semi-join
    against the dim's key set) — fact bodies never shuffle, and all the
    advisor rows union into a dimension-count-sized result.
    """
    out = None
    for name, (dim, fact_key, dim_key) in dims.items():
        width = F.lit(0)
        for f in dim.schema.fields:
            t = f.dataType.simpleString()
            if t == "string":
                width = width + F.coalesce(F.length(f.name), F.lit(0))
            else:
                width = width + F.lit(_TYPE_BYTES.get(t, 8))
        stats = dim.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.avg(width), 2).alias("est_row_bytes"),
        )
        fk = fact.groupBy(F.col(fact_key).alias("k")).agg(
            F.count("*").cast("bigint").alias("c")
        )
        matched = fk.join(
            F.broadcast(dim.select(F.col(dim_key).alias("k")).distinct()),
            "k",
            "left_semi",
        ).agg(F.sum("c").cast("double").alias("n_matched"))
        total = fact.agg(F.count("*").cast("double").alias("n_fact"))
        row = (
            stats.crossJoin(F.broadcast(matched))
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(name).alias("dim"),
                "n_rows",
                "est_row_bytes",
                F.round(
                    F.col("n_rows") * F.col("est_row_bytes") / F.lit(1048576.0), 4
                ).alias("est_total_mb"),
                (
                    F.col("n_rows") * F.col("est_row_bytes")
                    <= F.lit(broadcast_threshold_mb * 1048576.0)
                ).cast("int").alias("broadcastable"),
                F.round(
                    F.coalesce(F.col("n_matched"), F.lit(0.0)) / F.col("n_fact"),
                    6,
                ).alias("fk_match_rate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: list,
    k: int = 5,
) -> DataFrame:
    """Quasi-identifier groups smaller than ``k`` — the privacy audit run
    before releasing event-level data: any combination of quasi-identifier
    values shared by fewer than ``k`` individuals re-identifies its
    members (Sweeney's k-anonymity).  Returns the violating groups with
    their sizes, smallest first.

    Plan shape: one partial-aggregated groupBy at quasi-identifier grain —
    map-side combine collapses each partition to its distinct QI
    combinations before the exchange, so the shuffle carries group
    cardinality, not row count.  At 100 TB this is the same shape as any
    rollup; the output is by definition small (only sub-``k`` groups).
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count("*").cast("bigint").alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def loso_source_influence(
    docs: DataFrame,
    weight: Column,
) -> DataFrame:
    """Leave-one-source-out data valuation: how much does dropping each
    source move a corpus-level metric (here the mean of ``weight``, e.g.
    tokens per document)?  influence > 0 means the corpus metric RISES
    without the source — the cheap first-pass valuation a data-mixing
    decision starts from before anything model-based (Shapley, DSIR).

    Output per source: ``(source, n_docs, mean_overall, mean_without,
    influence)``.

    Plan / 100 TB: ONE fact scan to per-source integer sums; the global
    total is a whole-table window over that SOURCE-GRAIN table (source
    cardinality rows — a cross-join-back would re-scan the facts, which
    the plan test pins against).  All sums are exact bigint; the only
    float ops are two final divisions, mirrored verbatim in the oracle.
    """
    per = docs.groupBy(F.col("source")).agg(
        F.sum(weight).cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    w = Window.partitionBy()
    tot = per.select(
        "source", "s", "n",
        F.sum("s").over(w).cast("long").alias("ts"),
        F.sum("n").over(w).cast("long").alias("tn"),
    )
    mean_all = F.col("ts").cast("double") / F.col("tn")
    mean_wo = F.when(
        F.col("tn") > F.col("n"),
        (F.col("ts") - F.col("s")).cast("double") / (F.col("tn") - F.col("n")),
    )
    return tot.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(mean_all, 6).alias("mean_overall"),
        F.round(mean_wo, 6).alias("mean_without"),
        F.round(mean_wo - mean_all, 6).alias("influence"),
    )


def l_diversity_violations(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """Quasi-identifier groups whose SENSITIVE attribute takes fewer than
    ``l`` distinct values — the companion audit to
    ``k_anonymity_violations``: a group can be large (k-anonymous) yet
    still leak, because every member shares the same sensitive value.
    Groups failing either test are what a release pipeline must suppress
    or generalize.

    Output: the quasi columns + ``(group_size, n_sensitive)`` for each
    violating group.

    Plan / 100 TB: ONE shuffle to (quasi…, sensitive) grain with map-side
    partial counts, then a second aggregation at quasi grain over the
    already-collapsed table (distinct-combination cardinality, not corpus
    rows).  count_distinct over raw facts would carry a per-group hash
    set through the shuffle instead.
    """
    qs = [F.col(c) for c in quasi_cols]
    fine = df.groupBy(*qs, F.col(sensitive_col).alias("__sv")).agg(
        F.count("*").cast("long").alias("n")
    )
    grp = fine.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.sum("n").cast("bigint").alias("group_size"),
        F.count("*").cast("bigint").alias("n_sensitive"),
    )
    return grp.filter(F.col("n_sensitive") < l)


def mad_outliers(
    df: DataFrame,
    cutoff: float = 3.0,
) -> DataFrame:
    """Robust per-group outliers via the median-absolute-deviation rule:
    |x − median| / (1.4826·MAD) > cutoff.  Unlike the mean/std z-score
    (``value_outliers``' family), the breakdown point is 50% — a batch of
    corrupt values shifts a mean-based gate but leaves the median gate
    standing, which is why ingest-quality screens prefer MAD.

    Output: ``(event_id, event_type, value, robust_z)`` for flagged rows.

    Plan / 100 TB: inherently two-pass (the deviation median needs the
    median first) — each pass is one groupBy at GROUP grain plus a
    broadcast join back; the fact table is never shuffled.  Exact
    ``percentile`` buffers each group's values per task: fine at
    few-groups/many-rows shape; at extreme group cardinality swap in
    ``percentile_approx`` (same caveat as ``key_skew_report``).
    Groups with MAD = 0 (over half the values identical) are excluded
    rather than dividing by zero.
    """
    med = df.groupBy(F.col("event_type").alias("g")).agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    d = df.join(F.broadcast(med), df["event_type"] == med["g"]).select(
        F.col("event_id"), F.col("event_type"), F.col("value"),
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    mad = d.groupBy(F.col("event_type").alias("g2")).agg(
        F.percentile("dev", F.lit(0.5)).alias("mad")
    )
    z = F.col("dev") / (F.lit(1.4826) * F.col("mad"))
    return (
        d.join(F.broadcast(mad), d["event_type"] == mad["g2"])
        .filter((F.col("mad") > 0) & (z > cutoff))
        .select(
            "event_id", "event_type", "value",
            F.round(z, 6).alias("robust_z"),
        )
    )


def srm_check(
    df: DataFrame,
    critical: float = 3.841,
) -> DataFrame:
    """Sample-ratio-mismatch check for a hash-split experiment: assign
    each unit to an arm by the engine's PORTABLE hash (md5-prefix fold,
    the same bucketing the deterministic splitters use), compare observed
    arm sizes to the uniform expectation with a chi-square statistic, and
    flag when it exceeds the critical value — the first guardrail any A/B
    readout runs, because a biased split invalidates everything after it.

    Output (one row): ``(n_units, arm_counts…, chi2, srm_flag)``.

    Plan / 100 TB: unit dedup is one groupBy at unit grain; arm counts
    ride a second aggregate over the (already tiny) distinct-unit table's
    conditional sums.  The chi-square arithmetic happens once on the
    1-row aggregate.
    """
    from ..functions.hashing import token_code

    units = df.select(F.col("user_id").alias("u")).distinct()
    arm = (token_code(F.col("u").cast("string")) % 2).cast("int")
    counts = units.select(arm.alias("arm")).agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum(F.when(F.col("arm") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"arm{i}")
            for i in range(2)
        ],
    )
    e = F.col("n").cast("double") / F.lit(2.0)
    chi2 = None
    for i in range(2):
        d = F.col(f"arm{i}").cast("double") - e
        term = d * d / e
        chi2 = term if chi2 is None else chi2 + term
    return counts.select(
        F.col("n").cast("bigint").alias("n_units"),
        *[F.col(f"arm{i}").cast("bigint").alias(f"arm{i}") for i in range(2)],
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > critical, 1).otherwise(0).cast("int").alias("srm_flag"),
    )


def tukey_fences(
    df: DataFrame,
    k: float = 1.5,
) -> DataFrame:
    """Per-group boxplot profile: quartiles, IQR, the Tukey fences
    q1 − k·IQR / q3 + k·IQR, and how much of the group lies beyond them —
    the distribution summary a data-quality dashboard renders per source,
    and the third member of the outlier family (z-score: fast, fooled by
    heavy tails; MAD: robust, needs two medians; Tukey: the boxplot
    convention reviewers expect).

    Output per group: ``(group, n, q1, q3, iqr, lo_fence, hi_fence,
    n_low, n_high, outlier_rate)``.

    Plan / 100 TB: two passes by construction (fences must exist before
    rows can be counted against them) — each is one group-grain
    aggregate, facts never shuffle; the fence table rides back broadcast.
    Exact ``percentile`` buffers per group (same scale caveat as
    ``mad_outliers``).
    """
    q = df.groupBy(F.col("event_type").alias("g")).agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    fenced = q.select(
        "g", "q1", "q3",
        (F.col("q1") - F.lit(float(k)) * iqr).alias("lo"),
        (F.col("q3") + F.lit(float(k)) * iqr).alias("hi"),
    )
    j = df.join(F.broadcast(fenced), df["event_type"] == fenced["g"])
    v = F.col("value")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.first("q1"), 6).alias("q1"),
            F.round(F.first("q3"), 6).alias("q3"),
            F.round(F.first("q3") - F.first("q1"), 6).alias("iqr"),
            F.round(F.first("lo"), 6).alias("lo_fence"),
            F.round(F.first("hi"), 6).alias("hi_fence"),
            F.sum(F.when(v < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(v > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
        )
        .withColumn(
            "outlier_rate",
            F.round(
                (F.col("n_low") + F.col("n_high")).cast("double") / F.col("n"),
                6,
            ),
        )
    )


def quantile_treatment_effect(
    events: DataFrame,
) -> DataFrame:
    """Quantile treatment effects for the hash-split experiment: the
    per-arm q25/q50/q75 of the outcome and their arm-1 − arm-0 deltas —
    the distributional readout that catches an effect concentrated in
    the tail that a mean comparison averages away.  Arms come from the
    same portable md5 hash as ``srm_check``/``cuped_adjustment``, so the
    whole A/B toolkit reads one consistent split.

    Output (one row): per-arm quantiles + ``qte_25/50/75``.

    Plan / 100 TB: ONE aggregate — conditional percentiles
    (``percentile(CASE arm)``) ignore the other arm's NULLs, so no
    second scan, no join, no pivot.
    """
    from ..functions.hashing import token_code

    arm = (token_code(F.col("user_id").cast("string")) % 2).cast("int")
    v0 = F.when(arm == 0, F.col("value"))
    v1 = F.when(arm == 1, F.col("value"))
    qs = [0.25, 0.5, 0.75]
    aggs = []
    for q in qs:
        tag = str(int(q * 100))
        aggs += [
            F.round(F.percentile(v0, F.lit(q)), 6).alias(f"q{tag}_arm0"),
            F.round(F.percentile(v1, F.lit(q)), 6).alias(f"q{tag}_arm1"),
            F.round(
                F.percentile(v1, F.lit(q)) - F.percentile(v0, F.lit(q)),
                6,
            ).alias(f"qte_{tag}"),
        ]
    return events.agg(*aggs)


def join_order_advisor(
    a: DataFrame,
    b: DataFrame,
    c: DataFrame,
    ab_keys: tuple[str, str],
    bc_keys: tuple[str, str],
    names: tuple[str, str, str] = ("a", "b", "c"),
) -> DataFrame:
    """Pre-flight advisor for the chain join A ⋈ B ⋈ C (A–B on
    ``ab_keys``, B–C on ``bc_keys``): estimate the INTERMEDIATE row count
    of each feasible order from exact key histograms — |A⋈B| = Σ_k
    cntA(k)·cntB(k), likewise |B⋈C| — and recommend starting with the
    smaller one.  The intermediate, not the final result, is what sizes
    the shuffle the optimizer must buffer; misordering a chain join is
    the classic way a 100 TB query 10×'s its shuffle volume.

    Output: one row per order with ``(join_order, intermediate_rows,
    recommended)``.

    Plan / 100 TB: each estimate is two key-grain histograms joined at
    key grain (the same machinery as ``join_cardinality_estimate``) —
    the fact tables are never themselves joined.
    """
    ka, kb_a = ab_keys
    kb_c, kc = bc_keys
    ha = a.groupBy(F.col(ka).alias("k")).agg(F.count("*").alias("ca"))
    hb_a = b.groupBy(F.col(kb_a).alias("k")).agg(F.count("*").alias("cb"))
    hb_c = b.groupBy(F.col(kb_c).alias("k")).agg(F.count("*").alias("cb"))
    hc = c.groupBy(F.col(kc).alias("k")).agg(F.count("*").alias("cc"))
    est_ab = (
        ha.join(hb_a, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("rows"))
        .select(
            F.lit(f"({names[0]} JOIN {names[1]}) JOIN {names[2]}").alias(
                "join_order"
            ),
            F.col("rows"),
        )
    )
    est_bc = (
        hb_c.join(hc, "k")
        .agg(F.sum(F.col("cb") * F.col("cc")).cast("long").alias("rows"))
        .select(
            F.lit(f"({names[1]} JOIN {names[2]}) JOIN {names[0]}").alias(
                "join_order"
            ),
            F.col("rows"),
        )
    )
    u = est_ab.unionByName(est_bc)
    w = Window.partitionBy()
    return u.select(
        "join_order",
        F.col("rows").cast("bigint").alias("intermediate_rows"),
        F.when(F.col("rows") == F.min("rows").over(w), 1)
        .otherwise(0)
        .cast("int")
        .alias("recommended"),
    )


def exposure_gini(
    events: DataFrame,
) -> DataFrame:
    """Per-event-type Gini concentration of item exposure — 0 when every
    item gets equal traffic, → 1 when a few items absorb it all.  The
    catalog-balance number a recommender (or a training-data mixture) is
    judged on: coverage says how many items appear at all, Gini says how
    unequal the appearances are.

    Gini = (2·Σ_i i·c_i) / (n·Σ_i c_i) − (n+1)/n over counts c sorted
    ascending (rank i), the standard discrete formula.  Counts and
    rank-weighted sums are exact integers; the two final divisions are
    the only float ops.

    Output per type: ``(event_type, n_items, n_events, gini)``.

    Plan / 100 TB: one fact shuffle to (type, item) counts; the ranking
    window runs per type over ITEM-grain rows (catalog-bounded).  Ties
    rank deterministically by (count, item).
    """
    item = F.get_json_object("props", "$.k")
    counts = events.groupBy(
        F.col("event_type").alias("t"), item.alias("item")
    ).agg(F.count("*").cast("long").alias("c"))
    w = Window.partitionBy("t").orderBy(F.col("c").asc(), F.col("item").asc())
    ranked = counts.select(
        "t", "c", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.groupBy(F.col("t").alias("event_type")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("i") * F.col("c")).cast("long").alias("ic"),
    )
    nd = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("ic").cast("double")
        / (nd * F.col("s").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_items"),
        F.col("s").cast("bigint").alias("n_events"),
        F.round(gini, 6).alias("gini"),
    )


def ab_sample_size_table(
    events: DataFrame,
    mdes: tuple = (0.01, 0.02, 0.05, 0.10),
) -> DataFrame:
    """Experiment sample-size planner: measure the corpus's own baseline
    per-user conversion rate, then for each minimum detectable effect
    (absolute lift δ) report the required users PER ARM at α = 0.05,
    power = 0.8 (two-sided z-test on proportions):
    n = 2·(z_{α/2}+z_β)²·p̄(1−p̄)/δ², z-constants 1.96 and 0.8416.
    The "how long must this test run" table every experiment review
    starts with, priced on the platform's real baseline.

    Output per MDE: ``(mde, baseline_rate, n_per_arm, feasible_now)``
    — feasible_now = does the corpus already hold 2n users.

    Plan / 100 TB: one aggregate to user grain (converted-or-not), one
    1-row rollup; the table is generated from that single row.
    """
    per_user = events.groupBy(F.col("user_id").alias("u")).agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    tot = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    p = F.col("n_conv").cast("double") / F.col("n_users").cast("double")
    z = 1.96 + 0.8416
    rows = []
    for mde in mdes:
        n_arm = F.ceil(
            F.lit(2.0 * z * z) * p * (F.lit(1.0) - p)
            / F.lit(float(mde) * float(mde))
        ).cast("long")
        rows.append(
            F.struct(
                F.lit(float(mde)).alias("mde"),
                F.round(p, 6).alias("baseline_rate"),
                n_arm.cast("bigint").alias("n_per_arm"),
                (F.lit(2) * n_arm <= F.col("n_users"))
                .cast("int")
                .alias("feasible_now"),
            )
        )
    return tot.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.mde", "r.baseline_rate", "r.n_per_arm", "r.feasible_now"
    )


def overdispersion_check(
    events: DataFrame,
) -> DataFrame:
    """Overdispersion audit of per-user event counts, per type: the
    variance-to-mean (dispersion) index D = var/mean is 1 for Poisson
    arrivals; D ≫ 1 means activity clumps on a subset of users, and any
    "events per user" capacity estimate needs a negative-binomial, not
    Poisson, model.  Companion to ``interevent_burstiness`` (that's
    burstiness in TIME, this is concentration across USERS); also
    reports the NB size parameter r̂ = mean²/(var − mean) when D > 1.

    All cross-user sums are exact integers (counts and squared counts);
    the index is a scalar-double epilogue.

    Output per type: ``(event_type, n_users, mean_per_user, dispersion,
    nb_r_hat)``.
    """
    per = events.groupBy(
        F.col("event_type").alias("t"), F.col("user_id").alias("u")
    ).agg(F.count("*").cast("long").alias("c"))
    agg = per.groupBy(F.col("t").alias("event_type")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    var = F.col("sq").cast("double") / nd - mean * mean
    disp = var / mean
    return agg.filter(F.col("s") > 0).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(mean, 6).alias("mean_per_user"),
        F.round(disp, 6).alias("dispersion"),
        F.round(
            F.when(var > mean, mean * mean / (var - mean)), 6
        ).alias("nb_r_hat"),
    )


def spearman_rank_corr(
    events: DataFrame,
) -> DataFrame:
    """Spearman rank correlation between per-user ENGAGEMENT (event
    count) and SPEND (value total, quantized to whole units) — the
    robust monotone-association check: Pearson on raw spend is dragged
    by whales; Spearman asks only "do heavier users spend more, rank
    for rank?".

    Exactness: average ranks with ties are half-integers, so DOUBLED
    ranks (2·below + ties + 1) are exact integers; Spearman is invariant
    under that scaling, so every distributed sum (Σr, Σr², Σrxy) is an
    exact bigint and ρ is a scalar epilogue — no float-sum ordering.
    Rank tables build from DISTINCT-value cumulative counts (value
    domain, not corpus, passes the single-partition window — same trick
    as ``global_percent_rank``).

    Output (one row): ``(n_units, rho)``.
    """
    dec = "decimal(30,10)"
    per = events.groupBy(F.col("user_id").alias("u")).agg(
        F.count("*").cast("long").alias("c"),
        F.round(F.sum(F.col("value").cast(dec)), 0).cast("long").alias("d"),
    )

    def dranks(df: DataFrame, col: str, out: str) -> DataFrame:
        grid = df.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("long").alias("cnt")
        )
        w = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        ranked = grid.select(
            "v",
            (
                F.lit(2) * (F.sum("cnt").over(w) - F.col("cnt"))
                + F.col("cnt")
                + F.lit(1)
            )
            .cast("long")
            .alias(out),
        )
        return df.join(F.broadcast(ranked), df[col] == ranked["v"]).drop("v")

    r = dranks(dranks(per, "c", "rx"), "d", "ry")
    agg = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    dx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    dy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n_units"),
        F.round(num / F.sqrt(dx * dy), 6).alias("rho"),
    )


def digit_forensics(
    events: DataFrame,
) -> DataFrame:
    """Digit-level fraud screens per group over the value's CENT digits:
    chi-square of the LAST digit against uniform (humans fabricating
    numbers avoid round repeats; genuine measured values are uniform in
    the last cent) and the rate of .99-style endings (pricing-artifact
    detector).  Complements ``benford_digit_test`` (first digit) with
    the other end of the number.

    All digit counts are exact integers from one aggregate; the chi2
    epilogue is fixed-order scalar math over the 10 digit cells.

    Output per group: ``(group, n, chi2_last_digit, uniform_ok,
    frac_9_ending)`` — uniform_ok = chi2 below the 16.919 critical value
    (9 df, α=0.05).
    """
    cents = F.round(F.col("value") * 100, 0).cast("long")
    last = F.pmod(cents, F.lit(10))
    agg = events.groupBy(F.col("event_type").alias("g")).agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum((last == d).cast("int")).cast("long").alias(f"d{d}")
            for d in range(10)
        ],
    )
    e = F.col("n").cast("double") / F.lit(10.0)
    chi2 = None
    for d in range(10):
        diff = F.col(f"d{d}").cast("double") - e
        t = diff * diff / e
        chi2 = t if chi2 is None else chi2 + t
    return agg.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        F.round(chi2, 6).alias("chi2_last_digit"),
        F.when(chi2 <= 16.919, 1).otherwise(0).cast("int").alias("uniform_ok"),
        F.round(
            F.col("d9").cast("double") / F.col("n").cast("double"), 6
        ).alias("frac_9_ending"),
    )


def table_checksums(
    events: DataFrame,
    documents: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Order-insensitive content checksums for cross-environment table
    comparison: each row canonicalizes to a string (integers verbatim,
    timestamps ISO-formatted, money as integer cents), hashes through
    the engine-portable md5 fold, and the table checksum is the BIT_XOR
    of row hashes — commutative/associative, so it's partitioning- and
    ordering-independent, mergeable across shards, and two environments
    can compare a 100 TB table by exchanging ONE number (the pattern
    replication validators use; xor also lets a single changed row be
    localized by re-checksumming halves).

    Output: ``(table_name, n_rows, xor_checksum)``.
    """
    from ..functions.hashing import md5_bucket

    def chk(df: DataFrame, name: str, canon) -> DataFrame:
        return df.select(md5_bucket(canon).alias("h")).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr("bit_xor(h)").cast("bigint").alias("xor_checksum"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "xor_checksum")

    ev = chk(
        events,
        "events",
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            F.round(F.col("value") * 100, 0).cast("long").cast("string"),
        ),
    )
    dc = chk(
        documents,
        "documents",
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars").cast("string"),
            F.md5("text"),
        ),
    )
    li = chk(
        lineitem,
        "lineitem",
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("long").cast("string"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").cast("string"),
            F.col("l_returnflag"),
        ),
    )
    return ev.unionByName(dc).unionByName(li)


def hill_tail_exponent(
    events: DataFrame,
    tail_q: float = 0.9,
) -> DataFrame:
    """Hill estimator of the power-law tail index of per-user activity:
    α̂ = N_tail / Σ ln(cᵢ/x_min) over users whose event count reaches the
    ``tail_q`` quantile — the number that says whether the heavy tail is
    Pareto-like (α ≲ 2: variance infinite, whales dominate capacity) or
    tame.  Zipf fitting covers term frequencies; this covers the USER
    axis a sharding/capacity plan actually keys on.

    Determinism: the Σ ln term aggregates per DISTINCT count value
    (n_c·ln(c/x_min)), then accumulates through an ORDERED cumulative
    window over the bounded count grid — fixed accumulation order, no
    float-sum ambiguity (same contract as KM's Π(1−d/n)).

    Output (one row): ``(n_tail, x_min, alpha_hat)``.
    """
    per = events.groupBy(F.col("user_id").alias("u")).agg(
        F.count("*").cast("long").alias("c")
    )
    xmin = per.agg(
        F.percentile("c", F.lit(float(tail_q))).alias("xm")
    )
    grid = (
        per.crossJoin(F.broadcast(xmin))
        .filter(F.col("c").cast("double") >= F.col("xm"))
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("nc"), F.first("xm").alias("xm"))
    )
    w = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    term = F.col("nc").cast("double") * F.log(
        F.col("c").cast("double") / F.col("xm")
    )
    cum = grid.select(
        F.sum("nc").over(w).cast("long").alias("ntail"),
        F.sum(term).over(w).alias("slog"),
        F.col("xm"),
        F.row_number().over(Window.orderBy(F.col("c").desc())).alias("rn"),
    ).filter(F.col("rn") == 1)
    return cum.select(
        F.col("ntail").cast("bigint").alias("n_tail"),
        F.round(F.col("xm"), 6).alias("x_min"),
        F.round(
            F.when(F.col("slog") > 0,
                   F.col("ntail").cast("double") / F.col("slog")),
            6,
        ).alias("alpha_hat"),
    )


def embedding_dim_stats(
    embeddings: DataFrame,
) -> DataFrame:
    """Per-DIMENSION normalization model for an embedding column: mean,
    std, and grid-exact quartiles of every component — the robust-scaling
    statistics a feature pipeline fits once and applies everywhere
    (median/IQR scaling shrugs off the outliers that wreck min-max).

    Exact at scale without a per-dimension sort: components quantize to a
    4-decimal integer grid (``round(v·10^4)``), counts aggregate
    at (dim, grid-code) grain — MERGEABLE partials, so 100 TB reduces
    map-side — and quartiles are type-1 (smallest grid value whose
    cumulative count reaches ⌈p·n⌉) read off a cumulative window over the
    grid, whose partition is bounded by the VALUE DOMAIN per dim, never
    the corpus.  Moments accumulate as exact integer/decimal sums of the
    grid codes (no float fold anywhere).

    Output: ``(pos, n, mean, std, p25, p50, p75)``, pos 0-based.
    """
    scale = 10 ** 4
    comp = embeddings.select(
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "pos", "v"
        )
    ).select(
        "pos", F.round(F.col("v") * scale).cast("bigint").alias("code")
    )
    counts = comp.groupBy("pos", "code").agg(F.count("*").alias("c"))
    st = counts.groupBy("pos").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("code").cast("decimal(38,0)") * F.col("c")).alias("s1"),
        F.sum(
            F.col("code").cast("decimal(38,0)") * F.col("code") * F.col("c")
        ).alias("s2q"),
    )
    cw = Window.partitionBy("pos").orderBy("code").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("cum", F.sum("c").over(cw)).join(
        F.broadcast(st.select("pos", F.col("n").alias("__n"))), "pos"
    )
    qaggs = []
    for p, name in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75")):
        thresh = F.ceil(F.lit(p) * F.col("__n")).cast("bigint")
        qaggs.append(
            (
                F.min(F.when(F.col("cum") >= thresh, F.col("code")))
                / F.lit(float(scale))
            ).alias(name)
        )
    qs = cum.groupBy("pos").agg(*qaggs)
    mean_code = F.col("s1").cast("double") / F.col("n")
    var_code = (
        F.col("s2q").cast("double") / F.col("n") - mean_code * mean_code
    )
    return (
        st.join(qs, "pos")
        .select(
            F.col("pos").cast("int").alias("pos"),
            "n",
            F.round(mean_code / scale, 6).alias("mean"),
            F.when(
                var_code > 0, F.round(F.sqrt(var_code) / scale, 6)
            )
            .otherwise(F.lit(0.0))
            .alias("std"),
            "p25",
            "p50",
            "p75",
        )
    )


def score_label_auc(
    df: DataFrame,
) -> DataFrame:
    """Exact ROC AUC of a score against a binary label via the Mann-
    Whitney rank statistic with midrank tie handling — THE threshold-free
    quality number for any scorer the pipeline trains or tunes (retrieval
    relevance, quality classifiers, dedup confidences).

    Scale trick: ranks never materialize per row.  Rows collapse to the
    DISTINCT-SCORE grid (one aggregate, mergeable partials); with
    ``cb(s)`` = rows strictly below s, the midrank sum of positives is
    ``Σ_s p_s·(2·cb_s + n_s + 1) / 2`` — kept doubled so every
    accumulation is exact integer/decimal; the single window runs over
    the score domain, never the corpus.  AUC = (2·R⁺ − P(P+1)) / (2PN).

    Output (one row): ``(n_pos, n_neg, auc)``; AUC is NULL when either
    class is empty (undefined, not 0.5 — don't fabricate a coin flip).
    """
    g = df.groupBy(F.col("score").alias("s")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("pos").cast("bigint")).alias("p"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = g.withColumn("cb", F.sum("n").over(w) - F.col("n"))
    t = c.agg(
        F.sum("p").cast("bigint").alias("P"),
        (F.sum("n") - F.sum("p")).cast("bigint").alias("N"),
        F.sum(
            F.col("p").cast("decimal(38,0)")
            * (2 * F.col("cb") + F.col("n") + 1)
        ).cast("decimal(38,0)").alias("S2"),
    )
    auc = F.when(
        (F.col("P") > 0) & (F.col("N") > 0),
        F.round(
            (F.col("S2").cast("double") - F.col("P").cast("double") * (F.col("P") + 1))
            / (2.0 * F.col("P") * F.col("N")),
            6,
        ),
    )
    return t.select(
        F.col("P").alias("n_pos"), F.col("N").alias("n_neg"), auc.alias("auc")
    )


def pr_curve(
    df: DataFrame,
) -> DataFrame:
    """Precision/recall/F1 at every distinct score threshold (predict
    positive when score ≥ threshold) — the operating-point table a
    curation pipeline reads to pick a classifier cutoff, with the same
    scale shape as :func:`score_label_auc`: rows collapse to the
    distinct-score grid, counts cumulate high-to-low over the SCORE
    DOMAIN (bounded by the score's rounding grid, never the corpus), and
    every count is exact integer arithmetic until the final ratios.

    Output: one row per distinct score —
    ``(threshold, tp, fp, fn, precision, recall, f1)``.
    """
    g = df.groupBy(F.col("score").alias("threshold")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("pos").cast("bigint")).alias("p"),
    )
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # NB: the total's alias must not collide case-insensitively with the
    # grid's `p` column (Spark resolves references case-insensitively)
    tot = g.agg(F.sum("p").cast("bigint").alias("pos_total"))
    c = (
        g.withColumn("tp", F.sum("p").over(w).cast("bigint"))
        .withColumn("fp", (F.sum("n").over(w) - F.sum("p").over(w)).cast("bigint"))
        .crossJoin(F.broadcast(tot))
    )
    precision = F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
    recall = F.when(
        F.col("pos_total") > 0, F.col("tp") / F.col("pos_total").cast("double")
    )
    fn = F.col("pos_total") - F.col("tp")
    f1 = F.when(
        (2 * F.col("tp") + F.col("fp") + fn) > 0,
        2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + fn).cast("double"),
    )
    return c.select(
        "threshold",
        "tp",
        "fp",
        fn.cast("bigint").alias("fn"),
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def erasure_impact_audit(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    erase_keys: DataFrame | None = None,
    key_mod: int = 97,
) -> DataFrame:
    """Right-to-erasure (GDPR art. 17) impact audit: before executing a
    deletion batch, price its blast radius — per nation, how many
    customers are in the batch, how many orders and line items reference
    them (and must cascade or be anonymized), and how much booked revenue
    the cascade removes from every downstream aggregate.  The compliance
    twin of ``k_anonymity_violations``: that one finds rows to protect,
    this one audits the rows about to disappear.

    ``erase_keys`` is a 1-column (``c_custkey``) deletion batch; the
    default selects ``c_custkey % key_mod == 0`` — a deterministic
    stand-in for an uploaded deletion list.

    Output per nation: ``(n_name, n_customers, n_orders, n_lineitems,
    revenue_removed)``; customers with no orders still count.

    Plan / 100 TB: the customer-grain deletion batch and the nation dim
    are BROADCAST (erasure lists are always tiny next to the fact
    tables), so orders is touched once with no shuffle; the erased
    customers' ORDER set is a fixed fraction of all orders — fact-scale,
    NOT broadcastable — so lineitem meets it in a standard shuffled hash
    join on the order key.  Per-nation partials combine map-side, and
    the three nation-grain aggregates join at dimension cardinality.
    """
    erased = (
        customer.filter((F.col("c_custkey") % int(key_mod)) == 0)
        if erase_keys is None
        else customer.join(F.broadcast(erase_keys), "c_custkey")
    ).select("c_custkey", "c_nationkey")
    n = nation.select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    cust_g = (
        erased.join(F.broadcast(n), "c_nationkey")
        .groupBy("n_name")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )
    ord_keys = orders.join(
        F.broadcast(erased), orders["o_custkey"] == erased["c_custkey"]
    ).select("o_orderkey", "c_nationkey")
    ord_g = (
        ord_keys.join(F.broadcast(n), "c_nationkey")
        .groupBy("n_name")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )
    # NOT broadcast: the erased customers' ORDER set scales with the fact
    # table (a fixed fraction of all orders), so lineitem meets it in a
    # standard shuffled hash join on the order key; only the customer-
    # grain erasure list and the nation dim are broadcast.
    li_g = (
        lineitem.join(
            ord_keys, lineitem["l_orderkey"] == ord_keys["o_orderkey"]
        )
        .join(F.broadcast(n), "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_lineitems"),
            # per-row terms round to 4 dp and sum as DECIMAL: the raw
            # double fold diverged from the oracle in the last cent at
            # sf0.1 (fold-order ulp across a .005 rounding boundary)
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                    ).cast("decimal(30,10)")
                ).cast("double"),
                2,
            ).alias("revenue_removed"),
        )
    )
    return (
        cust_g.join(ord_g, "n_name", "left")
        .join(li_g, "n_name", "left")
        .select(
            "n_name",
            "n_customers",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint")
            .alias("n_orders"),
            F.coalesce(F.col("n_lineitems"), F.lit(0)).cast("bigint")
            .alias("n_lineitems"),
            F.coalesce(F.col("revenue_removed"), F.lit(0.0))
            .alias("revenue_removed"),
        )
    )


def brier_decomposition(
    scored: DataFrame,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for a [0,1]
    probability forecast: BRIER = RELIABILITY − RESOLUTION +
    UNCERTAINTY, computed over 10 fixed-width forecast bins.
    ``score_calibration`` draws the reliability diagram; this collapses
    it to the three scalars a model comparison actually ranks on —
    REL (how wrong the probabilities are, lower better), RES (how much
    the forecast separates outcomes, higher better), UNC (the base-rate
    entropy nobody can beat).

    Output: one row — ``(n, brier, reliability, resolution,
    uncertainty)``; the binned identity REL − RES + UNC equals the
    binned Brier up to within-bin variance (standard for the binned
    estimator).

    Plan / 100 TB: one map-only bin assignment into a bin-grain
    aggregate, then arithmetic over ≤11 rows with the global base
    rate broadcast; the per-row Brier sums as rounded DECIMAL terms so
    cross-engine fold order cannot move it.
    """
    b = (
        F.when(F.col("score") >= 1.0, F.lit(9))
        .otherwise(F.floor(F.col("score") * 10).cast("int"))
    )
    rows = scored.select(
        b.alias("bin"),
        F.col("score").cast("double").alias("s"),
        F.col("label").cast("double").alias("y"),
    )
    bins = rows.groupBy("bin").agg(
        F.count("*").cast("long").alias("nk"),
        F.round(F.avg("s"), 9).alias("sk"),
        F.round(F.avg("y"), 9).alias("yk"),
    )
    base = F.broadcast(
        rows.agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("y"), 9).alias("ybar"),
            F.round(
                F.sum(
                    F.round((F.col("s") - F.col("y")) * (F.col("s") - F.col("y")), 9)
                    .cast("decimal(30,10)")
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("brier"),
        )
    )
    parts = bins.crossJoin(base).select(
        "n", "ybar", "brier",
        F.round(
            (F.col("nk") / F.col("n"))
            * (F.col("sk") - F.col("yk"))
            * (F.col("sk") - F.col("yk")),
            9,
        ).cast("decimal(30,10)").alias("rel_t"),
        F.round(
            (F.col("nk") / F.col("n"))
            * (F.col("yk") - F.col("ybar"))
            * (F.col("yk") - F.col("ybar")),
            9,
        ).cast("decimal(30,10)").alias("res_t"),
    )
    return parts.groupBy("n", "ybar", "brier").agg(
        F.round(F.sum("rel_t").cast("double"), 6).alias("reliability"),
        F.round(F.sum("res_t").cast("double"), 6).alias("resolution"),
    ).select(
        F.col("n").cast("bigint").alias("n"),
        "brier",
        "reliability",
        "resolution",
        F.round(F.col("ybar") * (1.0 - F.col("ybar")), 6)
        .alias("uncertainty"),
    )


def temperature_scaling_fit(
    scored: DataFrame,
    temperatures: tuple[float, ...] = (
        0.25, 0.35, 0.5, 0.7, 1.0, 1.4, 2.0, 2.8, 4.0,
    ),
) -> DataFrame:
    """Post-hoc temperature scaling (Guo et al. 2017) fitted by
    deterministic grid search: for each candidate T, the mean negative
    log-likelihood of sigmoid(logit / T) against the binary label; the
    argmin row is flagged.  The one-parameter recalibration every
    overconfident classifier gets before its scores feed a threshold —
    and the grid is the honest distributed form (a closed-form Newton
    step needs per-iteration driver sync; a 9-point grid is one pass).

    Output per candidate: ``(temperature, nll, is_best)``.

    Plan / 100 TB: the grid enters as a broadcast literal array, so the
    corpus is scanned ONCE with a grid-times-row map expansion folded
    into one (temperature)-grain aggregate with map-side partials.  NLL
    terms round to 9 dp and sum as DECIMAL; argmin ties break toward
    the smaller temperature.
    """
    grid = F.array(*[F.lit(float(t)) for t in temperatures])
    rows = scored.select(
        F.col("logit").cast("double").alias("z"),
        F.col("label").cast("double").alias("y"),
        F.explode(grid).alias("t"),
    )
    # clamp: an extreme logit at a small T saturates the sigmoid to an
    # EXACT 1.0 in double, and ln(0) poisons the term even under the y=1
    # branch (both engines evaluate both logs)
    raw = 1.0 / (1.0 + F.exp(-F.col("z") / F.col("t")))
    p = F.least(F.lit(1.0 - 1e-9), F.greatest(F.lit(1e-9), raw))
    nll_term = F.round(
        -(F.col("y") * F.log(p) + (1.0 - F.col("y")) * F.log(1.0 - p)), 9
    )
    g = rows.select("t", nll_term.alias("nll_t")).groupBy("t").agg(
        F.round(
            F.sum(F.col("nll_t").cast("decimal(30,10)")).cast("double")
            / F.count("*"),
            6,
        ).alias("nll")
    )
    w = Window.orderBy(F.col("nll").asc(), F.col("t").asc())
    return (
        g.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("t").alias("temperature"),
            "nll",
            (F.col("rk") == 1).alias("is_best"),
        )
    )


def mann_whitney_u(
    df: DataFrame,
    group_a: str = "a",
    group_b: str = "b",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) with midranks and the tie-
    corrected normal approximation — the nonparametric two-sample test
    this module's parametric tools (``tukey_fences``, ``srm_check``)
    can't replace when the metric is heavy-tailed (revenue, latency):
    it compares RANKS, so one whale in either arm cannot move it.

        U_a = R_a − n_a(n_a+1)/2,   z = (U_a − n_a·n_b/2) / σ_tie

    Output: one row — ``(n_a, n_b, u_a, z)``; |z| > 1.96 rejects equal
    distributions at 5%.

    Plan / 100 TB: midranks come from ONE value-grain aggregate (count
    per distinct value + a running cumulative — the distinct-score-grid
    window pattern pinned in test_plan_shapes), so the rows are ranked
    without a global per-row sort; the tie-correction term rides the
    same value-grain frame.  All rank sums are exact integers over 2
    (midranks are halves) accumulated as DECIMAL.
    """
    rows = df.select(
        F.col("grp").alias("g"), F.col("v").cast("double").alias("v")
    ).filter(F.col("g").isin([group_a, group_b]))
    vals = rows.groupBy("v").agg(
        F.count("*").cast("long").alias("t"),
        F.sum((F.col("g") == group_a).cast("long")).cast("long").alias("ta"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.withColumn(
        "before", F.coalesce(F.sum("t").over(w), F.lit(0))
    ).withColumn(
        # midrank of the tie group, doubled so everything stays integer
        "mid2", 2 * F.col("before") + F.col("t") + 1
    )
    agg = ranked.agg(
        F.sum("ta").cast("long").alias("n_a"),
        F.sum(F.col("t") - F.col("ta")).cast("long").alias("n_b"),
        F.sum(
            (F.col("ta") * F.col("mid2")).cast("decimal(38,0)")
        ).alias("ra2"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("decimal(38,0)")
        ).alias("tie3"),
    )
    n = F.col("n_a") + F.col("n_b")
    ua = F.col("ra2").cast("double") / 2.0 - F.col("n_a") * (
        F.col("n_a") + 1
    ) / F.lit(2.0)
    var = (
        F.col("n_a").cast("double")
        * F.col("n_b")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("tie3").cast("double") / (n * (n - 1)).cast("double")
        )
    )
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(ua, 6).alias("u_a"),
        F.round(
            (ua - F.col("n_a").cast("double") * F.col("n_b") / 2.0)
            / F.sqrt(var),
            6,
        ).alias("z"),
    )


def bh_fdr_select(
    tests: DataFrame,
    alpha: float = 0.1,
) -> DataFrame:
    """Benjamini-Hochberg FDR selection over a battery of hypothesis
    tests: rank the p-values, find the largest k with
    p_(k) ≤ k·α/m, and return every test at rank ≤ k — the multiple-
    testing discipline a metrics sweep needs (query this registry's own
    per-segment z-scores through it: at 300 segments, α=0.05 per-test
    fabricates 15 "wins" per sweep; BH caps the FALSE DISCOVERY RATE at
    α instead).

    Output: one row per SELECTED test — ``(test_id, p, rank,
    n_tests, k_selected)``; empty result = nothing survives.

    Plan / 100 TB: one rank window over the test battery (batteries are
    segment-count-sized, never corpus-sized) and a broadcast 1-row
    argmax for k — the corpus never appears; feeding it is the caller's
    aggregate.
    """
    m = F.broadcast(tests.agg(F.count("*").cast("long").alias("m")))
    w = Window.orderBy(F.col("p").asc(), F.col("test_id").asc())
    ranked = (
        tests.select(F.col("test_id"), F.col("p"))
        .withColumn("rank", F.row_number().over(w))
        .crossJoin(m)
    )
    kstar = F.broadcast(
        ranked.filter(
            F.col("p") <= F.col("rank") * F.lit(float(alpha)) / F.col("m")
        ).agg(F.coalesce(F.max("rank"), F.lit(0)).cast("long").alias("k"))
    )
    return (
        ranked.crossJoin(kstar)
        .filter(F.col("rank") <= F.col("k"))
        .select(
            "test_id",
            F.round("p", 6).alias("p"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("m").cast("bigint").alias("n_tests"),
            F.col("k").cast("bigint").alias("k_selected"),
        )
    )


def logistic_1d_fit(
    df: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """One-feature logistic regression P(y|x) = σ(a + b·x), fitted by
    ``iters`` UNROLLED Newton-Raphson (IRLS) steps from (0, 0) — the
    "train a real model inside the engine" demonstration: every step is
    ONE aggregate of five sufficient statistics (Σ(y−p), Σ(y−p)x, Σw,
    Σwx, Σwx² with w = p(1−p)) and a closed-form 2×2 solve, so the whole
    fit is ``iters`` corpus scans with nothing but two scalars between
    them.  Two steps reach ~3 correct digits on separable-ish data —
    enough for a quality-score direction check; more steps are more
    scans, linearly.

    Output: one row — ``(n, a, b, mean_nll)`` after the final step.

    Plan / 100 TB: per step, one map-side-combined aggregate (terms
    rounded to 9 dp, DECIMAL sums); the running (a, b) ride as broadcast
    1-row frames so the plan stays lazy end-to-end.  σ is clamped to
    [1e-9, 1−1e-9] before every log (the temperature_scaling_fit
    discipline).
    """
    rows = df.select(
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    )
    state = rows.sparkSession.range(1).select(
        F.lit(0.0).alias("a"), F.lit(0.0).alias("b")
    )
    dec = lambda c: F.sum(F.round(c, 9).cast("decimal(38,10)")).cast("double")  # noqa: E731
    for _ in range(int(iters)):
        raw = 1.0 / (1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("x"))))
        p = F.least(F.lit(1.0 - 1e-9), F.greatest(F.lit(1e-9), raw))
        wgt = p * (1.0 - p)
        stats = (
            rows.crossJoin(F.broadcast(state))
            .agg(
                dec(F.col("y") - p).alias("g0"),
                dec((F.col("y") - p) * F.col("x")).alias("g1"),
                dec(wgt).alias("h00"),
                dec(wgt * F.col("x")).alias("h01"),
                dec(wgt * F.col("x") * F.col("x")).alias("h11"),
                F.max("a").alias("a"),
                F.max("b").alias("b"),
            )
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        state = stats.select(
            F.round(
                F.col("a")
                + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1"))
                / det,
                9,
            ).alias("a"),
            F.round(
                F.col("b")
                + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0"))
                / det,
                9,
            ).alias("b"),
        )
    raw = 1.0 / (1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("x"))))
    p = F.least(F.lit(1.0 - 1e-9), F.greatest(F.lit(1e-9), raw))
    nll = -(F.col("y") * F.log(p) + (1.0 - F.col("y")) * F.log(1.0 - p))
    return (
        rows.crossJoin(F.broadcast(state))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.max("a").alias("fa"),
            F.max("b").alias("fb"),
            F.round(dec(nll) / F.count("*"), 6).alias("mean_nll"),
        )
        .select(
            "n",
            F.round("fa", 6).alias("a"),
            F.round("fb", 6).alias("b"),
            "mean_nll",
        )
    )


def risk_coverage_curve(
    scored: DataFrame,
    n_buckets: int = 10,
) -> DataFrame:
    """Risk-coverage curve for selective prediction (Geifman & El-Yaniv):
    sort by confidence, and for each coverage decile report the
    SELECTIVE RISK — the error rate among the predictions the model
    would actually serve if it abstained below that confidence.  The
    curve is the deployment contract of any quality/match scorer in
    this registry: "at 60% coverage the served error rate is X".  A
    well-calibrated scorer's curve rises monotonically toward the full
    error rate.

    Output per decile: ``(coverage, n_served, n_errors,
    selective_risk)``.

    Plan / 100 TB: ntile is NEVER evaluated per row — a partition-less
    row window over corpus-grain input is a single-task global sort (the
    shape ``mann_whitney_u``/``gini_mean_difference`` exist to avoid).
    Instead the rows collapse to (confidence, correct) grain first
    (map-side partial counts), and the ntile bucket boundaries are
    RECONSTRUCTED arithmetically: with N rows and q buckets, the first
    ``N mod q`` buckets hold ``N div q + 1`` rows and the rest ``N div
    q``, so a grain group occupying global positions [p+1, p+c] (p =
    exclusive cumulative count in (conf DESC, correct ASC) order) splits
    across buckets by pure integer overlap — every row of a group shares
    one err bit, so per-bucket counts need no per-row state.  The only
    unpartitioned window walks the DISTINCT-(conf, correct) grain, and
    the cumulative runs over ``n_buckets`` rows.  Output is bit-identical
    to the per-row ntile formulation (the SQL oracle keeps that shape).
    """
    q = int(n_buckets)

    def _idiv(a, b):  # exact integer division (quotient is an exact bigint)
        return ((a - F.pmod(a, b)) / b).cast("bigint")

    grain = (
        scored.select(
            F.col("confidence").alias("conf"),
            F.col("correct").cast("boolean").alias("ok"),
        )
        .groupBy("conf", "ok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wp = Window.orderBy(F.col("conf").desc(), F.col("ok").asc())
    pos = grain.select(
        "ok",
        "c",
        F.coalesce(
            F.sum("c").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ).alias("p"),
        F.sum("c")
        .over(
            wp.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n_total"),
    )
    s = _idiv(F.col("n_total"), F.lit(q))  # base bucket size
    r = F.pmod(F.col("n_total"), F.lit(q))  # first r buckets get one extra

    def bucket_of(i):  # global position (1-based) -> ntile bucket
        big = r * (s + 1)  # rows living in the size-(s+1) buckets
        return F.when(i <= big, _idiv(i + s, s + 1)).otherwise(
            # s >= 1 here: s = 0 forces n_total = r <= big, the first branch
            r + _idiv(i - big + s - 1, F.greatest(s, F.lit(1)))
        )

    spans = pos.select(
        "ok",
        "c",
        "p",
        s.alias("s"),
        r.alias("r"),
        F.explode(
            F.sequence(bucket_of(F.col("p") + 1), bucket_of(F.col("p") + F.col("c")))
        ).alias("bucket"),
    )
    start_b = (F.col("bucket") - 1) * F.col("s") + F.least(
        F.col("bucket") - 1, F.col("r")
    ) + 1
    end_b = F.col("bucket") * F.col("s") + F.least(F.col("bucket"), F.col("r"))
    ov = F.least(end_b, F.col("p") + F.col("c")) - F.greatest(
        start_b, F.col("p") + 1
    ) + 1
    b = spans.select(
        "bucket",
        ov.alias("m_part"),
        F.when(~F.col("ok"), ov).otherwise(F.lit(0)).alias("e_part"),
    ).groupBy("bucket").agg(
        F.sum("m_part").cast("long").alias("m"),
        F.sum("e_part").cast("long").alias("e"),
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return b.select(
        F.round(F.col("bucket") / F.lit(float(n_buckets)), 6)
        .alias("coverage"),
        F.sum("m").over(wc).cast("bigint").alias("n_served"),
        F.sum("e").over(wc).cast("bigint").alias("n_errors"),
        F.round(
            F.sum("e").over(wc).cast("double")
            / F.sum("m").over(wc).cast("double"),
            6,
        ).alias("selective_risk"),
    )


def gini_mean_difference(
    df: DataFrame,
) -> DataFrame:
    """Gini mean difference per group — the mean |xᵢ − xⱼ| over all
    pairs, the robust dispersion the variance overstates on heavy
    tails (one whale inflates σ² quadratically, GMD linearly).
    Computed EXACTLY at distinct-value grain: for sorted distinct
    values v with counts c, running count C and running sum S (both
    exclusive), Σ_{i<j}|xᵢ−xⱼ| = Σ_v c·(C·v − S) — no pair ever
    materializes.

    Output per group: ``(group, n, mean, gmd, relative_gmd)``
    (relative = gmd / mean, the Gini-coefficient-flavored
    scale-free form).

    Plan / 100 TB: one (group, value)-grain aggregate, then the
    cumulative window walks DISTINCT values per group (the
    ``mann_whitney_u`` discipline); value sums are DECIMAL.
    """
    rows = df.select(
        F.col("grp").alias("g"), F.col("v").cast("double").alias("v")
    )
    vals = rows.groupBy("g", "v").agg(F.count("*").cast("long").alias("c"))
    w = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    vg = vals.withColumn(
        "cb", F.coalesce(F.sum("c").over(w), F.lit(0))
    ).withColumn(
        "sb",
        F.coalesce(
            F.sum(
                F.round(F.col("c") * F.col("v"), 6).cast("decimal(38,10)")
            ).over(w),
            F.lit(0).cast("decimal(38,10)"),
        ).cast("double"),
    )
    agg = vg.groupBy("g").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.round(F.col("c") * F.col("v"), 6).cast("decimal(38,10)")
        ).cast("double").alias("vs"),
        F.sum(
            F.round(
                F.col("c") * (F.col("cb") * F.col("v") - F.col("sb")), 6
            ).cast("decimal(38,10)")
        ).cast("double").alias("pairsum"),
    )
    mean = F.col("vs") / F.col("n")
    gmd = 2.0 * F.col("pairsum") / (F.col("n") * (F.col("n") - 1)).cast("double")
    return agg.filter(F.col("n") > 1).select(
        F.col("g").alias("grp"),
        F.col("n").cast("bigint").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(gmd, 6).alias("gmd"),
        F.when(mean > 0, F.round(gmd / mean, 6)).alias("relative_gmd"),
    )


def wasserstein_length_shift(
    df: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Per-group 1-D Wasserstein-1 (earth-mover) distance between the
    group's document-length distribution and the POOLED corpus length
    distribution, in tokens — the distribution-shift number a mixture
    rebalance or a filter audit actually wants: unlike a KS statistic
    (max CDF gap, unitless) W1 says HOW MANY TOKENS of mass must move,
    so "src7 is 9.3 tokens shorter-shifted than the corpus" is directly
    actionable against a length-bucket packing plan.

        W1(P_g, P) = integral |CDF_g(x) - CDF(x)| dx
                   = sum_v |CDF_g(v) - CDF(v)| * (next_v - v)

    over the corpus's sorted DISTINCT lengths v (exact for discrete
    distributions — no binning, no approximation).

    Output per group: ``(group, n_docs, w1_tokens)``.

    Plan / 100 TB: lengths collapse to (group, length)-grain counts in
    ONE corpus scan (map-side partials); that model-sized frame is
    eagerly checkpointed because FOUR consumers read it (pooled value
    grid, group list, group totals, the grid join) — re-deriving would
    re-scan the corpus per consumer (the IPF/kcore discipline).  The
    cumulative windows walk the DISTINCT-length grain per group (the
    ``gini_mean_difference`` pattern); the only unpartitioned window
    runs at pooled distinct-length grain.  CDFs are exact integer
    cumulative counts; the only floats are the two CDF ratios per term,
    rounded to 9 dp and DECIMAL-summed.
    """
    from .textstats import token_count

    counts = (
        df.select(
            F.col(group_col).alias("g"), token_count(F.col("text")).alias("v")
        )
        .groupBy("g", "v")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pooled = (
        counts.groupBy("v")
        .agg(F.sum("c").cast("bigint").alias("ct"))
        .select(
            "v",
            F.sum("ct").over(wv).alias("cum_all"),
            F.lead("v").over(Window.orderBy("v")).alias("next_v"),
        )
    )
    totals = counts.groupBy("g").agg(F.sum("c").cast("bigint").alias("n_g"))
    n_all = F.broadcast(counts.agg(F.sum("c").cast("bigint").alias("n_all")))
    grid = totals.crossJoin(F.broadcast(pooled)).join(
        counts, ["g", "v"], "left"
    )
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = grid.select(
        "g",
        "v",
        "n_g",
        "cum_all",
        "next_v",
        F.sum(F.coalesce(F.col("c"), F.lit(0))).over(wg).alias("cum_g"),
    ).crossJoin(n_all)
    term = F.round(
        F.abs(
            F.col("cum_g").cast("double") / F.col("n_g").cast("double")
            - F.col("cum_all").cast("double") / F.col("n_all").cast("double")
        )
        * (F.col("next_v") - F.col("v")).cast("double"),
        9,
    )
    return (
        staged.filter(F.col("next_v").isNotNull())
        .groupBy(F.col("g").alias(group_col))
        .agg(
            F.max("n_g").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(term.cast("decimal(30,10)")).cast("double"), 6
            ).alias("w1_tokens"),
        )
    )


def mcnemar_test(
    df: DataFrame,
) -> DataFrame:
    """McNemar's paired test for two classifiers evaluated on the SAME
    examples — the statistically correct way to ask "is ranker B
    actually better than ranker A?" when both scored every row: the
    verdict hinges ONLY on the discordant pairs (one right, one wrong);
    comparing two unpaired accuracies wastes the pairing and overstates
    noise.  Continuity-corrected statistic:

        chi2 = (|b - c| - 1)^2 / (b + c)

    with b = only-A-right, c = only-B-right; significant at alpha=0.05
    against the chi2(1) critical value 3.841459 (a fixed constant — no
    p-value libm call, engine-replayable).

    Output: ONE row — ``(n_both_right, n_only_a, n_only_b,
    n_both_wrong, mcnemar_chi2, significant)``; chi2/significant null
    when there are no discordant pairs.

    Plan / 100 TB: one conditional-sum aggregate over the scan
    (map-side partials); every count is an exact integer and the only
    float is the final division.
    """
    a = F.col("a_correct").cast("boolean")
    b = F.col("b_correct").cast("boolean")
    agg = df.agg(
        F.sum((a & b).cast("long")).cast("bigint").alias("n_both_right"),
        F.sum((a & ~b).cast("long")).cast("bigint").alias("n_only_a"),
        F.sum((~a & b).cast("long")).cast("bigint").alias("n_only_b"),
        F.sum((~a & ~b).cast("long")).cast("bigint").alias("n_both_wrong"),
    )
    d = F.col("n_only_a") + F.col("n_only_b")
    diff = F.abs(F.col("n_only_a") - F.col("n_only_b")) - F.lit(1)
    chi2 = F.round(
        (diff * diff).cast("double") / d.cast("double"), 6
    )
    return agg.select(
        "n_both_right",
        "n_only_a",
        "n_only_b",
        "n_both_wrong",
        F.when(d > 0, chi2).alias("mcnemar_chi2"),
        F.when(d > 0, chi2 > F.lit(3.841459)).alias("significant"),
    )

def filter_disparate_impact(
    df: DataFrame,
) -> DataFrame:
    """Disparate-impact audit of a selection filter across groups — the
    four-fifths rule applied to data curation: if a quality gate keeps
    60% of one source but only 30% of another, the mixture silently
    shifts and the under-selected source's topics vanish from training.
    Per group: the selection rate, its ratio to the HIGHEST group's rate
    (impact ratio; < 0.8 flags adverse impact), and — given a ground
    truth label — the error-rate view (TPR/FPR), which separates "the
    gate is harsher on this source" from "this source genuinely has
    more bad documents".

    Output per group: ``(group, n, sel_rate, impact_ratio,
    four_fifths_flag, tpr, fpr)``; tpr/fpr null when a group has no
    positive/negative truth rows.

    Plan / 100 TB: one conditional-sum aggregate at group grain
    (map-side partials); the max selection rate rides back as a
    broadcast 1-row frame.  Exact integer counts; floats only in the
    final ratios.
    """
    p = F.col("kept").cast("boolean")
    y = F.col("good").cast("boolean")
    g = df.groupBy(F.col("source").alias("g")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(p.cast("long")).cast("bigint").alias("npos"),
        F.sum((p & y).cast("long")).cast("bigint").alias("tp"),
        F.sum((p & ~y).cast("long")).cast("bigint").alias("fp"),
        F.sum((~p & y).cast("long")).cast("bigint").alias("fn"),
        F.sum((~p & ~y).cast("long")).cast("bigint").alias("tn"),
    )
    rate = F.col("npos").cast("double") / F.col("n").cast("double")
    # group-grain, model-sized; TWO consumers (the max-rate scalar and
    # the output projection) — checkpoint so the corpus scan runs once
    staged = g.withColumn("rate", rate).localCheckpoint(eager=True)
    rmax = F.broadcast(staged.agg(F.max("rate").alias("rmax")))
    ratio = F.round(F.col("rate") / F.col("rmax"), 6)
    return staged.crossJoin(rmax).select(
        F.col("g").alias("source"),
        "n",
        F.round("rate", 6).alias("sel_rate"),
        ratio.alias("impact_ratio"),
        (ratio < F.lit(0.8)).alias("four_fifths_flag"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fn")).cast("double"),
                6,
            ),
        ).alias("tpr"),
        F.when(
            F.col("fp") + F.col("tn") > 0,
            F.round(
                F.col("fp").cast("double")
                / (F.col("fp") + F.col("tn")).cast("double"),
                6,
            ),
        ).alias("fpr"),
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.04,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    rung of the release-privacy ladder after ``k_anonymity_violations``
    and ``l_diversity_violations``: a class can be large AND diverse yet
    still leak if its sensitive-attribute DISTRIBUTION diverges from the
    table's (e.g. one clinic's "diverse" diagnoses are all cancers).
    For an ORDERED sensitive attribute the distance is the normalized
    Earth Mover's Distance:

        EMD = (1/(m-1)) * sum_i |CDF_class(v_i) - CDF_table(v_i)|

    over the table's m ordered sensitive values.  Every class is
    reported with its EMD and an ``exceeds_t`` flag (not pre-filtered:
    class sizes — and therefore sampling-noise EMD — scale with the
    data, so a fixed-threshold filter degenerates to all-or-nothing
    across scale factors).

    Output per class: ``(quasi..., group_size, emd, exceeds_t)``.

    Plan / 100 TB: rows collapse to (quasi..., sensitive) grain once
    (map-side partials, checkpointed — four consumers); class totals,
    the global distribution, and the domain scalars all derive from it;
    the per-class cumulative windows walk the class x domain GRID (both
    reduced grains).  CDFs are exact integer cumulative counts; floats
    only in the per-value |diff| terms, rounded to 9 dp and
    DECIMAL-summed.
    """
    qs = [F.col(c) for c in quasi_cols]
    fine = (
        df.groupBy(*qs, F.col(sensitive_col).alias("__sv"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    # internal columns carry dunder names so a caller's quasi column
    # (e.g. literally "g" or "nc") can never collide
    cls = fine.groupBy(*quasi_cols).agg(F.sum("n").cast("bigint").alias("__nc"))
    gd = fine.groupBy("__sv").agg(F.sum("n").cast("bigint").alias("__g"))
    dom = F.broadcast(
        gd.agg(
            F.count("*").cast("bigint").alias("__m"),
            F.sum("__g").cast("bigint").alias("__nt"),
        )
    )
    wv = Window.orderBy("__sv").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gcum = gd.select("__sv", F.sum("__g").over(wv).alias("__cg"))
    grid = cls.crossJoin(F.broadcast(gcum)).join(
        fine, [*quasi_cols, "__sv"], "left"
    )
    wc = Window.partitionBy(*quasi_cols).orderBy("__sv").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = grid.select(
        *quasi_cols,
        "__nc",
        "__cg",
        F.sum(F.coalesce(F.col("n"), F.lit(0))).over(wc).alias("__cn"),
    ).crossJoin(dom)
    term = F.round(
        F.abs(
            F.col("__cn").cast("double") / F.col("__nc").cast("double")
            - F.col("__cg").cast("double") / F.col("__nt").cast("double")
        ),
        9,
    )
    emd = F.round(
        F.sum(term.cast("decimal(30,10)")).cast("double")
        / (F.max("__m") - F.lit(1)).cast("double"),
        6,
    )
    return (
        staged.groupBy(*quasi_cols, "__nc")
        .agg(emd.alias("emd"))
        .select(
            *quasi_cols,
            F.col("__nc").alias("group_size"),
            "emd",
            (F.col("emd") > F.lit(float(t))).alias("exceeds_t"),
        )
    )

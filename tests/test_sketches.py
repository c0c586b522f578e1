"""Sketch aggregates: approx variants must track their exact baselines
within the advertised error bounds, and the exact forms must agree with a
pure-Python recount."""

import math

from conftest import SF_DIR

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import sketches


def test_approx_distinct_within_rsd(spark):
    events = td.load_table(spark, SF_DIR, "events")
    exact = {r.day: r.n_users for r in sketches.distinct_daily(events).collect()}
    approx = {
        r.day: r.n_users_approx
        for r in sketches.approx_distinct_daily(events, rsd=0.02).collect()
    }
    assert set(exact) == set(approx)
    for day, n in exact.items():
        # HLL++ rsd=0.02 → 3-sigma ≈ 6%; synthetic per-day cardinalities
        # are small so allow an absolute floor too
        assert abs(approx[day] - n) <= max(0.1 * n, 3), (day, n, approx[day])


def test_approx_percentiles_within_rank_error(spark):
    # percentile_approx returns an actual element (no interpolation), so
    # value distance to the exact quantile can be a whole element-gap in a
    # sparse tail — the GK guarantee is on RANK error, so that is what we
    # assert: the returned element's rank within its group is within ~1%
    # of the requested quantile (accuracy=10k alone gives 1e-4; add
    # discreteness slack for ~2k-row groups).
    import bisect

    events = td.load_table(spark, SF_DIR, "events")
    approx = {r[0]: r for r in sketches.approx_value_percentiles(events).collect()}
    rows = events.select("event_type", "value").collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r.event_type, []).append(r.value)
    assert set(approx) == set(by_g)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        for fld, q in zip(("p50", "p90", "p99"), sketches.PCTS):
            v = approx[g][fld]
            lo = bisect.bisect_left(vals, v - 5e-5)  # 4dp rounding slack
            hi = bisect.bisect_right(vals, v + 5e-5)
            rank_err = min(abs(lo - q * n), abs(hi - q * n)) / n
            assert rank_err <= 0.01, (g, fld, v, rank_err)


def test_exact_percentile_matches_python(spark):
    events = td.load_table(spark, SF_DIR, "events")
    got = {r.event_type: r for r in sketches.value_percentiles(events).collect()}
    rows = events.select("event_type", "value").collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r.event_type, []).append(r.value)
    for g, vals in by_g.items():
        vals.sort()
        for fld, q in zip(("p50", "p90", "p99"), sketches.PCTS):
            # linear interpolation, the quantile_cont definition
            idx = q * (len(vals) - 1)
            lo, hi = math.floor(idx), math.ceil(idx)
            want = vals[lo] + (vals[hi] - vals[lo]) * (idx - lo)
            assert abs(got[g][fld] - want) < 1e-3, (g, fld)


def test_heavy_hitters_equal_exact_topk(spark):
    from pyspark.sql import functions as F

    from rss_feed_etl_spark import testdata as td
    from rss_feed_etl_spark.operators.sketches import heavy_hitters_topk
    from rss_feed_etl_spark.functions.text import tokens
    from rss_feed_etl_spark.operators.textstats import STOPWORDS_EN

    docs = td.load_table(spark, SF_DIR, "documents")
    toks = F.transform(tokens(F.col("text")), F.lower)
    terms = docs.select(F.explode(toks).alias("term")).filter(
        (F.length("term") >= 3)
        & F.col("term").rlike("^[a-z]+$")
        & ~F.col("term").isin(STOPWORDS_EN)
    )
    exact = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(10)
        .collect()
    )
    pruned = heavy_hitters_topk(terms, k=10, width=1000).collect()
    assert [(r.term, r.n_occurrences) for r in pruned] == [
        (r.term, r.n_occurrences) for r in exact
    ]
    # spread the input differently: answer must not move
    pruned2 = heavy_hitters_topk(terms.repartition(13), k=10, width=1000).collect()
    assert [(r.term, r.n_occurrences) for r in pruned2] == [
        (r.term, r.n_occurrences) for r in exact
    ]

"""Wave 39: paragraph-grain dedup, Kaplan-Meier survival, time-decay
attribution."""

from __future__ import annotations

import datetime as dt
import math

from conftest import docs_frame

from rss_feed_etl_spark.operators import dedup, eventanalytics as ea


# --- paragraph_dedup --------------------------------------------------------


def test_paragraph_dedup_keeps_first_occurrence(spark):
    # width=2 paragraphs: doc 1 = [a b][c d], doc 2 repeats [a b] then adds
    # [e f] — the repeat is dropped from doc 2 only
    df = docs_frame(spark, [(1, "a b c d"), (2, "a b e f")])
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(df, width=2).collect()}
    assert out[1]["clean_text"] == "a b c d"
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["clean_text"] == "e f"
    assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1


def test_paragraph_dedup_within_doc_repeat(spark):
    # a paragraph repeated INSIDE one document keeps only its first position
    df = docs_frame(spark, [(7, "x y z w x y")])
    r = dedup.paragraph_dedup(df, width=2).collect()[0]
    assert r["clean_text"] == "x y z w"
    assert r["n_paras"] == 3 and r["n_kept"] == 2


def test_paragraph_dedup_fully_duplicated_doc_survives_empty(spark):
    df = docs_frame(spark, [(1, "p q r s"), (2, "p q r s")])
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(df, width=2).collect()}
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[1]["clean_text"] == "p q r s"


def test_paragraph_dedup_partial_tail_paragraph(spark):
    # 5 tokens at width 3 → paragraphs [a b c], [d e]
    df = docs_frame(spark, [(1, "a b c d e")])
    r = dedup.paragraph_dedup(df, width=3).collect()[0]
    assert r["n_paras"] == 2 and r["clean_text"] == "a b c d e"


def test_paragraph_dedup_stable_under_repartition(spark):
    df = docs_frame(
        spark,
        [(i, f"tok{i % 4} tok{i % 4} common text here pad{i}") for i in range(40)],
    )
    a = sorted(map(tuple, dedup.paragraph_dedup(df, width=3).collect()))
    b = sorted(map(tuple, dedup.paragraph_dedup(df.repartition(9), width=3).collect()))
    assert a == b


# --- kaplan_meier -----------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp")


def test_kaplan_meier_hand_computed(spark):
    d0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    rows = [
        # u1: days 0..2 → duration 2, last day 2 <= 10-3 → event
        (1, 1, d0), (2, 1, d0 + 2 * day),
        # u2: days 0..5 → duration 5, event
        (3, 2, d0), (4, 2, d0 + 5 * day),
        # u3: days 0..10 → duration 10, last==max → censored
        (5, 3, d0), (6, 3, d0 + 10 * day),
        # u4: days 3..5 → duration 2, event
        (7, 4, d0 + 3 * day), (8, 4, d0 + 5 * day),
    ]
    out = {
        r["duration_days"]: r
        for r in ea.kaplan_meier(_events(spark, rows), censor_days=3).collect()
    }
    # at t=2: n=4, d=2 → S=0.5 ; at t=5: n=2, d=1 → 0.25 ; t=10 censored
    assert out[2]["n_risk"] == 4 and out[2]["n_events"] == 2
    assert math.isclose(out[2]["survival"], 0.5)
    assert out[5]["n_risk"] == 2 and math.isclose(out[5]["survival"], 0.25)
    assert out[10]["n_censored"] == 1 and out[10]["n_events"] == 0
    assert math.isclose(out[10]["survival"], 0.25)


def test_kaplan_meier_survival_monotone_nonincreasing(spark):
    import random

    rng = random.Random(7)
    d0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(60):
        start = rng.randrange(0, 10)
        span = rng.randrange(0, 15)
        for k in (0, span):
            eid += 1
            rows.append((eid, u, d0 + dt.timedelta(days=start + k)))
    curve = (
        ea.kaplan_meier(_events(spark, rows), censor_days=2)
        .orderBy("duration_days")
        .collect()
    )
    survs = [r["survival"] for r in curve]
    assert all(a >= b - 1e-9 for a, b in zip(survs, survs[1:]))
    assert all(0.0 <= s <= 1.0 for s in survs)


# --- time_decay_attribution -------------------------------------------------


def _tda_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string, value double"
    )


def test_time_decay_shares_sum_to_conversions(spark):
    import random

    rng = random.Random(11)
    d0 = dt.datetime(2024, 1, 1)
    rows = []
    n_conv = 0
    for eid in range(400):
        et = rng.choice(["view", "click", "purchase", "error"])
        n_conv += et == "purchase"
        rows.append(
            (eid, rng.randrange(20), d0 + dt.timedelta(minutes=rng.randrange(40000)),
             et, round(rng.uniform(1, 50), 2))
        )
    out = ea.time_decay_attribution(
        _tda_events(spark, rows), source_types=["view", "click"], half_life_days=7.0
    ).collect()
    total_credit = sum(r["credited_conversions"] for r in out)
    assert math.isclose(total_credit, n_conv, abs_tol=0.01)


def test_time_decay_recent_touch_earns_more(spark):
    d0 = dt.datetime(2024, 1, 1)
    rows = [
        # view 14 days before conversion, click 1 day before → click's decay
        # weight is 2^(13/7) ≈ 3.6× the view's
        (1, 1, d0, "view", 0.0),
        (2, 1, d0 + dt.timedelta(days=13), "click", 0.0),
        (3, 1, d0 + dt.timedelta(days=14), "purchase", 100.0),
    ]
    out = {r["source"]: r for r in ea.time_decay_attribution(
        _tda_events(spark, rows), source_types=["view", "click"], half_life_days=7.0
    ).collect()}
    assert out["click"]["credited_conversions"] > out["view"]["credited_conversions"]
    assert math.isclose(
        out["click"]["credited_value"] + out["view"]["credited_value"], 100.0,
        abs_tol=0.05,
    )
    w_click = 0.5 ** (1 / 7.0)
    w_view = 0.5 ** (14 / 7.0)
    assert math.isclose(
        out["click"]["credited_conversions"],
        w_click / (w_click + w_view),
        abs_tol=1e-3,
    )


def test_time_decay_no_touch_goes_direct(spark):
    d0 = dt.datetime(2024, 1, 1)
    rows = [(1, 5, d0, "purchase", 40.0)]
    out = {r["source"]: r for r in ea.time_decay_attribution(
        _tda_events(spark, rows), source_types=["view", "click"], half_life_days=7.0
    ).collect()}
    assert out["direct"]["credited_conversions"] == 1.0
    assert out["direct"]["credited_value"] == 40.0
    assert out["view"]["credited_conversions"] == 0.0

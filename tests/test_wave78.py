"""Wave 78: Simpson's paradox audit and keyword snippets."""

from __future__ import annotations

import datetime as dt

from conftest import md5_arm
from pyspark.sql import Row

from rss_feed_etl_spark.operators import eventanalytics as ea
from rss_feed_etl_spark.operators import textstats


def test_simpson_constructs_reversal(spark):
    # classic construction: within both segments arm1 BEATS arm0, but
    # arm1 is concentrated in the low-value segment, so overall it LOSES
    base = dt.datetime(2024, 1, 1)
    a0 = [u for u in range(2000) if md5_arm(u) == 0][:200]
    a1 = [u for u in range(2000) if md5_arm(u) == 1][:200]
    rows, eid = [], 0

    def emit(users, seg, val):
        nonlocal eid, rows
        for u in users:
            rows.append(Row(event_id=eid, user_id=u, event_type=seg,
                            ts=base, value=float(val)))
            eid += 1

    # segment 'hi': arm0 heavy (180 users at 100), arm1 light (20 at 110)
    emit(a0[:180], "hi", 100.0)
    emit(a1[:20], "hi", 110.0)
    # segment 'lo': arm0 light (20 at 10), arm1 heavy (180 at 20)
    emit(a0[180:200], "lo", 10.0)
    emit(a1[20:200], "lo", 20.0)
    out = {r["segment"]: r for r in
           ea.simpsons_paradox_check(spark.createDataFrame(rows)).collect()}
    # within both segments arm1 wins
    assert out["hi"]["diff"] > 0 and out["lo"]["diff"] > 0
    # overall arm1 loses (mix effect) -> segments disagree with overall
    assert out["OVERALL"]["diff"] < 0
    assert out["hi"]["agrees_with_overall"] == 0
    assert out["lo"]["agrees_with_overall"] == 0
    assert out["OVERALL"]["agrees_with_overall"] == 1


def test_simpson_no_paradox_all_agree(spark):
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(600):
        lift = 5.0 if md5_arm(u) == 1 else 0.0
        for seg in ("a", "b"):
            rows.append(Row(event_id=eid, user_id=u, event_type=seg,
                            ts=base, value=50.0 + lift))
            eid += 1
    out = ea.simpsons_paradox_check(spark.createDataFrame(rows)).collect()
    assert all(r["agrees_with_overall"] == 1 for r in out)


def test_keyword_snippets_positions_and_clipping(spark):
    rows = [
        Row(doc_id=1, text="x" * 100 + "data" + "y" * 100),  # middle
        Row(doc_id=2, text="data starts this document " + "z" * 50),  # at head
        Row(doc_id=3, text="no keyword here"),
    ]
    out = {r["doc_id"]: r for r in
           textstats.keyword_snippets(spark.createDataFrame(rows), "data").collect()}
    assert set(out) == {1, 2}
    assert out[1]["pos"] == 101
    assert out[1]["snippet"] == "x" * 40 + "data" + "y" * 40
    # head occurrence: left context clips at string start
    assert out[2]["pos"] == 1
    assert out[2]["snippet"].startswith("data starts")
    assert len(out[2]["snippet"]) == 4 + 40

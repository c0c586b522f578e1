"""Wave 91: funnel A/B compare and xor table checksums."""

from __future__ import annotations

import datetime as dt

from conftest import md5_arm
from pyspark.sql import Row

from rss_feed_etl_spark.operators import eventanalytics as ea
from rss_feed_etl_spark.operators import profiling


def test_funnel_ab_locates_stage_effect(spark):
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # everyone views; arm1 clicks twice as often; purchase|click same
    for u in range(1200):
        rows.append(Row(event_id=eid, user_id=u, event_type="view", ts=base)); eid += 1
        clicks = (u % 2 == 0) if md5_arm(u) == 1 else (u % 4 == 0)
        if clicks:
            rows.append(Row(event_id=eid, user_id=u, event_type="click",
                            ts=base + dt.timedelta(minutes=1))); eid += 1
            if u % 8 == 0:
                rows.append(Row(event_id=eid, user_id=u, event_type="purchase",
                                ts=base + dt.timedelta(minutes=2))); eid += 1
    out = {r["stage"]: r for r in
           ea.funnel_ab_compare(spark.createDataFrame(rows),
                                ["view", "click", "purchase"]).collect()}
    # view stage: both arms 100% -> zero variance -> z NULL
    assert out["view"]["rate_arm0"] == 1.0 and out["view"]["rate_arm1"] == 1.0
    assert out["view"]["z_score"] is None
    # click stage: strong positive z for arm1
    assert out["click"]["rate_arm1"] > out["click"]["rate_arm0"]
    assert out["click"]["z_score"] > 3.0
    # ordered funnel: purchases only count after clicks
    assert out["purchase"]["n_arm0"] + out["purchase"]["n_arm1"] <= (
        out["click"]["n_arm0"] + out["click"]["n_arm1"]
    )


def test_checksum_order_insensitive_and_sensitive_to_change(spark):
    ev = [Row(event_id=i, user_id=i % 7, event_type="view",
              ts=dt.datetime(2024, 1, 1 + i % 5), value=float(i))
          for i in range(50)]
    doc = [Row(doc_id=i, lang="en", source="s", n_chars=10, text=f"t{i}")
           for i in range(20)]
    li = [Row(l_orderkey=i, l_linenumber=1, l_quantity=2.0,
              l_extendedprice=10.0, l_returnflag="N") for i in range(30)]

    def run(ev_rows):
        return {
            r["table_name"]: (r["n_rows"], r["xor_checksum"])
            for r in profiling.table_checksums(
                spark.createDataFrame(ev_rows),
                spark.createDataFrame(doc),
                spark.createDataFrame(li),
            ).collect()
        }

    base_out = run(ev)
    shuffled = run(list(reversed(ev)))
    assert base_out == shuffled  # xor is order-insensitive
    # a single changed row flips the checksum but not the count
    ev2 = list(ev)
    ev2[10] = Row(event_id=10, user_id=3, event_type="view",
                  ts=dt.datetime(2024, 1, 1), value=999.0)
    changed = run(ev2)
    assert changed["events"][0] == base_out["events"][0]
    assert changed["events"][1] != base_out["events"][1]
    assert changed["documents"] == base_out["documents"]

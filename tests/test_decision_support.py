"""Semantics tests for the decision-support shapes (Q4/Q13/Q17/Q21/Q22
adaptations) on hand-built frames, plus plan-shape checks for the join
strategies they are designed around."""

import datetime as dt

from conftest import SF_DIR, plan_text
from pyspark.sql import Row

from rss_feed_etl_spark.operators import decision_support as ds


def _ts(d):
    return dt.datetime.fromisoformat(d)


def test_sole_late_supplier_rules(spark):
    orders = spark.createDataFrame(
        [
            Row(o_orderkey=1, o_orderdate=_ts("2000-01-01"), o_orderstatus="F"),
            Row(o_orderkey=2, o_orderdate=_ts("2000-01-01"), o_orderstatus="F"),
            Row(o_orderkey=3, o_orderdate=_ts("2000-01-01"), o_orderstatus="F"),
            Row(o_orderkey=4, o_orderdate=_ts("2000-01-01"), o_orderstatus="O"),
        ]
    )
    late, ok = _ts("2000-06-01"), _ts("2000-01-15")
    li = spark.createDataFrame(
        [
            # order 1: suppliers 1,2 -- only 1 late -> supplier 1 blamed
            Row(l_orderkey=1, l_suppkey=1, l_shipdate=late),
            Row(l_orderkey=1, l_suppkey=2, l_shipdate=ok),
            # order 2: single supplier late -> excluded (not multi-supplier)
            Row(l_orderkey=2, l_suppkey=1, l_shipdate=late),
            # order 3: two late suppliers -> excluded (blame is ambiguous)
            Row(l_orderkey=3, l_suppkey=1, l_shipdate=late),
            Row(l_orderkey=3, l_suppkey=2, l_shipdate=late),
            # order 4: late but status O -> excluded
            Row(l_orderkey=4, l_suppkey=1, l_shipdate=late),
            Row(l_orderkey=4, l_suppkey=2, l_shipdate=ok),
        ]
    )
    supplier = spark.createDataFrame(
        [Row(s_suppkey=1, s_name="s1"), Row(s_suppkey=2, s_name="s2")]
    )
    out = ds.sole_late_suppliers(supplier, orders, li, late_days=60).collect()
    assert [(r["s_name"], r["numwait"]) for r in out] == [("s1", 1)]


def test_customer_distribution_counts_zero_order_customers(spark):
    customer = spark.createDataFrame([Row(c_custkey=i) for i in (1, 2, 3)])
    orders = spark.createDataFrame(
        [Row(o_custkey=1, o_orderkey=10), Row(o_custkey=1, o_orderkey=11)]
    )
    out = {r["c_count"]: r["custdist"]
           for r in ds.customer_order_distribution(customer, orders).collect()}
    assert out == {2: 1, 0: 2}


def test_small_quantity_revenue_thresholds_per_part(spark):
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_brand="B"), Row(p_partkey=2, p_brand="B"),
         Row(p_partkey=3, p_brand="X")]
    )
    li = spark.createDataFrame(
        [
            # part 1: avg qty 10 -> threshold 5; only qty=4 row kept
            Row(l_partkey=1, l_quantity=4.0, l_extendedprice=70.0),
            Row(l_partkey=1, l_quantity=16.0, l_extendedprice=999.0),
            # part 2: avg qty 20 -> threshold 10; qty=8 kept
            Row(l_partkey=2, l_quantity=8.0, l_extendedprice=70.0),
            Row(l_partkey=2, l_quantity=32.0, l_extendedprice=999.0),
            # part 3: wrong brand, ignored entirely
            Row(l_partkey=3, l_quantity=1.0, l_extendedprice=7000.0),
        ]
    )
    out = ds.small_quantity_revenue(li, part, "B", frac=0.5).collect()
    assert out[0]["avg_yearly"] == 20.0  # (70 + 70) / 7


def test_priority_late_semi_join_emits_order_once(spark):
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_orderdate=_ts("1996-02-01"),
             o_orderpriority="1-URGENT")]
    )
    li = spark.createDataFrame(
        [Row(l_orderkey=1, l_shipdate=_ts("1996-06-01")),
         Row(l_orderkey=1, l_shipdate=_ts("1996-07-01"))]
    )
    out = ds.order_priority_late(orders, li, "1996-01-01", "1996-07-01").collect()
    assert [(r["o_orderpriority"], r["order_count"]) for r in out] == [
        ("1-URGENT", 1)
    ]


def test_decision_support_plan_shapes(spark):
    from rss_feed_etl_spark import driver_queries

    qs = driver_queries.queries()
    semi = plan_text(qs["order_priority_late"](spark, SF_DIR))
    assert "LeftSemi" in semi
    anti = plan_text(qs["idle_rich_customers"](spark, SF_DIR))
    assert "LeftAnti" in anti and "BroadcastHashJoin" in anti
    topk = plan_text(qs["large_order_customers"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in topk and "BroadcastHashJoin" in topk

"""Decision-support query shapes (TPC-H Q4/Q13/Q15/Q16/Q17/Q18/Q19/Q21/Q22
adapted to the testdata star schema).

The reference has no GROUP BY tree, subqueries, or non-key joins (SURVEY.md
section 2.4 "absent in reference"); these are the Spark-native bonus shapes
that exercise the optimizer paths a 100 TB warehouse lives on: semi/anti
joins instead of EXISTS self-joins, broadcast of filtered dimensions and
1-row scalar aggregates, partial aggregation before wide joins, and
distinct-aggregate planning.

Schema adaptations (testdata lacks some TPC-H columns):
- no l_commitdate/l_receiptdate -> "late" means shipped > N days after
  o_orderdate;
- no partsupp -> the (part, supplier) relation is derived from lineitem;
- no c_phone -> Q22 groups by nation instead of phone prefix.

Every function returns an un-collected DataFrame and rounds float
aggregates to 2dp before any ordering that selects rows (cross-engine
float-parity rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def order_priority_late(
    orders: DataFrame,
    lineitem: DataFrame,
    start: str,
    end: str,
    late_days: int = 30,
) -> DataFrame:
    """Q4 shape: per order-priority, how many orders in [start, end) had at
    least one lineitem shipped more than ``late_days`` after the order date.

    The EXISTS is a left-semi join keyed on the orderkey with the lateness
    predicate folded into the join condition, so each order is emitted at
    most once and no dedup pass is needed.  At scale both sides are large:
    the date filter prunes orders at the scan, and the semi join shuffles
    only (orderkey, shipdate) off the lineitem side thanks to column
    pruning.
    """
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    )
    li = lineitem.select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """Q13 shape: distribution of customers by how many orders they placed
    (including zero).

    Two aggregation levels: the first groupBy shuffles on custkey (same key
    as the left join, so AQE coalesces into one exchange); the second input
    is tiny (one row per distinct order count).  Counting ``o_orderkey``
    rather than ``*`` makes left-join null rows count as zero orders.
    """
    per_cust = (
        customer.select("c_custkey")
        .join(orders.select("o_custkey", "o_orderkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str,
    frac: float = 0.5,
) -> DataFrame:
    """Q17 shape: average yearly revenue lost if small orders (quantity
    below ``frac`` x the part's average) of one brand were not filled.

    The brand-filtered part dimension is broadcast; per-part average
    quantity is computed on the already-pruned lineitem subset and
    broadcast back (two small broadcasts instead of a windowed shuffle of
    the full fact table).
    """
    p = F.broadcast(part.filter(F.col("p_brand") == brand).select("p_partkey"))
    li = lineitem.select("l_partkey", "l_quantity", "l_extendedprice").join(
        p, F.col("l_partkey") == F.col("p_partkey"), "inner"
    )
    avgs = F.broadcast(
        li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
        .withColumnRenamed("l_partkey", "ap_partkey")
    )
    return (
        li.join(avgs, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < frac * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def large_order_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: float = 150.0,
    top: int = 100,
) -> DataFrame:
    """Q18 shape: customers who placed orders totalling more than
    ``min_qty`` units, largest orders first.

    The partial aggregate (sum of quantity per orderkey) runs map-side
    before its shuffle; the HAVING filter then shrinks it to a sliver,
    which is broadcast into the orders join so the big fact table is never
    shuffled.  Customer lookup hash-joins on the already-tiny result.
    """
    big = F.broadcast(
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > min_qty)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(top)
    )


def disjunctive_brand_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    clauses: list[tuple[str, float, float, int, int]],
) -> DataFrame:
    """Q19 shape: revenue from an OR of brand/quantity/size clauses, each
    ``(brand, qty_lo, qty_hi, size_lo, size_hi)``.

    One broadcast hash join with the disjunction evaluated post-join; the
    overall quantity envelope (min lo .. max hi) is ANDed in separately so
    it pushes down to the lineitem parquet scan even though the OR itself
    cannot.
    """
    qty_lo = min(c[1] for c in clauses)
    qty_hi = max(c[2] for c in clauses)
    ors = None
    for brand, qlo, qhi, slo, shi in clauses:
        c = (
            (F.col("p_brand") == brand)
            & F.col("l_quantity").between(qlo, qhi)
            & F.col("p_size").between(slo, shi)
        )
        ors = c if ors is None else (ors | c)
    return (
        lineitem.filter(F.col("l_quantity").between(qty_lo, qty_hi))
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
              F.col("l_partkey") == F.col("p_partkey"))
        .filter(ors)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def top_supplier_quarter(
    supplier: DataFrame, lineitem: DataFrame, start: str, end: str
) -> DataFrame:
    """Q15 shape: the supplier(s) with maximum revenue over one quarter.

    Revenue is rounded to 2dp BEFORE the max-compare so the row selection
    is identical across engines despite float sum-order differences.  The
    1-row max aggregate is broadcast (a cross join of a singleton), never
    recomputed per row; supplier lookup joins on the tiny winners set.
    """
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = F.broadcast(rev.agg(F.max("total_revenue").alias("max_revenue")))
    return (
        rev.join(mx, F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def brand_supplier_counts(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    exclude_brand: str,
    top: int = 40,
) -> DataFrame:
    """Q16 shape: how many distinct suppliers ship each (brand, type, size)
    combination, excluding one brand and below-average-balance suppliers.

    The (part, supplier) relation is derived from lineitem (no partsupp
    table).  Supplier exclusion is an anti join against a broadcast of the
    filtered supplier keys; the distinct aggregate runs on (brand, type,
    size, suppkey) pairs AFTER dropping duplicates map-side via the
    distinct, so the final shuffle carries unique pairs only.
    """
    avg_bal = supplier.agg(F.avg("s_acctbal").alias("a"))
    weak = F.broadcast(
        supplier.join(F.broadcast(avg_bal), F.col("s_acctbal") < F.col("a"))
        .select("s_suppkey")
    )
    p = F.broadcast(
        part.filter(F.col("p_brand") != exclude_brand)
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(weak, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count("*").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
        .limit(top)
    )


def sole_late_suppliers(
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    late_days: int = 60,
    top: int = 20,
) -> DataFrame:
    """Q21 shape: suppliers who were the ONLY late shipper on a finished
    multi-supplier order.

    The classic formulation is two correlated EXISTS self-joins of
    lineitem; here one groupBy per order computes (distinct suppliers,
    distinct late suppliers, the single late supplier key) in a single
    shuffle, then filters to n_supp > 1 and n_late == 1 — three scans and
    two shuffles become one of each.  Late = shipped more than
    ``late_days`` after the order date.
    """
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {late_days} DAYS"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    culprits = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    )
    return (
        culprits.join(F.broadcast(supplier.select("s_suppkey", "s_name")),
                      F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(top)
    )


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame, nation: DataFrame,
    since: str = "1999-01-01",
) -> DataFrame:
    """Q22 shape: per nation, count and total balance of customers with
    above-average (positive) account balance and no order since ``since``
    (dormant accounts worth a sales call).

    The scalar average is a 1-row broadcast cross join; "no recent order"
    is a left-anti join on custkey against the date-pruned orders scan;
    the nation dimension is broadcast.  No EXISTS, no correlated probe.
    """
    avg_bal = F.broadcast(
        customer.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return (
        customer.join(avg_bal, F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def decile_rank_orders(orders: DataFrame) -> DataFrame:
    """Bonus analytic shape: each order's revenue decile within its
    priority class plus the running share of class revenue it completes —
    two frame-spec windows over one (priority, price) sort, demonstrating
    window reuse (one shuffle feeds both functions).
    """
    w_rank = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("o_orderpriority")
    # Exact integer cents make the prefix sums order-independent, so the
    # share is one IEEE division -- bit-identical across engines.
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(10).over(w_rank).alias("price_decile"),
        F.round(
            F.sum(cents).over(w_run) / F.sum(cents).over(w_all), 6
        ).alias("running_share"),
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    n1: str,
    n2: str,
    start: str,
    end: str,
) -> DataFrame:
    """Q7 shape: shipped revenue between two nations by direction and year.

    The two nation-filtered dimension maps (supplier→nation, customer→
    nation) broadcast — they are selective slices of small dimensions — so
    the only large-large exchange is lineitem ⋈ orders on the orderkey.
    The cross-nation predicate is applied AFTER both maps attach, as one
    cheap row filter; revenue is summed once per (direction, year).
    """
    nat = nation.select("n_nationkey", "n_name").filter(
        F.col("n_name").isin(n1, n2)
    )
    sup = supplier.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cus = customer.join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        F.year("l_shipdate").alias("l_year"),
    )
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str,
    target_region: str,
    part: DataFrame,
    part_type: str,
    start: str,
    end: str,
) -> DataFrame:
    """Q8 shape: the target nation's share of a region's market for one
    part type, by order year.

    All dimension slices broadcast (region→nation→customer chain folds to
    one broadcast customer map; filtered part and supplier maps likewise);
    share = conditional-sum / sum in ONE aggregate pass, so the market is
    scanned once — no second query for the denominator.
    """
    rnat = nation.join(
        F.broadcast(region.filter(F.col("r_name") == target_region)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey")
    cus = customer.join(
        F.broadcast(rnat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    sup = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    pts = part.filter(F.col("p_type") == part_type).select("p_partkey")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    vol = (
        lineitem.select(
            "l_orderkey", "l_partkey", "l_suppkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .join(F.broadcast(pts), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == target_nation, F.col("volume"))
                  .otherwise(F.lit(0.0)))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


def nation_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    name_contains: str,
    cost_factor: float = 0.6,
) -> DataFrame:
    """Q9 shape: profit by supplier nation and order year over parts whose
    name contains a string.

    Schema adaptation: testdata has no partsupp, so unit cost is
    ``cost_factor * p_retailprice`` (the fixed-margin analog of
    ps_supplycost).  Filtered part map and supplier→nation map broadcast;
    lineitem ⋈ orders on orderkey is the only large exchange, carrying
    only (orderkey, year) off the orders side.
    """
    pts = part.filter(F.col("p_name").contains(name_contains)).select(
        "p_partkey", "p_retailprice"
    )
    sup = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(cost_factor) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
                        "l_extendedprice", "l_discount", "l_quantity")
        .join(F.broadcast(pts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("supp_nation", "o_year")
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


def min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    p_type: str,
    p_size_max: int,
) -> DataFrame:
    """Q2 shape: for each part of a type/size class, every supplier
    matching the part's MINIMUM observed unit cost (testdata has no
    partsupp, so unit cost is min(l_extendedprice/l_quantity) over the
    lineitem history — the derived (part, supplier) supply relation).

    Plan: one groupBy builds the (part, supplier, cost) relation; the
    per-part minimum is a second, strictly smaller aggregate joined back
    on (partkey, cost) — the classic correlated-subquery → aggregate-join
    rewrite.  The filtered part dimension broadcasts into the FIRST
    aggregate so non-matching parts never reach the shuffle; supplier and
    nation broadcast at the end onto the (small) winners.
    """
    p = F.broadcast(
        part.filter(
            (F.col("p_type") == p_type) & (F.col("p_size") <= p_size_max)
        ).select("p_partkey")
    )
    supply = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    best = supply.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("cost").alias("best_cost")
    )
    winners = supply.join(
        best,
        (F.col("l_partkey") == F.col("b_partkey"))
        & (F.col("cost") == F.col("best_cost")),
    )
    # cost is emitted UNROUNDED: min(price/qty) is bit-identical IEEE math
    # in every engine, while round() tie-breaking is not (HALF_UP on the
    # decimal repr vs float-math rounding diverge at 4dp boundaries)
    return (
        winners.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            F.col("n_name").alias("supp_nation"),
            F.col("cost").alias("min_cost"),
        )
    )


def important_part_values(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str,
    avg_mult: float = 2.0,
) -> DataFrame:
    """Q11 shape: parts whose traded value through one nation's suppliers
    exceeds ``avg_mult``× the average per-part value for that nation
    (value = extendedprice·(1−discount); testdata has no partsupp
    availqty).  Q11's fixed fraction-of-total threshold is scale-variant —
    at 10× the parts every share shrinks 10× and the query goes empty — so
    the threshold here is relative to the average, which is stable across
    scale factors.

    The HAVING threshold is a 1-row scalar aggregate CROSS-joined
    (broadcast) into the per-part aggregate — the same counted-once
    pattern as tfidf's n_docs: no second pass over the fact table, no
    driver round-trip.  The nation's supplier set broadcasts into the
    scan so the fact rows are pruned before the per-part shuffle.
    """
    s = F.broadcast(
        supplier.join(
            F.broadcast(nation.filter(F.col("n_name") == nation_name)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    li = lineitem.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"),
    ).join(s, F.col("l_suppkey") == F.col("s_suppkey"))
    per_part = li.groupBy("l_partkey").agg(F.sum("val").alias("part_value"))
    total = li.agg(
        (
            F.lit(avg_mult) * F.sum("val") / F.count_distinct("l_partkey")
        ).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", F.round("part_value", 2).alias("part_value"))
    )


def ship_latency_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    start: str,
    end: str,
    fast_days: int = 30,
    slow_days: int = 60,
) -> DataFrame:
    """Q12 shape: per shipping-latency class (testdata has no l_shipmode —
    classes are derived from shipdate−orderdate), how many lineitems came
    from high- vs low-priority orders.

    lineitem⋈orders is the one genuinely large join; the date filter
    prunes the lineitem scan, both sides are column-pruned to 2–3 columns,
    and the conditional counts partial-aggregate map-side after the join.
    """
    li = lineitem.select("l_orderkey", "l_shipdate").filter(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    )
    o = orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    latency = (
        F.when(delay <= fast_days, "FAST")
        .when(delay > slow_days, "SLOW")
        .otherwise("MEDIUM")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(latency.alias("latency_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def dominant_share_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_sub: str,
    start: str,
    end: str,
    share: float = 0.5,
) -> DataFrame:
    """Q20 shape: suppliers who shipped more than ``share`` of some
    matching part's total quantity in a date window (testdata has no
    partsupp availqty — the excess test runs against shipped totals).

    Chained aggregates replace the nested EXISTS/IN subqueries: per
    (part, supplier) quantity → per-part total joined back on the part
    key → share filter → DISTINCT suppliers → broadcast-join the
    supplier/nation dims.  Quantities are integral doubles, so the sums
    are order-independent and the share compare is engine-exact.
    """
    p = F.broadcast(
        part.filter(F.col("p_name").contains(name_sub)).select("p_partkey")
    )
    li = (
        lineitem.select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .filter(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    per_p = per_ps.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("supp_qty").alias("total_qty")
    )
    dominant = (
        per_ps.join(per_p, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("supp_qty") > F.lit(share) * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        dominant.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("supp_nation"))
    )


def discount_opportunity(
    lineitem: DataFrame,
    start: str,
    end: str,
    disc_lo: float,
    disc_hi: float,
    max_qty: float,
) -> DataFrame:
    """Q6 shape: revenue increase from eliminating a discount band —
    one scan, every predicate pushable, one scalar aggregate.  The
    archetype of a query that must compile to scan+filter+partial-agg
    with NO exchange before the final 1-row combine.
    """
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def discount_elasticity(
    lineitem: DataFrame,
) -> DataFrame:
    """Cross-sectional OLS of order quantity on discount level — "does a
    deeper discount move more units?" — with slope, intercept, and R²
    from the closed form over EXACT integer sums: discounts quantize to
    whole percent (TPC-H discounts are exact hundredths) and quantities
    are integers, so Σx, Σy, Σxy, Σxx, Σyy are all bigint and the
    regression is a fixed scalar-double epilogue (no float-sum ordering,
    pitfall #7).

    Output (one row): ``(n, slope_per_pct, intercept, r2)`` — slope in
    units per discount PERCENT.

    Plan / 100 TB: a single partial-aggregated pass over the fact table.
    """
    x = F.round(F.col("l_discount") * 100, 0).cast("long")
    y = F.col("l_quantity").cast("long")
    agg = lineitem.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    denx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    deny = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    slope = num / denx
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / nd
    r2 = (num / denx) * (num / deny)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope_per_pct"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def revenue_bridge(
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Price-volume revenue bridge per brand between the corpus's two
    ship-date halves: ΔRevenue decomposes exactly into
    volume_effect = (q₂−q₁)·p₁  and  price_effect = q₂·(p₂−p₁)
    (p = average unit price) — the FP&A waterfall that answers "did
    revenue move because we sold MORE or because prices CHANGED?".
    The two effects sum to the revenue delta by algebraic identity.

    Eras split at the midpoint of the observed ship-date range, so the
    query is self-contained and deterministic.  Revenue accumulates as
    integer cents and quantity as integers; unit prices and effects are
    the scalar-double epilogue.

    Output per brand present in both eras: ``(brand, rev_old, rev_new,
    volume_effect, price_effect, delta)``.

    Plan / 100 TB: part is the broadcast dimension; one fact shuffle to
    (brand, era) grain with map-side partials; the pivot and effect math
    run at brand grain.
    """
    dec = "decimal(30,10)"
    b = F.broadcast(
        lineitem.agg(
            F.min("l_shipdate").alias("d0"), F.max("l_shipdate").alias("d1")
        )
    )
    j = (
        lineitem.join(F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"])
        .crossJoin(b)
    )
    era = (
        F.datediff(F.col("l_shipdate"), F.col("d0"))
        * 2 >= F.datediff(F.col("d1"), F.col("d0"))
    ).cast("int")
    cells = j.groupBy(F.col("p_brand").alias("brand"), era.alias("era")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
        F.round(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec))
            * 100,
            0,
        )
        .cast("long")
        .alias("rc"),
    )
    piv = cells.groupBy("brand").agg(
        F.sum(F.when(F.col("era") == 0, F.col("q")).otherwise(0))
        .cast("long")
        .alias("q1"),
        F.sum(F.when(F.col("era") == 1, F.col("q")).otherwise(0))
        .cast("long")
        .alias("q2"),
        F.sum(F.when(F.col("era") == 0, F.col("rc")).otherwise(0))
        .cast("long")
        .alias("r1"),
        F.sum(F.when(F.col("era") == 1, F.col("rc")).otherwise(0))
        .cast("long")
        .alias("r2"),
    )
    p1 = F.col("r1").cast("double") / F.col("q1").cast("double")
    p2 = F.col("r2").cast("double") / F.col("q2").cast("double")
    return piv.filter((F.col("q1") > 0) & (F.col("q2") > 0)).select(
        "brand",
        F.round(F.col("r1").cast("double") / F.lit(100.0), 2).alias(
            "rev_old"
        ),
        F.round(F.col("r2").cast("double") / F.lit(100.0), 2).alias(
            "rev_new"
        ),
        F.round(
            (F.col("q2") - F.col("q1")).cast("double") * p1 / F.lit(100.0),
            2,
        ).alias("volume_effect"),
        F.round(
            F.col("q2").cast("double") * (p2 - p1) / F.lit(100.0), 2
        ).alias("price_effect"),
        F.round(
            (F.col("r2") - F.col("r1")).cast("double") / F.lit(100.0), 2
        ).alias("delta"),
    )

"""Decision-support queries over ``operators/decision_support.py``: the
TPC-H shapes and revenue analyses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import testdata as td
from ..driver_queries import _register
from ..operators import decision_support as ds


# Decision-support shapes (TPC-H Q4/Q13/Q15/Q16/Q17/Q18/Q19/Q21/Q22 adapted to
# the testdata schema) plus a two-window analytic ranking.  See
# operators/decision_support.py for the schema adaptations and plan notes.


def _t(spark, sf_dir, name):
    return td.load_table(spark, sf_dir, name)


# --- Q4: order priority with a late lineitem -------------------------------

_Q4_START, _Q4_END, _Q4_LATE = "1996-01-01", "1996-07-01", 30


def _q_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.order_priority_late(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"),
        _Q4_START, _Q4_END, late_days=_Q4_LATE,
    )


_register(
    "order_priority_late",
    _q_priority_late,
    f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '{_Q4_START} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{_Q4_END} 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL {_Q4_LATE} DAY)
GROUP BY 1
""",
)


# --- Q13: customer order-count distribution --------------------------------


def _q_cust_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


_register(
    "customer_order_distribution",
    _q_cust_dist,
    """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1)
GROUP BY 1
""",
)


# --- Q17: small-quantity order revenue -------------------------------------

_Q17_BRAND, _Q17_FRAC = "Brand#13", 0.5


def _q_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        _Q17_BRAND, frac=_Q17_FRAC,
    )


_register(
    "small_quantity_revenue",
    _q_small_qty,
    f"""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = '{_Q17_BRAND}'
  AND l_quantity < (SELECT {_Q17_FRAC} * avg(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
)


# --- Q18: large-volume orders ----------------------------------------------

_Q18_MINQTY, _Q18_TOP = 150.0, 100


def _q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.large_order_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), min_qty=_Q18_MINQTY, top=_Q18_TOP,
    )


_register(
    "large_order_customers",
    _q_large_orders,
    f"""
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, sum_qty
FROM orders
JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING sum_qty > {_Q18_MINQTY})
  ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT {_Q18_TOP}
""",
)


# --- Q19: disjunctive brand/quantity/size revenue --------------------------

_Q19_CLAUSES = [
    ("Brand#11", 1.0, 11.0, 1, 5),
    ("Brand#13", 10.0, 20.0, 1, 10),
    ("Brand#15", 20.0, 30.0, 1, 15),
]


def _q_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.disjunctive_brand_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"), _Q19_CLAUSES
    )


_Q19_ORS = " OR ".join(
    f"(p_brand = '{b}' AND l_quantity BETWEEN {ql} AND {qh}"
    f" AND p_size BETWEEN {sl} AND {sh})"
    for b, ql, qh, sl, sh in _Q19_CLAUSES
)
_register(
    "disjunctive_brand_revenue",
    _q_disjunctive,
    f"""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE {_Q19_ORS}
""",
)


# --- Q15: top supplier of a quarter ----------------------------------------

_Q15_START, _Q15_END = "1996-01-01", "1996-04-01"


def _q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.top_supplier_quarter(
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "lineitem"),
        _Q15_START, _Q15_END,
    )


_register(
    "top_supplier_quarter",
    _q_top_supplier,
    f"""
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_START} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{_Q15_END} 00:00:00'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
)


# --- Q16: distinct suppliers per (brand, type, size) -----------------------

_Q16_EXCL, _Q16_TOP = "Brand#11", 40


def _q_brand_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.brand_supplier_counts(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"), exclude_brand=_Q16_EXCL, top=_Q16_TOP,
    )


_register(
    "brand_supplier_counts",
    _q_brand_suppliers,
    f"""
WITH pairs AS (
  SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand <> '{_Q16_EXCL}'
    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < (SELECT avg(s_acctbal)
                                             FROM supplier)))
SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
FROM pairs GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT {_Q16_TOP}
""",
)


# --- Q21: sole late supplier on multi-supplier orders ----------------------

_Q21_LATE, _Q21_TOP = 60, 20


def _q_sole_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.sole_late_suppliers(
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), late_days=_Q21_LATE, top=_Q21_TOP,
    )


_register(
    "sole_late_suppliers",
    _q_sole_late,
    f"""
WITH li AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_shipdate > o_orderdate
                                  + INTERVAL {_Q21_LATE} DAY
                             THEN l_suppkey END) AS n_late,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL {_Q21_LATE} DAY
                  THEN l_suppkey END) AS late_supp
  FROM li GROUP BY 1)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON s_suppkey = late_supp
WHERE n_supp > 1 AND n_late = 1
GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT {_Q21_TOP}
""",
)


# --- Q22: rich customers who never ordered, by nation ----------------------


_Q22_SINCE = "1999-01-01"


def _q_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.idle_rich_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"), since=_Q22_SINCE,
    )


_register(
    "idle_rich_customers",
    _q_idle_rich,
    f"""
SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer JOIN nation ON n_nationkey = c_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{_Q22_SINCE} 00:00:00')
GROUP BY 1
""",
)


# --- analytic: decile + running share within priority class ----------------


def _q_decile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.decile_rank_orders(_t(spark, sf_dir, "orders"))


_register(
    "order_decile_rank",
    _q_decile_rank,
    """
WITH t AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders)
SELECT o_orderkey, o_orderpriority, o_totalprice,
       ntile(10) OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey) AS price_decile,
       round(sum(cents) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
             / sum(cents) OVER (PARTITION BY o_orderpriority), 6)
         AS running_share
FROM t
""",
)


# Remaining classic decision-support shapes (TPC-H Q6/Q7/Q8/Q9 adapted to the
# testdata schema — see operators/decision_support.py for the adaptations).

# --- Q7: volume shipping between two nations -------------------------------

_Q7 = dict(n1="NATION_1", n2="NATION_2", start="1996-01-01", end="1998-01-01")


def _q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.volume_shipping(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"), **_Q7,
    )


_register(
    "volume_shipping",
    _q_volume_shipping,
    f"""
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 2) AS revenue
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '{_Q7["start"]} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{_Q7["end"]} 00:00:00'
    AND ns.n_name IN ('{_Q7["n1"]}', '{_Q7["n2"]}')
    AND nc.n_name IN ('{_Q7["n1"]}', '{_Q7["n2"]}')
    AND ns.n_name <> nc.n_name)
GROUP BY 1, 2, 3
""",
)


# --- Q8: national market share ---------------------------------------------

_Q8 = dict(target_nation="NATION_3", target_region="EUROPE",
           part_type="ECONOMY", start="1995-01-01", end="1997-01-01")


def _q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.market_share(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region"),
        _Q8["target_nation"], _Q8["target_region"],
        _t(spark, sf_dir, "part"), _Q8["part_type"], _Q8["start"], _Q8["end"],
    )


_register(
    "market_share",
    _q_market_share,
    f"""
SELECT o_year,
       round(sum(CASE WHEN supp_nation = '{_Q8["target_nation"]}'
                      THEN volume ELSE 0.0 END) / sum(volume), 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         ns.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE r_name = '{_Q8["target_region"]}'
    AND p_type = '{_Q8["part_type"]}'
    AND o_orderdate >= TIMESTAMP '{_Q8["start"]} 00:00:00'
    AND o_orderdate <  TIMESTAMP '{_Q8["end"]} 00:00:00')
GROUP BY o_year
""",
)


# --- Q9: profit by supplier nation and year --------------------------------

_Q9_NAME, _Q9_COST = "widget", 0.6


def _q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.nation_profit(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "part"), _Q9_NAME, cost_factor=_Q9_COST,
    )


_register(
    "nation_profit",
    _q_nation_profit,
    f"""
SELECT supp_nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT ns.n_name AS supp_nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount)
           - {_Q9_COST} * p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN orders   ON l_orderkey = o_orderkey
  WHERE contains(p_name, '{_Q9_NAME}'))
GROUP BY 1, 2
""",
)


# --- Q6: discount-band revenue opportunity ---------------------------------

_Q6 = dict(start="1996-01-01", end="1997-01-01", disc_lo=0.05, disc_hi=0.07,
           max_qty=24.0)


def _q_discount_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.discount_opportunity(_t(spark, sf_dir, "lineitem"), **_Q6)


_register(
    "discount_opportunity",
    _q_discount_opportunity,
    f"""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_Q6["start"]} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{_Q6["end"]} 00:00:00'
  AND l_discount >= {_Q6["disc_lo"]} AND l_discount <= {_Q6["disc_hi"]}
  AND l_quantity < {_Q6["max_qty"]}
""",
)


# The remaining classic decision-support shapes (TPC-H Q2/Q11/Q12/Q20 adapted
# to the testdata schema — see operators/decision_support.py for the
# adaptations: no partsupp table, so the (part, supplier) supply relation
# derives from lineitem; no l_shipmode, so Q12 classes derive from ship
# latency).

# --- Q2: min-cost supplier per part ----------------------------------------

_Q2 = dict(p_type="STANDARD", p_size_max=15)


def _q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.min_cost_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"), **_Q2,
    )


_register(
    "min_cost_supplier",
    _q_min_cost_supplier,
    f"""
WITH p AS (SELECT p_partkey FROM part
           WHERE p_type = '{_Q2["p_type"]}' AND p_size <= {_Q2["p_size_max"]}),
supply AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
  FROM lineitem JOIN p ON l_partkey = p_partkey
  GROUP BY 1, 2),
best AS (SELECT l_partkey AS b_partkey, min(cost) AS best_cost
         FROM supply GROUP BY 1)
SELECT l_partkey AS p_partkey, s_name, n_name AS supp_nation,
       cost AS min_cost
FROM supply
JOIN best ON l_partkey = b_partkey AND cost = best_cost
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
""",
)


# --- Q11: important parts by traded value ----------------------------------

_Q11 = dict(nation_name="NATION_5", avg_mult=2.0)


def _q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.important_part_values(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"), **_Q11,
    )


_register(
    "important_part_values",
    _q_important_parts,
    f"""
WITH s AS (SELECT s_suppkey FROM supplier
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = '{_Q11["nation_name"]}'),
li AS (SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
       FROM lineitem JOIN s ON l_suppkey = s_suppkey),
per_part AS (SELECT l_partkey, sum(val) AS part_value FROM li GROUP BY 1),
t AS (SELECT {_Q11["avg_mult"]} * sum(val) / count(DISTINCT l_partkey) AS threshold
      FROM li)
SELECT l_partkey, round(part_value, 2) AS part_value
FROM per_part, t
WHERE part_value > threshold
""",
)


# --- Q12: ship-latency class vs order priority ------------------------------

_Q12 = dict(start="1995-01-01", end="1997-01-01", fast_days=30, slow_days=60)


def _q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.ship_latency_priority(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"), **_Q12,
    )


_register(
    "ship_latency_priority",
    _q_ship_latency,
    f"""
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) <= {_Q12["fast_days"]}
            THEN 'FAST'
            WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) > {_Q12["slow_days"]}
            THEN 'SLOW' ELSE 'MEDIUM' END AS latency_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{_Q12["start"]} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{_Q12["end"]} 00:00:00'
GROUP BY 1
""",
)


# --- Q20: suppliers dominating a part's shipped quantity --------------------

_Q20 = dict(name_sub="wid", start="1995-01-01", end="1997-01-01", share=0.5)


def _q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.dominant_share_suppliers(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"), **_Q20,
    )


_register(
    "dominant_share_suppliers",
    _q_dominant_suppliers,
    f"""
WITH p AS (SELECT p_partkey FROM part WHERE contains(p_name, '{_Q20["name_sub"]}')),
li AS (SELECT l_partkey, l_suppkey, l_quantity
       FROM lineitem JOIN p ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '{_Q20["start"]} 00:00:00'
         AND l_shipdate <  TIMESTAMP '{_Q20["end"]} 00:00:00'),
per_ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
           FROM li GROUP BY 1, 2),
per_p AS (SELECT l_partkey AS t_partkey, sum(supp_qty) AS total_qty
          FROM per_ps GROUP BY 1),
dom AS (SELECT DISTINCT l_suppkey
        FROM per_ps JOIN per_p ON l_partkey = t_partkey
        WHERE supp_qty > {_Q20["share"]} * total_qty)
SELECT s_name, n_name AS supp_nation
FROM dom JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
""",
)


def _q_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.discount_elasticity(td.load_table(spark, sf_dir, "lineitem"))


_ND = "CAST(n AS DOUBLE)"
_NUM = f"({_ND} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
_DENX = f"({_ND} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
_DENY = f"({_ND} * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
_SLOPE = f"({_NUM} / {_DENX})"

_register(
    "discount_elasticity",
    _q_elasticity,
    f"""
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) n,
         CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) sx,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) sy,
         CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) sxy,
         CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                  * CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) sxx,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) syy
  FROM lineitem)
SELECT n,
       round({_SLOPE}, 6) AS slope_per_pct,
       round((CAST(sy AS DOUBLE) - {_SLOPE} * CAST(sx AS DOUBLE)) / {_ND}, 6)
         AS intercept,
       round(({_NUM} / {_DENX}) * ({_NUM} / {_DENY}), 6) AS r2
FROM a
""",
)


# Price-volume revenue bridge and Flesch-Kincaid readability.


def _q_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ds.revenue_bridge(
        td.load_table(spark, sf_dir, "lineitem"),
        td.load_table(spark, sf_dir, "part"),
    )


_register(
    "revenue_bridge",
    _q_bridge,
    """
WITH b AS (SELECT min(l_shipdate) AS d0, max(l_shipdate) AS d1 FROM lineitem),
cells AS (
  SELECT p.p_brand AS brand,
         CASE WHEN date_diff('day', b.d0, l.l_shipdate) * 2
                   >= date_diff('day', b.d0, b.d1) THEN 1 ELSE 0 END AS era,
         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(30,10))) * 100, 0) AS BIGINT) AS rc
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey, b
  GROUP BY 1, 2),
piv AS (
  SELECT brand,
         CAST(sum(CASE WHEN era = 0 THEN q ELSE 0 END) AS BIGINT) q1,
         CAST(sum(CASE WHEN era = 1 THEN q ELSE 0 END) AS BIGINT) q2,
         CAST(sum(CASE WHEN era = 0 THEN rc ELSE 0 END) AS BIGINT) r1,
         CAST(sum(CASE WHEN era = 1 THEN rc ELSE 0 END) AS BIGINT) r2
  FROM cells GROUP BY 1)
SELECT brand,
       round(CAST(r1 AS DOUBLE) / 100.0, 2) AS rev_old,
       round(CAST(r2 AS DOUBLE) / 100.0, 2) AS rev_new,
       round(CAST(q2 - q1 AS DOUBLE)
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)) / 100.0, 2)
         AS volume_effect,
       round(CAST(q2 AS DOUBLE)
             * (CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                - CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)) / 100.0, 2)
         AS price_effect,
       round(CAST(r2 - r1 AS DOUBLE) / 100.0, 2) AS delta
FROM piv WHERE q1 > 0 AND q2 > 0
""",
)

"""Graph queries over ``operators/graph.py``: PageRank, triangles, transition
probabilities, k-core, HITS and assortativity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import _register
from ..functions.arrays import ordered_pairs
from ..operators import graph


# --- item-transition PageRank ----------------------------------------------

_PR_ITERS, _PR_DAMP = 3, 0.85


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = graph.transition_edges(td.load_table(spark, sf_dir, "events"))
    return graph.pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMP)


def _pagerank_sql() -> str:
    # fixed-iteration power method as chained CTEs — mirrors the Spark
    # plan's per-iteration join/aggregate/9dp-round exactly.
    iters = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(
            f"""c{i} AS (SELECT dst AS node, sum(rank * p) AS inflow
       FROM {prev} JOIN tr ON {prev}.node = tr.src GROUP BY 1),
d{i} AS (SELECT coalesce(sum(rank), 0) AS dmass FROM {prev}
       WHERE node NOT IN (SELECT src FROM ow)),
r{i} AS (SELECT nodes.node,
              round({1.0 - _PR_DAMP} / n + {_PR_DAMP} * (coalesce(inflow, 0) + dmass / n), 9) AS rank
       FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node, nn, d{i})"""
        )
        prev = f"r{i}"
    return f"""
WITH e AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
                  event_type AS dst FROM events),
ed AS (SELECT src, dst, count(*) AS weight FROM e WHERE src IS NOT NULL GROUP BY 1, 2),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
nn AS (SELECT count(*) AS n FROM nodes),
ow AS (SELECT src, sum(weight) AS outw FROM ed GROUP BY 1),
tr AS (SELECT src, dst, weight * 1.0 / outw AS p FROM ed JOIN ow USING (src)),
r0 AS (SELECT node, round(1.0 / n, 9) AS rank FROM nodes, nn),
{", ".join(iters)}
SELECT node, round(rank, 6) AS rank FROM {prev}
"""


_register("item_pagerank", _q_pagerank, _pagerank_sql())


# --- triangle counting ------------------------------------------------------


def _item_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    ui = ev.select(
        "user_id", F.get_json_object("props", "$.k").cast("int").alias("item")
    ).distinct()
    per_user = ui.groupBy("user_id").agg(
        F.sort_array(F.collect_set("item")).alias("items")
    )
    pairs = ordered_pairs(
        F.col("items"),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    return (
        per_user.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.triangle_count(_item_edges(spark, sf_dir))


_EDGES_SQL = """
ui AS (
  SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS INT) AS item
  FROM events WHERE event_type = 'view'),
e AS (
  SELECT DISTINCT x.item AS a, y.item AS b
  FROM ui x JOIN ui y ON x.user_id = y.user_id AND x.item < y.item)
"""

_register(
    "item_triangle_count",
    _q_triangles,
    f"""
WITH {_EDGES_SQL},
deg AS (SELECT v, count(*) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1),
o AS (SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                  THEN a ELSE b END AS lo,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                  THEN b ELSE a END AS hi
      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
od AS (SELECT lo, count(*) AS c FROM o GROUP BY 1),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
SELECT n_triangles,
       (SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) FROM od) AS n_wedges
FROM tri
""",
)


# --- transition probabilities -----------------------------------------------

_TP_ALPHA = 1.0


def _q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.transition_probabilities(
        td.load_table(spark, sf_dir, "events"), alpha=_TP_ALPHA
    )


_register(
    "event_transition_probs",
    _q_transitions,
    f"""
WITH seq AS (
  SELECT event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS src
  FROM events),
edges AS (SELECT src, dst, count(*) AS weight
          FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
states AS (SELECT DISTINCT event_type AS s FROM events),
k AS (SELECT CAST(count(*) AS INT) AS k FROM states),
dense AS (
  SELECT a.s AS src, b.s AS dst, coalesce(e.weight, 0) AS weight
  FROM states a CROSS JOIN states b
  LEFT JOIN edges e ON e.src = a.s AND e.dst = b.s),
tot AS (SELECT src, sum(weight) AS t FROM dense GROUP BY 1)
SELECT d.src, d.dst, CAST(d.weight AS BIGINT) AS n,
       round((d.weight + {_TP_ALPHA}) / (t.t + {_TP_ALPHA} * k.k), 6) AS p
FROM dense d JOIN tot t ON d.src = t.src CROSS JOIN k
""",
)


# K-core membership of the item co-engagement graph (fixed-iteration peeling,
# oracle = unrolled CTE layers).

_K = 10
_ITERS = 8
_MAX_ITEMS = 50  # hot-(user, day) guard: bounds pair fan-out
_THR_Q = 0.9  # keep only top-decile co-engagement edges


def _coengagement_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item co-engagement graph: items the same user touched the same
    DAY, kept only when the pair's support reaches the top quartile of
    all pair weights — a scale-adaptive sparsifier (a fixed support
    threshold saturates to a complete graph as users grow)."""
    ev = td.load_table(spark, sf_dir, "events")
    ui = (
        ev.select(
            F.col("user_id").alias("u"),
            F.date_trunc("day", "ts").alias("dy"),
            F.get_json_object("props", "$.k").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    cnt = ui.groupBy("u", "dy").agg(F.count("*").alias("c"))
    ui = ui.join(
        F.broadcast(
            cnt.filter(F.col("c") <= _MAX_ITEMS).select("u", "dy")
        ),
        ["u", "dy"],
    )
    a = ui.select("u", "dy", F.col("item").alias("a"))
    b = ui.select("u", "dy", F.col("item").alias("b"))
    pairs = (
        a.join(b, ["u", "dy"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("w"))
    )
    thr = pairs.agg(F.percentile("w", F.lit(_THR_Q)).alias("thr"))
    return (
        pairs.crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("thr"))
        .select("a", "b")
    )


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.kcore_membership(
        _coengagement_edges(spark, sf_dir), k=_K, max_iter=_ITERS
    )


def _kcore_sql() -> str:
    layers = []
    prev = "e0"
    for i in range(1, _ITERS + 1):
        layers.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) c FROM (
    SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}) t
  GROUP BY 1),
k{i} AS (SELECT node FROM d{i} WHERE c >= {_K}),
e{i} AS MATERIALIZED (
  SELECT a, b FROM {prev}
  WHERE a IN (SELECT node FROM k{i}) AND b IN (SELECT node FROM k{i}))"""
        )
        prev = f"e{i}"
    return f"""
WITH ui AS (
  SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS dy,
         json_extract_string(props, '$.k') AS item
  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
ok AS (SELECT u, dy FROM ui GROUP BY 1, 2 HAVING count(*) <= {_MAX_ITEMS}),
uif AS (SELECT ui.u, ui.dy, ui.item
        FROM ui JOIN ok ON ui.u = ok.u AND ui.dy = ok.dy),
p AS MATERIALIZED (
  SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS w
  FROM uif x JOIN uif y ON x.u = y.u AND x.dy = y.dy AND x.item < y.item
  GROUP BY 1, 2),
thr AS (SELECT quantile_cont(w, {_THR_Q}) AS thr FROM p),
e0 AS MATERIALIZED (
  SELECT a, b FROM p, thr WHERE w >= thr.thr),
{", ".join(layers)}
SELECT node, CAST(c AS BIGINT) AS degree FROM (
  SELECT node, count(*) AS c FROM (
    SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}) t
  GROUP BY 1) WHERE c >= {_K}
"""


_register("kcore_membership", _q_kcore, _kcore_sql())


# HITS authorities and degree assortativity over the user→item interaction
# graph.
#
# Reference anchor: the reference ranks nothing structurally (feeds are
# flat lists — src/rss_feed_etl/core/config.py); HITS is the second
# classic importance signal next to the registry's PageRank (``item_pagerank``),
# and assortativity is the one-number skew forecast for every graph
# operator here.

# --- shared bipartite edge list: clicking users → items (props.k) ------------------

_HITS_ITERS = 2
_HITS_TOP = 20


def _click_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("src"),
        F.get_json_object("props", "$.k").cast("long").alias("dst"),
    ).filter(F.col("dst").isNotNull())

_HITS_EDGES_SQL = """
e AS (SELECT DISTINCT user_id AS src,
             CAST(json_extract(props, '$.k') AS BIGINT) AS dst
      FROM events
      WHERE event_type = 'click'
        AND json_extract(props, '$.k') IS NOT NULL)
"""


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = graph.hits_bipartite(
        _click_edges(spark, sf_dir), iters=_HITS_ITERS
    )
    return out.orderBy(
        F.col("authority").desc(), F.col("node").asc()
    ).limit(_HITS_TOP)


def _hits_sql() -> str:
    steps = []
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        steps.append(
            f"""ra{i} AS (SELECT dst, CAST(sum(CAST(round(h, 9) AS DECIMAL(30,10)))
                    AS DOUBLE) AS ra
        FROM e JOIN {prev_h} USING (src) GROUP BY 1),
a{i} AS (SELECT dst, round(ra / (SELECT CAST(sum(CAST(round(ra, 9)
                AS DECIMAL(30,10))) AS DOUBLE) FROM ra{i}), 9) AS a
       FROM ra{i}),
rh{i} AS (SELECT src, CAST(sum(CAST(round(a, 9) AS DECIMAL(30,10)))
                    AS DOUBLE) AS rh
        FROM e JOIN a{i} USING (dst) GROUP BY 1),
h{i} AS (SELECT src, round(rh / (SELECT CAST(sum(CAST(round(rh, 9)
                AS DECIMAL(30,10))) AS DOUBLE) FROM rh{i}), 9) AS h
       FROM rh{i})"""
        )
        prev_h = f"h{i}"
    return f"""
WITH {_HITS_EDGES_SQL},
h0 AS (SELECT DISTINCT src, CAST(1.0 AS DOUBLE) AS h FROM e),
{", ".join(steps)}
SELECT dst AS node, round(a, 6) AS authority
FROM a{_HITS_ITERS}
ORDER BY authority DESC, node ASC LIMIT {_HITS_TOP}
"""


_register("hits_authorities", _q_hits, _hits_sql())


# --- degree assortativity -----------------------------------------------------------


def _q_assort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.degree_assortativity(_click_edges(spark, sf_dir))


_register(
    "degree_assortativity",
    _q_assort,
    f"""
WITH {_HITS_EDGES_SQL},
dout AS (SELECT src, CAST(count(*) AS BIGINT) AS dx FROM e GROUP BY 1),
din AS (SELECT dst, CAST(count(*) AS BIGINT) AS dy FROM e GROUP BY 1),
j AS (SELECT dx, dy FROM e JOIN dout USING (src) JOIN din USING (dst)),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(dx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(dy AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(dx * dy AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(dx * dx AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(dy * dy AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM j)
SELECT n AS n_edges,
       CASE WHEN sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) > 0
            THEN round((n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       END AS assortativity
FROM agg
""",
)

"""Graph operators over event streams: transition-graph extraction and
fixed-iteration PageRank.

Web-corpus pipelines rank documents by link authority (Common Crawl
publishes harmonic-centrality ranks precisely so corpus builders can
importance-sample pages); the same machinery over a product event stream
ranks items by user-transition authority.  This generalizes the
reference's per-feed popularity ordering (src/rss_feed_etl/core/
data_transformer.py sort-by-published) into a structural importance
score.

Everything is relational: edges are (src, dst, weight) rows, each power
iteration is one equi-join + one aggregate, and the iteration count is a
small fixed constant — so the whole computation is ONE lazy Catalyst plan
(no driver-side loop state, no collect), and at 100 TB each iteration is
a single shuffle on the edge key.  Ranks are rounded to 9dp per iteration
so cross-engine float fold order cannot drift the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def transition_edges(
    events: DataFrame,
) -> DataFrame:
    """(src, dst, weight) edges from consecutive events of the same user —
    the classic clickstream transition graph.

    One per-user window (single shuffle on the user key) produces the lag
    pairs; the edge-weight aggregate is a second shuffle on (src, dst).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    node = F.expr("event_type")
    return (
        events.select(
            F.lag(node).over(w).alias("src"), node.alias("dst")
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("weight"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank with a FIXED number of power iterations.

    Dangling mass is redistributed uniformly each iteration (standard
    stochastic-matrix completion), so ranks sum to 1 and the result is
    comparable across corpora.  The node count and per-iteration dangling
    mass ride in as broadcast 1-row aggregates — nothing node- or
    edge-grain is ever collected to the driver, so the same program runs
    unchanged on a billion-edge graph.

    Iteration state is ``localCheckpoint``ed — the Pregel/GraphX
    per-superstep persist.  Without it each iteration's lazy plan embeds
    the previous iteration's subtree TWICE (contribution join + dangling
    sum), so the plan doubles per iteration (measured: 542 exchanges at
    3 iterations); with it, each iteration is one edge-key shuffle over
    the checkpointed node-grain state.  The transition matrix and the
    node table (with a precomputed dangling flag, so no per-iteration
    anti-join) are checkpointed once up front.  Per-iteration 9dp
    rounding keeps Spark and the SQL oracle bit-identical.
    """
    outw = edges.groupBy("src").agg(F.sum("weight").alias("outw"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(outw.select(F.col("src").alias("node"), "outw"), "node", "left")
        .select("node", F.col("outw").isNull().alias("dangling"))
        .localCheckpoint(eager=False)
    )
    n1 = nodes.agg(F.count("*").alias("n"))
    # edge transition probability src -> dst, materialized once
    trans = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("weight") / F.col("outw")).alias("p"))
        .localCheckpoint(eager=False)
    )

    ranks = nodes.crossJoin(F.broadcast(n1)).select(
        "node", "dangling", F.round(F.lit(1.0) / F.col("n"), 9).alias("rank")
    )
    for i in range(iterations):
        ranks = ranks.localCheckpoint(eager=False)
        contrib = (
            ranks.join(trans, ranks["node"] == trans["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("inflow"))
        )
        # dangling rank leaks out of the system; hand it back uniformly
        dangling = ranks.filter("dangling").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n1))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "dangling",
                F.round(
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dmass") / F.col("n")
                    ),
                    9,
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected edge list (a < b, distinct)
    — the clustering-coefficient / community-density primitive.

    Plan shape (100 TB): the classic degree-ordered orientation — each
    undirected edge is directed from its lower-(degree, id) endpoint to
    the higher one, so every vertex's out-degree is bounded by ~√|E| and
    the wedge self-join (the quadratic step of naive counting) becomes
    Σ out-deg² ≈ |E|^1.5 instead of Σ deg² (which a single celebrity hub
    makes quadratic).  One join builds wedges, one semi-join closes them
    against the oriented edge set; per-vertex degrees ride in broadcast.
    """
    e = edges.select(F.col("a"), F.col("b")).distinct()
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )
    w1 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("x"))
    w2 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("y"))
    wedges = w1.join(w2, "p").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        oriented.select(
            F.col("lo").alias("x"), F.col("hi").alias("y"), F.lit(1).alias("__c1")
        ),
        ["x", "y"],
        "left",
    ).join(
        oriented.select(
            F.col("lo").alias("y"), F.col("hi").alias("x"), F.lit(1).alias("__c2")
        ),
        ["x", "y"],
        "left",
    )
    hit = F.coalesce("__c1", "__c2").isNotNull()
    return closed.agg(
        F.sum(hit.cast("long")).cast("bigint").alias("n_triangles"),
        F.count("*").cast("bigint").alias("n_wedges"),
    )


def transition_probabilities(
    events: DataFrame,
    alpha: float = 1.0,
) -> DataFrame:
    """Laplace-smoothed Markov transition matrix over the clickstream:
    P(dst | src) = (count(src→dst) + α) / (count(src→*) + α·|states|) —
    the next-event model behind "users who do X then do Y", with
    smoothing so unobserved transitions get calibrated non-zero mass.

    Plan shape (100 TB): `transition_edges`' single user window + edge
    aggregate, a state-grain dimension cross join to densify the matrix
    (|states|² rows — tiny), and per-src totals broadcast back.
    """
    edges = transition_edges(events)
    states = events.select(F.expr("event_type").alias("s")).distinct()
    k = states.agg(F.count("*").cast("int").alias("k"))
    dense = (
        states.select(F.col("s").alias("src"))
        .crossJoin(states.select(F.col("s").alias("dst")))
        .join(edges, ["src", "dst"], "left")
        .withColumn("weight", F.coalesce("weight", F.lit(0)))
    )
    totals = dense.groupBy("src").agg(F.sum("weight").alias("__tot"))
    return (
        dense.join(F.broadcast(totals), "src")
        .crossJoin(F.broadcast(k))
        .select(
            "src",
            "dst",
            F.col("weight").cast("bigint").alias("n"),
            F.round(
                (F.col("weight") + F.lit(alpha))
                / (F.col("__tot") + F.lit(alpha) * F.col("k")),
                6,
            ).alias("p"),
        )
    )


def kcore_membership(
    edges: DataFrame,
    k: int = 3,
    max_iter: int = 20,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node keeps
    degree ≥ k — the standard "dense kernel" extractor that separates a
    engaged community from one-off visitors, and the graph analogue of
    the corpus quality gates (peripheral nodes peel away, the core
    stays).

    Iterative peeling: drop nodes with degree < k, recompute degrees on
    the induced subgraph, repeat until stable (or ``max_iter``, bounding
    the plan).  Each iteration localCheckpoints the surviving node set,
    so the plan stays LINEAR in iterations (the same guard as
    ``pagerank`` — no exponential lineage).

    Output: ``(node, degree)`` — core members with their final induced
    degree.

    Plan / 100 TB: per iteration one degree aggregate at node grain and
    two semi-joins to induce the subgraph; peeling converges in few
    iterations on real graphs because each pass removes whole layers.

    The loop stops as soon as an iteration removes no edge: the survivor
    set is monotone (each pass only filters), so an unchanged edge COUNT
    means the exact fixed point — every further iteration is the
    identity, and the result is bit-identical to running all
    ``max_iter`` passes (which the unrolled oracle still does).  Real
    graphs peel in 2-4 layers, so this cuts ~3/4 of the per-iteration
    shuffles that a fixed-count loop pays (guide §2.4: remove shuffles
    outright).  The convergence probe is one count() per iteration over
    the just-checkpointed edge frame — a scalar aggregate of
    already-materialized data, not a driver data transfer.
    """
    e = (
        edges.select(F.col("a"), F.col("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # undirected degree: count each edge from both endpoints
    cur = e
    prev_edges = None
    for _ in range(max_iter):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionAll(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            # lazy checkpoint: the convergence count() below is the first
            # action over this frame, so ONE job both materializes the
            # checkpoint and returns the edge count (an eager checkpoint
            # plus a separate count ran two jobs per layer for the same
            # result — guide §2.4, fewer passes)
            .localCheckpoint(eager=False)
        )
        # max_iter still bounds convergence on any input; the count-based
        # early exit below never fires before the fixed point, so the
        # result matches the fixed-count unrolled oracle exactly
        cur = nxt
        n_edges = nxt.count()
        if n_edges == prev_edges or n_edges == 0:
            break
        prev_edges = n_edges
    deg_final = (
        cur.select(F.col("a").alias("node"))
        .unionAll(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
        .filter(F.col("degree") >= k)
    )
    return deg_final.select(
        F.col("node"), F.col("degree").cast("bigint").alias("degree")
    )


def hits_bipartite(
    edges: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """HITS (Kleinberg) over a bipartite src→dst graph: dst AUTHORITY =
    how much hub mass points at it, src HUB = how much authority it
    points at, alternated ``iters`` times from uniform hubs with
    L1 normalization each half-step (sum-normalized instead of the
    textbook L2 so every value is a DECIMAL-safe rational — the ranking
    is identical).  PageRank measures global flow; HITS separates
    "curators" from "canon" — on a user→item graph the authorities are
    the items the broadest users converge on.

    Output per dst node: ``(node, authority)``, the final normalized
    authority mass.

    Plan / 100 TB: each half-step is one join of the edge list against
    the CURRENT score frame (node-grain, model-sized vs the edges) and
    one partial-aggregated groupBy — the 2·iters exchanges all carry
    (node, score) pairs, never raw events.  Scores round to 9 dp per
    half-step so both engines replay the trajectory exactly.
    """
    if int(iters) < 1:
        # auth is only assigned inside the loop; with zero iterations the
        # final select would crash on None, so fail loudly at entry
        raise ValueError(f"hits_bipartite requires iters >= 1, got {iters!r}")
    e = edges.select(
        F.col("src"), F.col("dst")
    ).distinct().localCheckpoint(eager=True)  # every half-step joins the
    # edge list; without the checkpoint each join re-runs the upstream
    # distinct (the neardup_components discipline)
    hubs = e.select("src").distinct().withColumn("h", F.lit(1.0))
    auth = None
    for _ in range(int(iters)):
        raw_a = (
            e.join(hubs, "src")
            .groupBy("dst")
            .agg(
                F.sum(F.round(F.col("h"), 9).cast("decimal(30,10)"))
                .cast("double")
                .alias("ra")
            )
        )
        asum = F.broadcast(
            raw_a.agg(
                F.sum(F.round(F.col("ra"), 9).cast("decimal(30,10)"))
                .cast("double")
                .alias("s")
            )
        )
        auth = raw_a.crossJoin(asum).select(
            "dst", F.round(F.col("ra") / F.col("s"), 9).alias("a")
        )
        raw_h = (
            e.join(auth, "dst")
            .groupBy("src")
            .agg(
                F.sum(F.round(F.col("a"), 9).cast("decimal(30,10)"))
                .cast("double")
                .alias("rh")
            )
        )
        hsum = F.broadcast(
            raw_h.agg(
                F.sum(F.round(F.col("rh"), 9).cast("decimal(30,10)"))
                .cast("double")
                .alias("s")
            )
        )
        hubs = raw_h.crossJoin(hsum).select(
            "src", F.round(F.col("rh") / F.col("s"), 9).alias("h")
        )
    return auth.select(
        F.col("dst").alias("node"),
        F.round(F.col("a"), 6).alias("authority"),
    )


def degree_assortativity(
    edges: DataFrame,
) -> DataFrame:
    """Degree assortativity of a (bipartite or directed) edge list: the
    Pearson correlation between the source's out-degree and the
    destination's in-degree ACROSS EDGES (Newman 2002).  Positive =
    hubs preferentially link to other hubs (rich-club crawl graphs);
    negative = hubs fan out to the periphery (star-shaped catalogs) —
    the single number that says which skew mitigation a graph algorithm
    here (pagerank, k-core, HITS) will face.

    Output: one row — ``(n_edges, assortativity)``.

    Plan / 100 TB: two degree aggregates (node grain), joined back to
    the edge list by key — three key exchanges, no materialized
    adjacency; the Pearson runs on DECIMAL-summed edge-grain moments.
    """
    e = edges.select(
        F.col("src"), F.col("dst")
    ).distinct()
    dout = e.groupBy("src").agg(F.count("*").cast("long").alias("dx"))
    din = e.groupBy("dst").agg(F.count("*").cast("long").alias("dy"))
    j = e.join(dout, "src").join(din, "dst")
    dec = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    agg = j.agg(
        F.count("*").cast("long").alias("n"),
        dec(F.col("dx")).alias("sx"),
        dec(F.col("dy")).alias("sy"),
        dec(F.col("dx") * F.col("dy")).alias("sxy"),
        dec(F.col("dx") * F.col("dx")).alias("sxx"),
        dec(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_edges"),
        F.when(den > 0, F.round(num / den, 6)).alias("assortativity"),
    )

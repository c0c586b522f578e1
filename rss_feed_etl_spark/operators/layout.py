"""Data-layout operators: z-order clustering evaluation and balanced
shard assignment.

At 100 TB the dominant cost of most queries is the scan, and the scan
cost is set by the LAYOUT — which rows share a file decides which files a
predicate can skip (parquet/Delta min-max pruning) and whether shards are
balanced enough that the slowest task doesn't set the wall clock.  These
operators make layout decisions measurable and deterministic:

* ``zorder_key``            — bit-interleave two grid coordinates (the
                              Morton/Z curve Delta's OPTIMIZE ZORDER uses).
* ``zorder_scan_advisor``   — measure, per candidate layout, the expected
                              fraction of files a point predicate touches.
* ``shard_assign_balanced`` — deterministic sorted round-robin sharding
                              by a weight (token count), the LPT-style
                              assignment that bounds shard imbalance.

Reference: the reference engine has no layout tooling (its tables are
thousand-row Sheets snapshots — src/etl/rss_feed_etl.py); these operators
are the scale path the survey's §6 commentary calls for when the same
pipeline targets a datalake.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def zorder_key(gx: Column, gy: Column, bits: int = 8) -> Column:
    """Morton (Z-order) interleave of two already-quantized grid
    coordinates in ``[0, 2**bits)``: x's bit i lands at position 2i+1,
    y's at 2i.  Pure JVM bit arithmetic — map-side, codegen-friendly,
    no UDF.
    """
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(gx.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(gy.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return key


def zorder_scan_advisor(
    df: DataFrame,
    dim_x: str,
    dim_y: str,
    natural_col: str,
    n_files: int = 64,
    grid_bits: int = 8,
) -> DataFrame:
    """Compare the file-skipping power of the table's NATURAL order (rows
    laid out by ``natural_col``, the ingest-order proxy) against a
    Z-ORDER layout on ``(dim_x, dim_y)``: for each layout, split the
    sorted cell stream into ``n_files`` equal-row files, take per-file
    min/max of both dims, and report the expected fraction of files a
    uniform point predicate on each dim must read (the min-max pruning
    model parquet readers and Delta data skipping actually use).

    Output: one row per layout —
    ``(layout, n_files, scan_frac_x, scan_frac_y)``.  A dim the layout
    clusters well has a small fraction (few files cover any given value);
    a dim the layout ignores tends to 1.0 (every file spans the whole
    range, nothing skips).

    Plan / 100 TB: everything row-grain is map-side — grid quantization
    is integer arithmetic against a broadcast 1-row min/max aggregate,
    and the only fact-grain shuffle is ONE groupBy to cell grain (grid
    cells are bounded by 4**grid_bits, not by the corpus; partial
    aggregation collapses each map partition first).  The cumulative
    window that orders cells into files runs at cell grain, partitioned
    by layout tag — never over facts.  File assignment is pure integer
    math (``below * n_files DIV total``), so the result is deterministic
    and engine-portable (no float division until the final per-file
    average).  To evaluate layouts for a real 100 TB rewrite you'd run
    this on a row sample; the metric is cell-grain so sampling only
    widens confidence bands, it doesn't bias the shape.
    """
    b = 1 << grid_bits
    cells_nat = b * b  # natural layout gets the same cell resolution
    st = F.broadcast(
        df.agg(
            F.min(dim_x).cast("long").alias("mnx"),
            F.max(dim_x).cast("long").alias("mxx"),
            F.min(dim_y).cast("long").alias("mny"),
            F.max(dim_y).cast("long").alias("mxy"),
            F.min(natural_col).cast("long").alias("mno"),
            F.max(natural_col).cast("long").alias("mxo"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )

    def grid(col: str, mn: str, mx: str, buckets: int) -> Column:
        # exact integer math: (v - mn) * B DIV (mx - mn + 1) ∈ [0, B)
        return F.expr(
            f"CAST((CAST({col} AS BIGINT) - {mn}) * {buckets} "
            f"DIV ({mx} - {mn} + 1) AS BIGINT)"
        )

    base = df.select(dim_x, dim_y, natural_col).crossJoin(st)
    zcell = zorder_key(
        grid(dim_x, "mnx", "mxx", b), grid(dim_y, "mny", "mxy", b), grid_bits
    )
    ncell = grid(natural_col, "mno", "mxo", cells_nat)
    # ONE fact scan: explode a 2-element (layout, cell) array per row
    # instead of unioning two scans of the same relation
    tagged = base.select(
        F.explode(
            F.array(
                F.struct(F.lit("zorder").alias("layout"), zcell.alias("cell")),
                F.struct(F.lit("natural").alias("layout"), ncell.alias("cell")),
            )
        ).alias("lc"),
        F.col(dim_x).cast("long").alias("x"), F.col(dim_y).cast("long").alias("y"),
        "mnx", "mxx", "mny", "mxy", "n_rows",
    ).select(
        F.col("lc.layout").alias("layout"), F.col("lc.cell").alias("cell"),
        "x", "y", "mnx", "mxx", "mny", "mxy", "n_rows",
    )
    cells = tagged.groupBy("layout", "cell").agg(
        F.count("*").alias("cnt"),
        F.min("x").alias("cmnx"), F.max("x").alias("cmxx"),
        F.min("y").alias("cmny"), F.max("y").alias("cmxy"),
        F.first("mnx").alias("mnx"), F.first("mxx").alias("mxx"),
        F.first("mny").alias("mny"), F.first("mxy").alias("mxy"),
        F.first("n_rows").alias("n_rows"),
    )
    # integer file id: rows-before-this-cell * n_files DIV total — the
    # window runs at CELL grain, partitioned by layout (never over facts)
    filed = cells.withColumn(
        "file",
        F.expr(f"(sum(cnt) OVER (PARTITION BY layout ORDER BY cell "
               f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) "
               f"* {n_files} DIV n_rows"),
    )
    files = filed.groupBy("layout", "file").agg(
        F.min("cmnx").alias("fmnx"), F.max("cmxx").alias("fmxx"),
        F.min("cmny").alias("fmny"), F.max("cmxy").alias("fmxy"),
        F.first("mnx").alias("mnx"), F.first("mxx").alias("mxx"),
        F.first("mny").alias("mny"), F.first("mxy").alias("mxy"),
    )
    # sum of integer widths stays exact; ONE double division at the end
    return files.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.round(
            F.sum(F.col("fmxx") - F.col("fmnx") + 1).cast("double")
            / (F.count("*") * (F.first("mxx") - F.first("mnx") + 1)).cast("double"),
            6,
        ).alias("scan_frac_x"),
        F.round(
            F.sum(F.col("fmxy") - F.col("fmny") + 1).cast("double")
            / (F.count("*") * (F.first("mxy") - F.first("mny") + 1)).cast("double"),
            6,
        ).alias("scan_frac_y"),
    )


def shard_assign_balanced(
    df: DataFrame,
    id_col: str,
    weight: Column,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic weight-balanced shard assignment: rank rows by
    (weight DESC, id ASC) and deal them round-robin — the distributed
    analog of LPT scheduling.  Sorting big rows first means every shard's
    total lands within one max-row-weight of the mean, which is what
    keeps 100 TB training shards (and the tasks that read them) balanced;
    hash sharding ignores weight and leaves heavy-tailed token counts
    skewed.

    Output: ``(shard, n_docs, tok_total)`` — one row per shard.

    Plan / 100 TB: the global rank is decomposed so NO fact-grain global
    window exists: rank = (# rows with strictly greater weight) + (rank
    among weight-ties).  The first term is a cumulative count over the
    DISTINCT-weight table (bounded by the weight domain — token counts —
    not the corpus), broadcast back; the second is a window partitioned
    by weight, which shuffles facts by weight value.  Weight-tie
    partitions are the one skew risk (many equal-length docs); the tie
    window is a plain row_number, so Spark's AQE skew split handles a hot
    weight value.
    """
    a = shard_assignments(df, id_col, weight, n_shards)
    return a.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("tok_total"),
    )


def shard_assignments(
    df: DataFrame,
    id_col: str,
    weight: Column,
    n_shards: int = 8,
) -> DataFrame:
    """Row-grain LPT shard assignment (the fact table behind
    :func:`shard_assign_balanced`): ``(<id_col>, w, shard)`` with the same
    decomposed global rank — a distinct-weight cumulative count broadcast
    back plus a per-weight tie window, so no fact-grain global window
    exists."""
    wc = df.select(F.col(id_col).alias("id"), weight.cast("long").alias("w"))
    per_w = wc.groupBy("w").agg(F.count("*").alias("cnt"))
    cum = Window.orderBy(F.col("w").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    above = per_w.select(
        "w", (F.sum("cnt").over(cum) - F.col("cnt")).alias("above")
    )
    tie = Window.partitionBy("w").orderBy("id")
    ranked = (
        wc.join(F.broadcast(above), "w")
        .select(
            "id",
            "w",
            (F.col("above") + F.row_number().over(tie)).alias("rk"),
        )
    )
    return ranked.select(
        F.col("id").alias(id_col),
        "w",
        ((F.col("rk") - 1) % n_shards).cast("bigint").alias("shard"),
    )


def shard_source_entropy(
    df: DataFrame,
    n_shards: int = 8,
) -> DataFrame:
    """Source-mix quality of the LPT shard layout: per shard, the Shannon
    entropy of its source distribution — the data-loader locality check
    that a weight-balanced layout didn't accidentally sort one source
    into one shard (entropy near ln(n_sources) = well mixed; near 0 =
    a shard is one source and the loader sees correlated batches).

    Exactness: each −p·ln(p) term is rounded to 9dp and summed as an
    exact decimal, so cross-engine float fold order cannot move the 6dp
    entropy.

    Plan / 100 TB: the shard assignment's decomposed rank (no fact-grain
    global window), one (shard, source) aggregate, one shard-grain
    aggregate.
    """
    from .textstats import token_count

    a = shard_assignments(df, "doc_id", token_count(F.col("text")), n_shards)
    j = a.join(df.select(F.col("doc_id"), F.col("source")), "doc_id")
    cells = j.groupBy("shard", "source").agg(F.count("*").alias("c"))
    tot = cells.groupBy("shard").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    term = F.round(-p * F.log(p), 9).cast("decimal(20,10)")
    return (
        cells.join(tot, "shard")
        .groupBy("shard")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_sources"),
            F.round(F.sum(term).cast("double"), 6).alias("entropy"),
        )
    )


def zorder_clustering_depth(
    df: DataFrame,
    dim_x: str,
    dim_y: str,
    natural_col: str,
    n_files: int = 64,
    grid_bits: int = 8,
) -> DataFrame:
    """Clustering-depth metric for a layout (Delta OPTIMIZE's health
    number): for each file, how many files' Z-KEY ranges overlap it
    (including itself)?  Depth 1 everywhere = perfectly clustered on the
    z-curve; depth ≈ n_files = every file spans the whole key space and a
    z-range predicate can skip nothing.  Run after appends to decide when
    a re-cluster pays for itself — the companion to
    ``zorder_scan_advisor`` (which prices candidate layouts up front).

    Output: ``(layout, n_files, avg_depth, max_depth)``.

    Plan / 100 TB: same shape as the advisor — one fact-grain groupBy to
    grid cells, file assembly and the overlap self-join at FILE grain
    (n_files² comparisons, driver-trivial).  All depth sums are integer.
    """
    b = 1 << grid_bits
    cells_nat = b * b
    st = F.broadcast(
        df.agg(
            F.min(dim_x).cast("long").alias("mnx"),
            F.max(dim_x).cast("long").alias("mxx"),
            F.min(dim_y).cast("long").alias("mny"),
            F.max(dim_y).cast("long").alias("mxy"),
            F.min(natural_col).cast("long").alias("mno"),
            F.max(natural_col).cast("long").alias("mxo"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )

    def grid(col: str, mn: str, mx: str, buckets: int) -> Column:
        return F.expr(
            f"CAST((CAST({col} AS BIGINT) - {mn}) * {buckets} "
            f"DIV ({mx} - {mn} + 1) AS BIGINT)"
        )

    base = df.select(dim_x, dim_y, natural_col).crossJoin(st)
    zcell = zorder_key(
        grid(dim_x, "mnx", "mxx", b), grid(dim_y, "mny", "mxy", b), grid_bits
    )
    ncell = grid(natural_col, "mno", "mxo", cells_nat)
    # ONE fact scan via explode (see zorder_scan_advisor)
    tagged = base.select(
        F.explode(
            F.array(
                F.struct(F.lit("zorder").alias("layout"), zcell.alias("cell")),
                F.struct(F.lit("natural").alias("layout"), ncell.alias("cell")),
            )
        ).alias("lc"),
        zcell.alias("z"), "n_rows",
    ).select(
        F.col("lc.layout").alias("layout"), F.col("lc.cell").alias("cell"),
        "z", "n_rows",
    )
    cells = tagged.groupBy("layout", "cell").agg(
        F.count("*").alias("cnt"),
        F.min("z").alias("czmn"), F.max("z").alias("czmx"),
        F.first("n_rows").alias("n_rows"),
    )
    filed = cells.withColumn(
        "fid",
        F.expr(f"(sum(cnt) OVER (PARTITION BY layout ORDER BY cell "
               f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) "
               f"* {n_files} DIV n_rows"),
    )
    # lazy localCheckpoint: the overlap self-join references this tiny
    # (≤ 2·n_files rows) table on BOTH sides — without it each side
    # re-evaluates the whole fact pipeline (two extra corpus scans)
    files = filed.groupBy("layout", "fid").agg(
        F.min("czmn").alias("zmn"), F.max("czmx").alias("zmx")
    ).localCheckpoint(eager=False)
    a = files.select(F.col("layout"), F.col("fid"), F.col("zmn"), F.col("zmx"))
    c = files.select(
        F.col("layout").alias("layout2"),
        F.col("zmn").alias("zmn2"), F.col("zmx").alias("zmx2"),
    )
    depth = (
        a.join(
            c,
            (F.col("layout") == F.col("layout2"))
            & (F.col("zmn") <= F.col("zmx2"))
            & (F.col("zmn2") <= F.col("zmx")),
        )
        .groupBy("layout", "fid")
        .agg(F.count("*").cast("long").alias("d"))
    )
    return depth.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.round(
            F.sum("d").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_depth"),
        F.max("d").cast("bigint").alias("max_depth"),
    )


def partition_granularity_advisor(
    df: DataFrame,
    window_days: int = 7,
) -> DataFrame:
    """Price time-partition granularity (day / week / month) against a
    typical range query: for the LAST ``window_days`` of the corpus,
    how many partitions does each granularity touch, how many rows do
    those partitions hold, and what is the read amplification (rows
    read ÷ rows actually matching)?  Coarse partitions mean fewer files
    and cheaper listings but read whole months to answer a week; fine
    partitions skip tightly but multiply small files — this makes the
    trade measurable on the table's own distribution.

    Output per granularity: ``(granularity, n_partitions,
    partitions_read, rows_read, rows_matching, read_amplification)``.

    Plan / 100 TB: one fact scan exploded ×3 granularities (map-side),
    ONE groupBy to (granularity, partition) grain; everything after runs
    at partition-count cardinality.  The query window rides in as a
    broadcast 1-row max aggregate.
    """
    hi = F.broadcast(df.agg(F.max(F.col("ts")).alias("tmax")))
    lo = F.col("tmax") - F.expr(f"INTERVAL {int(window_days)} DAYS")
    tagged = (
        df.select("ts")
        .crossJoin(hi)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("day").alias("g"),
                        F.date_trunc("day", F.col("ts")).alias("p"),
                    ),
                    F.struct(
                        F.lit("week").alias("g"),
                        F.date_trunc("week", F.col("ts")).alias("p"),
                    ),
                    F.struct(
                        F.lit("month").alias("g"),
                        F.date_trunc("month", F.col("ts")).alias("p"),
                    ),
                )
            ).alias("gp"),
            (F.col("ts") >= lo).cast("long").alias("in_win"),
        )
        .select(F.col("gp.g").alias("g"), F.col("gp.p").alias("p"), "in_win")
    )
    parts = tagged.groupBy("g", "p").agg(
        F.count("*").cast("long").alias("rows"),
        F.sum("in_win").cast("long").alias("match"),
    )
    agg = parts.groupBy(F.col("g").alias("granularity")).agg(
        F.count("*").cast("bigint").alias("n_partitions"),
        F.sum(F.when(F.col("match") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("partitions_read"),
        F.sum(F.when(F.col("match") > 0, F.col("rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_read"),
        F.sum("match").cast("bigint").alias("rows_matching"),
    )
    return agg.select(
        "granularity", "n_partitions", "partitions_read", "rows_read",
        "rows_matching",
        F.round(
            F.col("rows_read").cast("double")
            / F.col("rows_matching").cast("double"),
            6,
        ).alias("read_amplification"),
    )


def zonemap_skip_stats(
    df: DataFrame,
    key_col: str = "l_orderkey",
    ts_col: str = "l_shipdate",
    file_span: int = 1024,
    window_days: tuple[int, ...] = (7, 30, 90),
) -> DataFrame:
    """Measure parquet/Delta zone-map (per-file min-max) skipping for a
    family of trailing date-range predicates on a SIMULATED file layout:
    rows land in synthetic files by ``floor(key/file_span)`` — i.e. the
    ingest order the reference's append-mode loads produce
    (src/etl/rss_feed_etl.py appends batches keyed by feed order, so file
    boundaries track the write key, not the query column).  A file can be
    skipped for ``ts >= lo`` exactly when its per-file ``max(ts) < lo`` —
    the same one-sided prune a reader applies from parquet row-group
    statistics.

    Output per window: ``(window_days, n_files, files_read, rows_read,
    rows_matching, file_skip_ratio, read_amplification)``.  A layout
    whose write key is uncorrelated with the query column shows
    read_amplification near n_rows/rows_matching (zone maps useless); a
    time-clustered layout drives it toward 1.

    Plan / 100 TB: ONE fact scan to (file) grain — min/max/count plus one
    conditional sum per window, all map-side partials into a groupBy at
    file cardinality (corpus_bytes / ~128 MB rows, model-sized).  The
    window bounds ride in as a broadcast 1-row max aggregate; everything
    after the first agg runs at file grain.
    """
    hi = F.broadcast(df.agg(F.max(F.col(ts_col)).alias("tmax_all")))
    per_file = (
        df.select(
            (F.floor(F.col(key_col) / F.lit(int(file_span)))).alias("file_id"),
            F.col(ts_col).alias("ts"),
        )
        .crossJoin(hi)
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("rows"),
            F.max("ts").alias("fmax"),
            F.max("tmax_all").alias("tmax_all"),
            *[
                F.sum(
                    (
                        F.col("ts")
                        >= F.col("tmax_all") - F.expr(f"INTERVAL {int(d)} DAYS")
                    ).cast("long")
                )
                .cast("long")
                .alias(f"m{d}")
                for d in window_days
            ],
        )
    )
    # one explode, NOT a union of per-window selects: a union re-evaluates
    # the file-grain aggregate subtree once per branch (3 windows scanned
    # lineitem 12x before this — caught by the plan pin), while the struct
    # explode reshapes the single aggregated frame map-side
    arr = F.array(
        *[
            F.struct(
                F.lit(int(d)).alias("window_days"),
                F.col("rows").alias("rows"),
                (
                    F.col("fmax")
                    >= F.col("tmax_all") - F.expr(f"INTERVAL {int(d)} DAYS")
                ).cast("long").alias("read"),
                F.col(f"m{d}").alias("match"),
            )
            for d in window_days
        ]
    )
    stacked = per_file.select(F.explode(arr).alias("w")).select("w.*")
    agg = stacked.groupBy("window_days").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("read").cast("bigint").alias("files_read"),
        F.sum(F.col("read") * F.col("rows")).cast("bigint").alias("rows_read"),
        F.sum("match").cast("bigint").alias("rows_matching"),
    )
    return agg.select(
        "window_days", "n_files", "files_read", "rows_read", "rows_matching",
        F.round(
            (F.col("n_files") - F.col("files_read")).cast("double")
            / F.col("n_files").cast("double"),
            6,
        ).alias("file_skip_ratio"),
        F.when(
            F.col("rows_matching") > 0,
            F.round(
                F.col("rows_read").cast("double")
                / F.col("rows_matching").cast("double"),
                6,
            ),
        ).alias("read_amplification"),
    )


def skew_salting_plan(
    df: DataFrame,
    key_col: str,
    target_rows_per_task: int = 1000,
    top_n: int = 20,
) -> DataFrame:
    """Actionable skew mitigation: for every join/shuffle key whose row
    count exceeds ``target_rows_per_task``, compute the salt factor
    (``ceil(rows/target)`` sub-keys) that caps any single salted task at
    the target, plus the per-key share of the table and the resulting
    salted task size.  This turns ``key_skew_report``'s diagnosis
    (profiling.py) into the prescription: replicate the small side
    ``salt_factor`` ways and append ``pmod(hash(...), salt_factor)`` to
    the big side's key.

    Output: top ``top_n`` hot keys by rows — ``(key, rows, share,
    salt_factor, salted_task_rows)`` — deterministic order (rows DESC,
    key ASC).

    Plan / 100 TB: one map-side-combined groupBy to key grain, a filter
    to hot keys only, and a TakeOrdered top-k — no full sort, no second
    scan.  The total-rows denominator rides in as a broadcast 1-row
    aggregate.
    """
    tot = F.broadcast(df.agg(F.count("*").cast("long").alias("n_total")))
    per_key = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").cast("long").alias("rows"))
        .crossJoin(tot)
        .filter(F.col("rows") > int(target_rows_per_task))
    )
    planned = per_key.select(
        "key",
        F.col("rows").cast("bigint").alias("rows"),
        F.round(F.col("rows") / F.col("n_total"), 6).alias("share"),
        F.ceil(F.col("rows") / F.lit(int(target_rows_per_task)))
        .cast("bigint")
        .alias("salt_factor"),
    )
    return (
        planned.withColumn(
            "salted_task_rows",
            F.ceil(F.col("rows") / F.col("salt_factor")).cast("bigint"),
        )
        .orderBy(F.col("rows").desc(), F.col("key").asc())
        .limit(int(top_n))
    )


def shuffle_partition_advisor(
    tables: dict[str, "DataFrame"],
    target_partition_mb: float = 128.0,
) -> DataFrame:
    """Size ``spark.sql.shuffle.partitions`` from the data instead of the
    200-partition default: for each table (projected to the columns the
    shuffle will actually carry), estimate the serialized bytes (fixed
    type widths + MEASURED string lengths — the ``star_join_advisor``
    estimator) and recommend ``ceil(bytes / target)`` partitions, the
    number that makes each shuffle partition land near the target size
    AQE coalescing aims for.  A 100 TB join at the default 200 puts
    ~500 GB in every task; a 50 MB dim at 200 makes 200 near-empty files
    — both failure modes are one advisor row here.

    Output per table: ``(table, n_rows, est_row_bytes, est_total_mb,
    target_partition_mb, recommended_partitions, est_rows_per_partition)``.

    Plan / 100 TB: ONE map-side-combined stats aggregate per table
    (count + mean width), unioned at table-count grain — the tables are
    scanned once, nothing is shuffled to produce the advice.
    """
    from .profiling import _TYPE_BYTES

    out = None
    for name, df in tables.items():
        width = F.lit(0)
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if t == "string":
                width = width + F.coalesce(F.length(f.name), F.lit(0))
            else:
                width = width + F.lit(_TYPE_BYTES.get(t, 8))
        row = df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.avg(width), 2).alias("est_row_bytes"),
        ).select(
            F.lit(name).alias("table"),
            "n_rows",
            "est_row_bytes",
            F.round(
                F.col("n_rows") * F.col("est_row_bytes") / F.lit(1048576.0),
                4,
            ).alias("est_total_mb"),
            F.lit(float(target_partition_mb)).alias("target_partition_mb"),
            F.greatest(
                F.lit(1),
                F.ceil(
                    F.col("n_rows") * F.col("est_row_bytes")
                    / F.lit(float(target_partition_mb) * 1048576.0)
                ),
            ).cast("bigint").alias("recommended_partitions"),
        )
        row = row.withColumn(
            "est_rows_per_partition",
            F.ceil(
                F.col("n_rows") / F.col("recommended_partitions")
            ).cast("bigint"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def salted_distinct_profile(
    df: DataFrame,
    key_col: str,
    val_col: str,
    preview_k: int = 8,
) -> DataFrame:
    """Per-key distinct-value profile via TWO-STAGE SALTED aggregation —
    the groupBy-skew shape partial aggregation cannot fix: collect-type
    state (here a distinct set) has no map-side reduction, so a plain
    ``groupBy(key).collect_set`` ships every row of a hot key to ONE
    reducer task.  Salting with ``spark_partition_id()`` (the two-stage
    top-k discipline from ``similarity._per_query_topk``) makes the
    stage-1 exchange key ``(key, pid)`` — a hot key spreads over as many
    reducers as there are scan partitions, and every stage-1 task builds
    its set from at most one partition's rows of that key.  Stage 2
    merges the ≤ P per-partition sets per key: payloads are
    set-cardinality-bounded, never row-count-bounded, so the merge is
    model-sized however skewed the input.

    Output per key: ``(key_col, n_rows, n_distinct, preview)`` with
    ``preview`` = the first ``preview_k`` sorted distinct values,
    comma-joined (a stable engine-neutral sink encoding).

    Plan / 100 TB: two exchanges — one on the balanced composite
    ``(key, pid)`` (row-grain but skew-proof by construction), one on the
    key over set-sized rows.  ``bench.py``'s degenerate section times the
    one-hot-key shape (500k rows, one key) to prove the bound; the pin in
    ``tests/test_wave149.py`` asserts ``SPARK_PARTITION_ID`` feeds the
    first aggregate so a refactor cannot silently drop the salt.
    """
    staged = df.select(
        F.col(key_col).alias("__key"), F.col(val_col).alias("__val")
    ).withColumn("__pid", F.spark_partition_id())
    part = staged.groupBy("__key", "__pid").agg(
        F.count("*").alias("__n"), F.collect_set("__val").alias("__vals")
    )
    return (
        part.groupBy("__key")
        .agg(
            F.sum("__n").cast("bigint").alias("n_rows"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("__vals")))
            ).alias("__all"),
        )
        .select(
            F.col("__key").alias(key_col),
            "n_rows",
            F.size("__all").cast("bigint").alias("n_distinct"),
            F.array_join(F.slice("__all", 1, preview_k), ",").alias("preview"),
        )
    )

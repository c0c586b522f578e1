"""Join shapes used by the reference (J1-J5).

All reference joins are single-key equi-joins on the primary key ``link``;
the interesting part at scale is the STRATEGY: the incoming batch side is
small (one feed fetch) against an ever-growing history, so every wrapper
takes ``broadcast_small=True`` and hints Catalyst to broadcast the batch —
history then never shuffles.  Key-set operations the reference does with
Python ``set`` arithmetic (scd1_manager.py:94-110) are semi/anti joins, the
distributed equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def provenance_outer_join(
    new: DataFrame,
    old: DataFrame,
) -> DataFrame:
    """Full-outer merge with provenance tags (reference J1,
    data_loader.py:147-159): pandas ``indicator=True`` becomes an explicit
    ``provenance`` column computed from per-side presence flags; old-side
    value columns get ``_old`` suffixes like pandas' ``suffixes``."""
    n = F.broadcast(new).withColumn("__pn", F.lit(1))
    o = old.withColumn("__po", F.lit(1))
    value_cols_new = [c for c in new.columns if c != "link"]
    value_cols_old = [c for c in old.columns if c != "link"]
    j = n.alias("n").join(o.alias("o"), on="link", how="full_outer")
    prov = (
        F.when(F.col("n.__pn").isNotNull() & F.col("o.__po").isNotNull(), F.lit("both"))
        .when(F.col("n.__pn").isNotNull(), F.lit("left_only"))
        .otherwise(F.lit("right_only"))
    )
    return j.select(
        F.col("link"),
        *[F.col(f"n.{c}").alias(c) for c in value_cols_new],
        *[F.col(f"o.{c}").alias(f"{c}_old") for c in value_cols_old],
        prov.alias("provenance"),
    )


def removed_keys(new: DataFrame, history: DataFrame) -> DataFrame:
    """Keys current-in-history but absent from the batch (reference J3,
    ``set(current) - set(new)`` at data_loader.py:295) → left-anti join."""
    h = history.filter(F.col("current_flag") == 1)
    return h.join(F.broadcast(new.select("link")), on="link", how="left_anti")


def updated_keys(new: DataFrame, history: DataFrame) -> DataFrame:
    """Keys present in both batch and history (reference J4,
    ``new_links & hist_links`` at scd1_manager.py:94-98) → left-semi join."""
    return new.join(history.select("link"), on="link", how="left_semi")


def lookup_notes(
    df: DataFrame,
    history: DataFrame,
) -> DataFrame:
    """Notes lookup-map probe (reference J5, scd1_manager.py:115-129): the
    dict ``link -> notes`` becomes a broadcast hash join + coalesce —
    df's notes win when non-blank, else history's."""
    from ..functions.text import blank_to_null

    lut = F.broadcast(
        history.filter(F.trim(F.col("notes")) != "")
        .select("link", F.col("notes").alias("__hist_notes"))
        .dropDuplicates(["link"])
    )
    return (
        df.join(lut, on="link", how="left")
        .withColumn(
            "notes",
            F.coalesce(blank_to_null(F.col("notes")), F.col("__hist_notes"), F.lit("")),
        )
        .drop("__hist_notes")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    tolerance: str | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, attach the single right row
    with the greatest ``right_ts <= left_ts`` for the same ``on`` key
    (inclusive, pandas ``merge_asof`` semantics).  Absent from the reference
    (SURVEY §2.3 — no range/as-of joins); provided because incremental
    feeds constantly need "latest dimension version as of event time".

    Scale: the naive formulation is a range join (left × right per key,
    then argmax) which explodes quadratically per key.  This plan instead
    UNIONS the two sides, shuffles ONCE on the key, and sweeps each
    partition ordered by time carrying the latest right struct forward
    (``last(..., ignorenulls)`` over an unbounded-preceding row frame) —
    O(n log n) for the sort, no per-key blow-up, AQE-safe.

    Ties: right rows at the same ``(on, right_ts)`` are resolved by the
    later row in the union sort, which is nondeterministic — pre-dedup the
    right side if that matters.  ``tolerance`` (an INTERVAL string, e.g.
    ``'90 days'``) drops matches older than ``left_ts - tolerance``.
    """
    from pyspark.sql import Window

    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    carry = F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols])
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(1).alias("__is_r"),
        carry.alias("__rv"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != on],
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("__t"),
        F.lit(0).alias("__is_r"),
        F.lit(None).cast(r.schema["__rv"].dataType).alias("__rv"),
        *[F.col(c) for c in left.columns if c != on],
    )
    # right rows sort BEFORE left rows at equal time → equality is inclusive
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__is_r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = r.unionByName(l).withColumn("__m", F.last("__rv", ignorenulls=True).over(w))
    out = swept.filter(F.col("__is_r") == 0)
    match = F.col("__m")
    if tolerance is not None:
        match = F.when(
            F.col("__m.__rts") >= F.col("__t") - F.expr(f"INTERVAL {tolerance}"), F.col("__m")
        )
    return out.select(
        on,
        *[c for c in left.columns if c != on],
        *[match.getField(c).alias(c) for c in right_cols],
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
) -> DataFrame:
    """Equi-join with key salting for heavy-hitter skew.

    AQE's skew-join splitting handles most skew at runtime, but it only
    splits the PROBE side — when one key is hot on BOTH sides, or the
    build side of a shuffled join is the skewed one, a single reducer still
    receives the whole hot key.  Salting pre-splits it: the left side gets
    a random salt in [0, salt), the right side is replicated ``salt``
    times, and the join key becomes (key, salt) — the hot key's rows spread
    over ``salt`` reducers at the cost of replicating the right side.

    Use for large-large joins with known hot keys (e.g. a null-ish default
    key, a celebrity user).  For small right sides prefer ``broadcast()``
    (no salt needed — map-side join has no skew problem at all).
    """
    l = left.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    r = right.join(
        F.broadcast(
            right.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = l.join(r, on=[on, "__salt"], how="inner")
    return out.drop("__salt")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    min_delta_s: float,
    max_delta_s: float,
) -> DataFrame:
    """Range/interval join: pair rows with equal ``on`` keys where
    ``right_ts − left_ts ∈ [min_delta_s, max_delta_s]`` (absent from the
    reference — its only join shape is the single-key equi-join, SURVEY.md
    §2.3; this is the Flink-style interval join Spark lacks natively).

    Plan shape for scale: a naive formulation is an equi-join on the key
    with a non-equi time predicate, which Spark executes by shipping every
    key group to one reducer and filtering the full per-key cross product.
    Here both sides are BINNED into time buckets of the window width: each
    left row explodes to the 1-2 buckets its window overlaps, each right
    row lands in exactly one, and the join key becomes (key, bucket) — the
    cross product is bounded per bucket, the exchange carries a composite
    int key, and the exact predicate filters within buckets.  Bucket ids
    use pure integer arithmetic on epoch-micros (no float floor), so
    bucketing is reproducible on any engine.

    Left columns keep their names; right columns get a ``r_`` prefix.
    """
    w_us = int(round((max_delta_s - min_delta_s) * 1_000_000))
    if w_us <= 0:
        raise ValueError("max_delta_s must exceed min_delta_s")
    lo_us = int(round(min_delta_s * 1_000_000))
    hi_us = int(round(max_delta_s * 1_000_000))

    def idiv(c, w: int):
        # exact integer floor-division for non-negative longs: (c - c%w)/w
        # is a representable integer, so the double division is exact
        return ((c - F.pmod(c, F.lit(w))) / F.lit(w)).cast("long")

    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(f"r_{right_ts}"))

    lhs = left.withColumn(
        "__bucket",
        F.explode(
            F.array_distinct(
                F.array(idiv(l_us + lo_us, w_us), idiv(l_us + hi_us, w_us))
            )
        ),
    )
    rhs = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    ).withColumn("__bucket_r", idiv(r_us, w_us))

    on_r = f"r_{on}"
    return (
        lhs.join(
            rhs,
            (F.col(on) == F.col(on_r)) & (F.col("__bucket") == F.col("__bucket_r")),
        )
        .filter((r_us >= l_us + lo_us) & (r_us <= l_us + hi_us))
        .drop("__bucket", "__bucket_r", on_r)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
) -> DataFrame:
    """(status, n) summary of two table snapshots: added / removed /
    changed / unchanged keys — the read-only diagnostic form of the merge
    probes (J1-J4), answering "what would this batch do?" before running
    it (the reference's dry-run counts, run_etl.py:181-185, computed
    relationally).

    Change detection uses the merge operators' stringified-compare
    semantics (''/'nan' are null-ish) so the diff agrees with what
    merge_scd1/merge_upsert would actually overwrite.  One full-outer key
    join + one tiny aggregate; neither snapshot is assumed small.
    """
    from .merges import _changed

    compare_cols = [
        c for c in new.columns if c != "link" and c in old.columns
    ]
    j = new.alias("n").join(
        old.alias("o"), F.col("n.link") == F.col("o.link"), "full_outer"
    )
    n_in = F.col("n.link").isNotNull()
    o_in = F.col("o.link").isNotNull()
    status = (
        F.when(n_in & ~o_in, F.lit("added"))
        .when(~n_in & o_in, F.lit("removed"))
        .when(_changed("n", "o", compare_cols), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def fk_profile(
    fact: DataFrame,
    dim: DataFrame,
    fk: str,
    pk: str,
) -> DataFrame:
    """Foreign-key relationship profile — the data-quality report run
    before trusting a join at scale: fact/dim row counts, distinct FK
    cardinality, ORPHAN facts (fk value absent from the dimension — rows
    an inner join would silently drop), and the max/avg per-key fanout
    (the skew number that decides broadcast vs salted join strategy).

    One aggregate collapses facts to (fk, count) grain; everything after
    is key-grain, and the dim key set joins that grain, never the facts.
    """
    per_key = fact.groupBy(F.col(fk).alias("k")).agg(F.count("*").alias("c"))
    keys = dim.select(F.col(pk).alias("k")).distinct().withColumn("in_dim", F.lit(1))
    joined = per_key.join(keys, "k", "left")
    stats = joined.agg(
        F.sum("c").cast("bigint").alias("n_fact"),
        F.count("*").cast("bigint").alias("n_distinct_fk"),
        F.sum(F.when(F.col("in_dim").isNull(), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_orphan_facts"),
        F.max("c").cast("bigint").alias("max_fanout"),
        F.round(F.avg("c"), 6).alias("avg_fanout"),
    )
    return stats.crossJoin(
        F.broadcast(dim.agg(F.count("*").cast("bigint").alias("n_dim")))
    ).select(
        "n_fact", "n_dim", "n_distinct_fk", "n_orphan_facts", "max_fanout", "avg_fanout"
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Build a Bloom filter over a key column as a 1-row DataFrame holding
    the bitmap (array of ``num_bits/64`` longs) — a distributed bloom
    CONSTRUCTION, not a driver-side one.

    Each key sets ``num_hashes`` bits at positions pmod(xxhash64(seed,
    key), m); the bit words are assembled by a ``bit_or`` groupBy on the
    word index — partial aggregation collapses each map partition to at
    most m/64 rows before the (tiny) exchange, so building over a billion
    keys shuffles kilobytes.  Everything is JVM-side expression work.
    """
    m = num_bits
    per_seed = [
        F.pmod(F.xxhash64(F.lit(i), F.col(key_col)), F.lit(m)).alias(f"p{i}")
        for i in range(num_hashes)
    ]
    pos = keys.select(F.explode(F.array(*per_seed)).alias("pos"))
    words = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("word"),
            # expr form: pyspark's shiftleft() only takes a literal shift
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # densify to a fixed-length array so membership tests are one
    # element_at + bit test; absent words are 0.  Word count rounds UP:
    # m // 64 would drop the final partial word for non-multiple-of-64
    # sizes, making probes whose bit lands there element_at past the array
    # end — an ANSI runtime error, or a NULL false negative with ANSI off
    dense = words.sparkSession.range((m + 63) // 64).select(
        F.col("id").cast("int").alias("word")
    )
    return (
        dense.join(words, "word", "left")
        .select("word", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("word", "bits"))).alias("ws"))
        .select(
            F.transform("ws", lambda s: s["bits"]).alias("__bloom"),
            F.lit(m).alias("__m"),
            F.lit(num_hashes).alias("__k"),
        )
    )


def bloom_might_contain(key_col: str, bloom_col: str = "__bloom", m: int = 1 << 20):
    """Membership predicate against a ``bloom_build`` bitmap column.

    Built as one SQL expression (pyspark's shiftrightunsigned only
    accepts a literal shift, the SQL form takes a column)."""
    conds = []
    for i in range(3):
        p = f"pmod(xxhash64({i}, {key_col}), {m})"
        w = f"element_at({bloom_col}, CAST({p} / 64 AS INT) + 1)"
        # & 1, not % 2: a zero shift leaves a negative word intact, and
        # SQL % keeps the dividend's sign (-x % 2 = -1), silently turning
        # every (bit 63 set, bit position ≡ 0 mod 64) probe into a false
        # negative — which a Bloom filter must never produce
        conds.append(f"((shiftrightunsigned({w}, CAST({p} % 64 AS INT)) & 1) = 1)")
    return F.expr(" AND ".join(conds))


def bloom_prune_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Equi-join with a Bloom-filter pre-prune of the fact side: build a
    bloom over the dim keys (one tiny bit_or aggregate), broadcast the
    bitmap, and drop fact rows that cannot match BEFORE the join's
    exchange.  The exact join then clears the bloom's false positives, so
    semantics are identical to a plain join — only the shuffled volume
    changes.

    This is the semi-join reduction Spark's runtime bloom
    (spark.sql.optimizer.runtime.bloomFilter.*) applies when it can; the
    explicit form covers the cases it can't see — a dim filtered by an
    earlier pipeline stage, a bitmap reused across several fact scans, or
    a dim arriving from a different source.  At 100 TB the win is the
    point: a 1%-selective dim means ~99% of the fact never enters the
    shuffle, for the cost of one broadcast bitmap (2^20/8 bytes;
    false-positive rate ≈ (1 − e^(−k·n/m))^k).
    """
    bf = bloom_build(
        dim.select(dim_key), dim_key
    )
    pruned = (
        fact.join(F.broadcast(bf))
        .filter(
            bloom_might_contain(fact_key, "__bloom")
        )
        .drop("__bloom", "__m", "__k")
    )
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], "inner")


def scd2_interval_enrich(
    facts: DataFrame,
    versions: DataFrame,
    key: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Temporal enrichment: attach to every fact row the dimension
    version that was effective AT the fact's event time —
    ``start <= ts < end`` (NULL end = open) — the point-in-time join
    every SCD2 history exists to serve.

    Plan shape (100 TB): an equi-join on the KEY carries the interval
    predicate as a join condition, so the only fan-out is the per-key
    version count (bounded by change frequency, not corpus size) and the
    containment filter prunes it back to ≤1 row per fact — never a
    time-bucket explosion, never a cross product.  Facts with no
    effective version (before the key's first insert, or inside a
    deleted gap) keep NULL dimension values via the left join.
    """
    value_cols = value_cols or [
        c for c in versions.columns
        if c not in (key, "effective_start", "effective_end", "current_flag")
    ]
    v = versions.select(
        F.col(key).alias("__k"),
        F.col("effective_start").alias("__s"),
        F.col("effective_end").alias("__e"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    cond = (
        (facts[key] == v["__k"])
        & (facts["ts"] >= v["__s"])
        & (v["__e"].isNull() | (facts["ts"] < v["__e"]))
    )
    out = facts.join(v, cond, "left")
    return out.select(
        *[facts[c] for c in facts.columns],
        *[F.col(f"__v_{c}").alias(f"dim_{c}") for c in value_cols],
    )

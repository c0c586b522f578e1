"""Composite merge operators — SCD1 / upsert / SCD2 (reference M1-M3).

These are the heart of the reference pipeline
(src/etl/scd1_manager.py:10-176, src/rss_feed_etl/core/data_loader.py:115-314,
src/etl/scd2_manager.py:8-196).  The reference materializes pandas frames
and runs O(keys × rows) Python loops; the naive Spark translation is a
full-outer join — but Spark cannot broadcast either side of a full outer,
so that plan SHUFFLES THE ENTIRE HISTORY on every batch.  At the
reference's shape (a small feed batch vs an ever-growing history) that is
the single worst cost at scale, so each merge here is decomposed into
broadcast-able pieces instead:

    merged_hist = history ⟕ broadcast(batch)        -- map-side, no shuffle
    matched     = history.keys ⋉ broadcast(batch)    -- map-side semi, small result
    new_rows    = batch ▷ broadcast(matched)         -- map-side anti
    result      = merged_hist ∪ new_rows

History is only SCANNED (twice — once full-width, once key-column-only via
parquet column pruning), never exchanged.  All four merges share that probe
(``_probe``); the batch is always the broadcast side.

Change detection compares *stringified* values with ''-for-NULL exactly
like the reference (astype(str)+fillna('') — scd1_manager.py:45,53,
scd2_manager.py:94); see SURVEY §7.3.  On a lakehouse this is what Delta's
``MERGE INTO`` compiles to; the explicit plan keeps it runnable on plain
Parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import blank_to_null


def _norm(c: Column) -> Column:
    """Reference comparison normalization: stringify, NULL→'' (F6/F12)."""
    return F.coalesce(c.cast("string"), F.lit(""))


def _changed(new_prefix: str, old_prefix: str, compare_cols: list[str]) -> Column:
    cond = F.lit(False)
    for c in compare_cols:
        cond = cond | (_norm(F.col(f"{new_prefix}.{c}")) != _norm(F.col(f"{old_prefix}.{c}")))
    return cond


def _probe(
    batch: DataFrame, history: DataFrame, key: str
) -> tuple[DataFrame, Column, DataFrame]:
    """The merge probe, without shuffling history.

    Returns ``(joined, n_in, new_rows)``:

    - ``joined`` = history ``h`` ⟕ broadcast(batch ``n``) on ``key``;
    - ``n_in`` is true on joined rows whose key the batch has.  The batch
      carries a constant presence flag for it: inferring presence from
      "some column is non-null" is wrong (legitimately all-null value rows
      exist);
    - ``new_rows`` = batch rows whose key history lacks: semi-probe
      history's key column against the broadcast batch (small result),
      then anti-probe the batch against that.
    """
    flagged = F.broadcast(batch.withColumn("__present", F.lit(1)))
    joined = history.alias("h").join(flagged.alias("n"), on=key, how="left")
    matched = history.select(key).join(
        F.broadcast(batch.select(key)), on=key, how="left_semi"
    )
    new_rows = batch.join(F.broadcast(matched), on=key, how="left_anti")
    return joined, F.col("n.__present").isNotNull(), new_rows


def merge_scd1(
    batch: DataFrame,
    history: DataFrame,
    key: str = "link",
) -> DataFrame:
    """SCD1 upsert, no history kept (reference M1, scd1_manager.py:10-176).

    - history rows never deleted;
    - keys in both: new values overwrite, but ``notes`` is preserved from
      history when the new notes are blank-ish (''/'nan'/NULL —
      scd1_manager.py:115-129);
    - new keys appended.

    Callers dedup the batch keep-last first (dedup.dedup_by_key) — the
    reference does the same at ingest (scd1_manager.py:231).
    """
    value_cols = [c for c in batch.columns if c != key]
    j, n_in, new_rows = _probe(batch, history, key)
    out_cols = [F.col(key)]
    for c in value_cols:
        if c == "notes":
            expr = F.when(
                n_in, F.coalesce(blank_to_null(F.col(f"n.{c}")), F.col(f"h.{c}"))
            ).otherwise(F.col(f"h.{c}"))
        else:
            expr = F.when(n_in, F.col(f"n.{c}")).otherwise(F.col(f"h.{c}"))
        out_cols.append(expr.alias(c))
    merged_hist = j.select(*out_cols)
    return merged_hist.unionByName(new_rows.select(key, *value_cols))


def merge_upsert(
    batch: DataFrame,
    history: DataFrame,
    with_flags: bool = False,
) -> DataFrame:
    """Legacy upsert with change detection (reference M2,
    data_loader.py:115-207): rows present in both take the NEW values but
    keep the OLD notes when history has any; history-only rows survive
    unchanged; ``with_flags`` adds inserted/updated flags (drives the A1
    metrics)."""
    value_cols = [c for c in batch.columns if c != "link"]
    compare_cols = [c for c in value_cols if c != "notes"]
    j, n_in, new_rows = _probe(batch, history, "link")
    changed = n_in & _changed("n", "h", compare_cols)
    out_cols = [F.col("link")]
    for c in value_cols:
        if c == "notes":
            expr = F.when(
                n_in, F.coalesce(blank_to_null(F.col(f"h.{c}")), F.col(f"n.{c}"))
            ).otherwise(F.col(f"h.{c}"))
        else:
            expr = F.when(n_in, F.col(f"n.{c}")).otherwise(F.col(f"h.{c}"))
        out_cols.append(expr.alias(c))
    if with_flags:
        out_cols.append(F.lit(0).alias("inserted"))
        out_cols.append(changed.cast("int").alias("updated"))
    merged_hist = j.select(*out_cols)
    new_rows = new_rows.select("link", *value_cols)
    if with_flags:
        new_rows = new_rows.withColumn("inserted", F.lit(1)).withColumn(
            "updated", F.lit(0)
        )
    return merged_hist.unionByName(new_rows)


def merge_scd2(
    batch: DataFrame,
    history: DataFrame,
    as_of: str = "1970-01-01 00:00:00",
) -> DataFrame:
    """Type-2 merge (reference M3, data_loader.py:209-314).

    Given ``history`` with (``effective_start``, ``effective_end``,
    ``current_flag``) and a ``batch`` of plain rows:

    - current rows whose key changed or disappeared from the batch are
      expired: ``effective_end = as_of, current_flag = 0``;
    - new + changed keys get a fresh version: ``effective_start = as_of,
      effective_end = NULL, current_flag = 1``, with notes preserved from
      the prior current version when the new notes are blank (the packaged
      semantics, data_loader.py:290-292 — the legacy scd2_manager resets
      notes; tests pin the packaged behavior);
    - unchanged current rows and already-closed rows pass through.

    Plan: current ⟕ broadcast(batch) explodes into ≤2 rows per key;
    batch-anti-current adds brand-new versions; closed history unions
    straight through (scan-only — the 100 TB closed tail never joins).
    """
    scd_cols = ["effective_start", "effective_end", "current_flag"]
    value_cols = [c for c in batch.columns if c != "link"]
    compare_cols = [c for c in value_cols if c != "notes"]
    as_of_ts = F.to_timestamp(F.lit(as_of))

    current = history.filter(F.col("current_flag") == 1)
    closed = history.filter(F.col("current_flag") != 1)

    j, n_in, new_rows = _probe(batch, current, "link")
    changed = n_in & _changed("n", "h", compare_cols)
    removed = ~n_in

    def row_struct(values: list[Column]) -> Column:
        names = value_cols + scd_cols
        return F.struct(*[v.alias(c) for c, v in zip(names, values)])

    keep_current = row_struct(
        [F.col(f"h.{c}") for c in value_cols]
        + [F.col("h.effective_start"), F.col("h.effective_end"), F.col("h.current_flag")]
    )
    expired = row_struct(
        [F.col(f"h.{c}") for c in value_cols]
        + [F.col("h.effective_start"), as_of_ts, F.lit(0)]
    )
    changed_version_vals = []
    for c in value_cols:
        if c == "notes":
            changed_version_vals.append(
                F.coalesce(blank_to_null(F.col(f"n.{c}")), F.col(f"h.{c}")).cast("string")
            )
        else:
            changed_version_vals.append(F.col(f"n.{c}"))
    changed_version = row_struct(
        changed_version_vals + [as_of_ts, F.lit(None).cast("timestamp"), F.lit(1)]
    )

    rows = F.array_compact(
        F.array(
            F.when(n_in & ~changed, keep_current),
            F.when(changed | removed, expired),
            F.when(changed, changed_version),
        )
    )
    merged = j.select(F.col("link"), F.explode(rows).alias("__r")).select(
        "link", *[F.col(f"__r.{c}").alias(c) for c in value_cols + scd_cols]
    )
    new_rows = (
        new_rows.select(
            "link",
            *[
                blank_to_null(F.col(c)).cast("string").alias(c)
                if c == "notes"
                else F.col(c)
                for c in value_cols
            ],
        )
        .withColumn("effective_start", as_of_ts)
        .withColumn("effective_end", F.lit(None).cast("timestamp"))
        .withColumn("current_flag", F.lit(1))
    )
    closed_proj = closed.select("link", *value_cols, *scd_cols)
    return merged.unionByName(new_rows).unionByName(closed_proj)


def merge_counts(
    batch: DataFrame,
    history: DataFrame,
) -> DataFrame:
    """Inserted / updated / removed metrics (reference A1:
    data_loader.py:203-207, 310-314; scd1_manager.py:132-142).

    updated/removed come from one map-side pass over history (broadcast
    probe, partial-agg to a single row); inserted counts the anti-join of
    the batch.  No history shuffle anywhere.
    """
    value_cols = [c for c in batch.columns if c != "link"]
    compare_cols = [c for c in value_cols if c != "notes"]
    j, n_in, new_rows = _probe(batch, history, "link")
    changed = n_in & _changed("n", "h", compare_cols)
    hist_side = j.agg(
        F.sum(changed.cast("bigint")).alias("updated"),
        F.sum((~n_in).cast("bigint")).alias("removed"),
    )
    ins = new_rows.agg(F.count("*").alias("inserted"))
    return ins.crossJoin(hist_side).select("inserted", "updated", "removed")


def sort_output(df: DataFrame) -> DataFrame:
    """Stable output ordering: published desc (nulls last), key asc
    (reference O1, scd1_manager.py:158-166)."""
    return df.orderBy(F.col("published").desc_nulls_last(), F.col("link").asc())


def scd2_snapshot_at(history: DataFrame, at: str) -> DataFrame:
    """Point-in-time reconstruction of an SCD2 history table: the version
    of each key visible at timestamp ``at`` — rows whose validity interval
    [effective_start, effective_end) covers it (open rows have NULL end;
    reference interval semantics per src/rss_feed_etl/core/data_loader.py:70-72).

    A pure filter, so at scale both interval predicates push into the
    parquet scan (min/max row-group pruning on effective_start); when the
    history is partitioned by start date the snapshot reads only
    partitions ≤ ``at``.  This is the "time travel" read the reference's
    versioned dimension implies but never implements.
    """
    ts = F.to_timestamp(F.lit(at))
    return history.filter(
        (F.col("effective_start") <= ts)
        & (F.col("effective_end").isNull() | (F.col("effective_end") > ts))
    )


def cdc_apply_ordered(
    log: DataFrame,
    key: str,
) -> DataFrame:
    """Apply an ordered change-data-capture log (I/U/D ops) to produce the
    final table state: the LAST op per key wins, and a trailing delete
    removes the key entirely.

    This is the log-structured generalization of the reference's
    last-write-wins merge (`src/rss_feed_etl/core/data_loader.py:239-247`,
    which drops duplicates keeping the newest row but has no delete
    concept).  One hash exchange on ``key`` drives BOTH window functions
    (row_number for the last op, count for the audit trail) — Spark plans
    them over the same partitioning, so the log is shuffled exactly once
    and never joined against itself.

    At 100 TB the log is append-only and time-partitioned; the window
    reads only the compaction horizon's partitions, and the per-key state
    it carries is one row, not the full history.
    """
    from pyspark.sql import Window

    s1, s2 = ("ts", "event_id")
    w = Window.partitionBy(key).orderBy(F.desc(s1), F.desc(s2))
    wp = Window.partitionBy(key)
    ranked = log.withColumn("__rn", F.row_number().over(w)).withColumn(
        "n_ops", F.count("*").over(wp).cast("bigint")
    )
    return (
        ranked.filter((F.col("__rn") == 1) & (F.col("op") != F.lit("D")))
        .select(
            F.col(key),
            F.col("op").alias("last_op"),
            F.round(F.col("value"), 6).alias("last_value"),
            F.col(s1).alias("last_ts"),
            F.col("n_ops"),
        )
    )


def golden_record(
    members: DataFrame,
) -> DataFrame:
    """Survivorship merge ("golden record"): per duplicate cluster, build
    ONE output row whose every field takes the value from the best
    available member — best = lowest (priority, id) among members where
    that FIELD is non-null.  Unlike ``dedup.canonical_per_component``
    (which keeps one whole row), fields are chosen independently, so a
    cluster can take its title from the curated source and its body from
    the crawl — the standard MDM assembly step after entity resolution.

    Plan shape (100 TB): one partial-aggregated groupBy on the component
    key; each field is a ``min_by`` whose ordering struct ranks null
    fields last — no window, no per-field self-join, map-side combine
    collapses clusters before the exchange.
    """
    field_cols = [
        c for c in members.columns
        if c not in ("component_id", "id", "priority")
    ]
    # the ordering is encoded as ONE bigint (null-flag ≫ priority ≫ id)
    # instead of a struct: scalar keys have min_by/arg_min equivalents in
    # every engine, so the oracle can mirror the survivorship exactly
    aggs = []
    for f in field_cols:
        ordk = (
            F.col(f).isNull().cast("bigint") * F.lit(1_000_000_000_000_000)
            + F.col("priority").cast("bigint") * F.lit(10_000_000_000_000)
            + F.col("id").cast("bigint")
        )
        aggs.append(F.min_by(F.col(f), ordk).alias(f))
    return members.groupBy(F.col("component_id")).agg(
        *aggs,
        F.count("*").cast("bigint").alias("n_members"),
    )


def cdc_to_scd2(
    log: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Reconstruct an SCD2 version history from an ordered I/U/D change
    log: every insert/update opens a version effective from its change
    time until the key's NEXT change (update, delete, or re-insert); a
    delete closes the prior version and emits nothing itself.  The
    complement of ``cdc_apply_ordered`` (which keeps only the final
    state): this materializes the full temporal table an auditor or
    as-of join needs, from the same stream.

    Plan shape (100 TB): one per-key window sorted by (ts, seq) — the
    ``lead`` of the next change time IS the interval end, so history
    assembly costs exactly one shuffle, no self-join of the log against
    itself, no per-version probes.
    """
    from pyspark.sql import Window

    value_cols = ["value"]
    w = Window.partitionBy(key).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    nxt = F.lead("ts").over(w)
    staged = log.withColumn("__end", nxt)
    return staged.filter(F.col("op").isin("I", "U")).select(
        key,
        *value_cols,
        F.col("ts").alias("effective_start"),
        F.col("__end").alias("effective_end"),
        F.col("__end").isNull().cast("int").alias("current_flag"),
    )

"""Blocked fuzzy matching: edit-distance near-dup pairs within blocking
keys — the classic record-linkage / entity-resolution step (dedupe a
customer or vendor master by near-identical names).

The all-pairs edit-distance problem is quadratic; blocking makes it
Σ_blocks |block|², the same shape as every bucketed near-dup operator in
this package (minhash bands, simhash bands, embedding LSH cells).  The
block key is caller-chosen (name prefix, soundex, length bucket, ...);
``max_block`` drops degenerate blocks the same way ``max_bucket`` does in
the LSH paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import ordered_pairs


def levenshtein_blocked_pairs(
    df: DataFrame,
    block: Column,
    id_col: str = "id",
    text_col: str = "name",
    max_dist: int = 1,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Pairs (id_a < id_b) within the same ``block`` whose ``text_col``
    values are within ``max_dist`` Levenshtein edits.

    Plan (the one-sided bucket shape, same as ``ngram_jaccard_pairs``):
    ONE groupBy(block) collecting (id, text) structs — the only shuffle —
    then JVM-side in-bucket pair expansion via array transforms and the
    built-in ``levenshtein`` on each candidate pair.  A two-sided
    self-join on block would shuffle the table twice and re-evaluate the
    block expression per side.  On Spark ≥ 3.5 the 3-arg
    ``levenshtein(l, r, threshold)`` bounds the DP band and is the drop-in
    upgrade if ``max_dist`` is small relative to string length.

    Returns (id_a, id_b, block, dist).
    """
    t = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt"), block.alias("block")
    )
    buckets = t.groupBy("block").agg(
        F.sort_array(F.collect_list(F.struct("id", "txt"))).alias("members")
    )
    buckets = buckets.filter(F.size("members") >= 2)
    if max_block is not None:
        buckets = buckets.filter(F.size("members") <= max_block)
    pair_structs = ordered_pairs(
        F.col("members"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            x["txt"].alias("ta"),
            y["txt"].alias("tb"),
        ),
    )
    return (
        buckets.select("block", F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            "block",
            F.levenshtein(F.col("p.ta"), F.col("p.tb")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "id",
    key_col: str = "name",
    window: int = 3,
    block_chars: int = 2,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo): normalize the
    key, sort records, and emit candidate pairs within ``window``
    positions of each other — the classic record-linkage candidate
    generator for typo'd keys that equality blocking misses and
    all-pairs comparison can't afford.

    Plan shape (100 TB): a GLOBAL sort would serialize; instead records
    block on the normalized key's first ``block_chars`` characters and
    the neighborhood window runs per block (lead over the in-block
    ordering, ``window`` leads per row → ≤ window·n pairs).  Cross-block
    near-misses are the known recall trade-off of the method — run a
    second pass with a shifted key if they matter.
    """
    from pyspark.sql import Window

    norm = F.lower(F.regexp_replace(F.col(key_col), r"[^A-Za-z0-9]", ""))
    staged = df.select(
        F.col(id_col).alias("id"),
        norm.alias("__k"),
        F.substring(norm, 1, block_chars).alias("__blk"),
    )
    w = Window.partitionBy("__blk").orderBy(F.col("__k").asc(), F.col("id").asc())
    cols = []
    for j in range(1, window + 1):
        cols.append(F.lead("id", j).over(w).alias(f"__n{j}"))
        cols.append(F.lead("__k", j).over(w).alias(f"__kk{j}"))
    staged = staged.select("id", "__k", "__blk", *cols)
    arms = [
        F.when(
            F.col(f"__n{j}").isNotNull(),
            F.struct(
                F.col(f"__n{j}").alias("id_b"), F.col(f"__kk{j}").alias("k_b")
            ),
        )
        for j in range(1, window + 1)
    ]
    ex = staged.select(
        F.col("id").alias("id_a"),
        F.col("__k").alias("k_a"),
        F.explode(F.array(*arms)).alias("p"),
    ).filter(F.col("p").isNotNull())
    return ex.select(
        F.least(F.col("id_a"), F.col("p.id_b")).alias("id_a"),
        F.greatest(F.col("id_a"), F.col("p.id_b")).alias("id_b"),
        F.levenshtein(F.col("k_a"), F.col("p.k_b")).alias("edit_distance"),
    ).distinct()

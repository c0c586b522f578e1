"""Feature-engineering operators: target encoding and the hashing trick.

The feature side of a training-data pipeline: turning high-cardinality
categoricals and token bags into bounded numeric features WITHOUT a
vocabulary build (the classic scale failure: a vocab dictionary that must
be collected, broadcast, and versioned).  Both operators here are
vocabulary-free and engine-portable, so their outputs are oracle-checkable
bit-for-bit against DuckDB.

* ``target_encode_loo``   — leave-one-out mean-target encoding with an
                            m-estimate prior (the standard leakage guard:
                            a row never sees its own label).
* ``feature_hash_encode`` — signed hashing-trick bag-of-tokens (Weinberger
                            et al., ICML'09): bucket = h(tok) mod D, sign
                            from an independent hash bit, so collisions
                            cancel in expectation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import token_code
from ..functions.text import tokens


def target_encode_loo(
    df: DataFrame,
    id_col: str,
    cat_col: str,
    target_col: str,
    prior_weight: float = 10.0,
) -> DataFrame:
    """Leave-one-out target encoding with m-estimate smoothing:

        enc(row) = (sum(target|cat) − target(row) + m·global_mean)
                   / (count(cat) − 1 + m)

    Excluding the row's own target is the leakage guard that makes the
    encoding usable as a training feature; the m-estimate prior pulls
    rare categories toward the global mean instead of memorizing them.
    Singleton categories (count = 1) degrade gracefully to the prior.

    Output: ``(id, cat, enc)`` at row grain.

    Plan / 100 TB: one shuffle to category grain for the sums, broadcast
    back (category cardinality-sized, not corpus-sized), and a 1-row
    global aggregate cross-joined broadcast.  The fact stream is scanned
    once and never re-shuffled — the encode itself is map-side
    arithmetic.  Sums accumulate as decimal(30,10) and cast to double
    only at the final division, so the result is reproducible across
    partitionings (float sum order-dependence is the #7 parity pitfall).
    """
    dec = "decimal(30,10)"
    t = F.col(target_col).cast(dec)
    per_cat = df.groupBy(F.col(cat_col).alias("cat")).agg(
        F.sum(t).alias("s"), F.count("*").cast("long").alias("n")
    )
    glob = df.agg(
        (F.sum(t).cast("double") / F.count("*")).alias("gmean")
    )
    m = F.lit(float(prior_weight))
    return (
        df.select(F.col(id_col).alias("id"), F.col(cat_col).alias("cat"), t.alias("y"))
        .join(F.broadcast(per_cat), "cat")
        .crossJoin(F.broadcast(glob))
        .select(
            "id",
            "cat",
            F.round(
                ((F.col("s") - F.col("y")).cast("double") + m * F.col("gmean"))
                / (F.col("n") - 1 + m).cast("double"),
                6,
            ).alias("enc"),
        )
    )


def feature_hash_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Signed hashing-trick encoding of a whitespace token bag: each token
    lands in bucket ``h(tok) mod D`` with sign ±1 drawn from an
    independent bit of the same hash, and a document's feature is the
    signed count per bucket.  No vocabulary exists — the feature space is
    fixed at D forever, which is the property that lets 100 TB of text
    stream through without a dictionary build or a broadcast vocab.

    Output: ``(id, bucket, weight)`` — only non-zero buckets, the sparse
    representation.

    Plan / 100 TB: explode to token grain (map-side), integer hash
    arithmetic (md5-prefix fold — engine-portable, see
    ``functions/hashing.py``), ONE shuffle to (doc, bucket) grain whose
    partial aggregation collapses repeated tokens map-side.  Bucket
    count D bounds the output at D·docs regardless of corpus token
    count.  Rows whose weight cancels to 0 (equal +1/−1 collisions) are
    kept — dropping them would make the sparse and dense views disagree.
    """
    toks = tokens(F.col(text_col))
    coded = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .select("id", token_code(F.col("tok")).alias("code"))
    )
    # sign bit from a hash region independent of the bucket bits:
    # (code DIV D) is driven by higher bits of the avalanching md5 fold
    # than bucket (code % D) — integer DIV keeps both engines exact
    return (
        coded.select(
            "id",
            (F.col("code") % n_buckets).cast("bigint").alias("bucket"),
            F.expr(
                f"CASE WHEN (code DIV {n_buckets}) % 2 = 0 THEN 1 ELSE -1 END"
            ).alias("sgn"),
        )
        .groupBy("id", "bucket")
        .agg(F.sum("sgn").cast("bigint").alias("weight"))
    )

"""Deduplication operators.

Reference semantics (A2/A3): pandas ``drop_duplicates(keep="last"/"first")``
depends on physical row order, which Spark does not guarantee — so every
keyed dedup here picks its survivor by an explicit deterministic
(order_cols) ordering (SURVEY §7.3), realized as ``max_by``/``min_by``
aggregations: unlike a ``row_number`` window, aggregates get map-side
partial combine, so duplicate-heavy input collapses BEFORE the key
exchange instead of shuffling every row.

Beyond the reference, this module carries the large-scale training-data
dedup suite: exact (hash), n-gram Jaccard, MinHash+LSH, SimHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import MOD
from ..functions.arrays import ordered_pairs
from ..functions.text import norm_text, tokens


def dedup_by_key(
    df: DataFrame,
    key: str = "link",
    order_cols: list[str] | None = None,
    keep: str = "last",
) -> DataFrame:
    """Keep one row per key: ``keep="last"`` keeps the greatest
    (order_cols) row — reference ingest dedup (scd1_manager.py:218-237,
    keep-last on arrival order); ``keep="first"`` keeps the least.
    """
    order_cols = order_cols or ["event_id"]
    # max_by/min_by aggregation, not a row_number window: aggregates get
    # MAP-SIDE partial combine, so with duplicate-heavy input the exchange
    # carries ~one row per (map partition, key) instead of every row —
    # windows always shuffle the full input.  Ordering is the lexicographic
    # struct of order_cols (all-desc for keep=last ≡ max_by, all-asc for
    # keep=first ≡ min_by), same row the window form selected.
    row = F.struct(*[F.col(c) for c in df.columns])
    ordk = F.struct(*[F.col(c) for c in order_cols])
    pick = F.max_by(row, ordk) if keep == "last" else F.min_by(row, ordk)
    return df.groupBy(F.col(key).alias("__k")).agg(pick.alias("__r")).select("__r.*")


def union_dedup_keep_first(
    new: DataFrame,
    existing: DataFrame,
    key: str = "link",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Append-mode load (reference M4/A3, run_job_filter.py:350-382):
    union new with existing, one row per key, NEW rows win.

    pandas ``concat([new, existing]).drop_duplicates(keep="first")`` wins by
    position; here an explicit priority column (0=new, 1=existing) makes it
    order-independent, with ``tiebreak_cols`` for determinism within a side.
    """
    tiebreak_cols = tiebreak_cols or []
    n = new.withColumn("__prio", F.lit(0))
    e = existing.withColumn("__prio", F.lit(1))
    u = n.unionByName(e, allowMissingColumns=True)
    # min_by aggregation instead of a row_number window — map-side partial
    # combine collapses duplicate keys before the exchange (see dedup_by_key)
    out_cols = [c for c in u.columns if c != "__prio"]
    row = F.struct(*[F.col(c) for c in out_cols])
    ordk = F.struct(F.col("__prio"), *[F.col(c) for c in tiebreak_cols])
    return (
        u.groupBy(F.col(key).alias("__k"))
        .agg(F.min_by(row, ordk).alias("__r"))
        .select("__r.*")
    )


# ---------------------------------------------------------------------------
# Training-data-pipeline dedup suite (beyond the reference's surface)
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-identity dedup: group by md5 of normalized text, keep the
    smallest id per group.  min/min_by aggregation (not a window): map-side
    partial combine collapses duplicates before the exchange, so on a
    dup-heavy corpus the shuffle carries ~one surviving (digest, id, text)
    row per map partition per group rather than every input row."""
    fp = F.md5(norm_text(text_col)).alias("__fp")
    return (
        df.select(F.col(id_col), fp, F.col(text_col))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.min_by(text_col, id_col).alias(text_col),
        )
        .select(id_col, text_col)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by word n-gram Jaccard similarity.

    Plan: explode distinct shingles → group ids per shingle → expand
    in-bucket pairs → count shared shingles per pair →
    Jaccard = |∩| / (|A|+|B|-|∩|).

    ``max_df`` is the hot-shingle guard, ON by default: shingle buckets
    holding more than ``max_df`` documents are dropped before pair
    expansion, removing those shingles from every shingle set (reduced-set
    Jaccard — the shingle analog of TF-IDF stopword removal).  A
    boilerplate shingle shared by millions of documents otherwise produces
    a quadratic pair list; with the cap, fan-out per shingle is ≤ max_df².
    `minhash_lsh_pairs` (banded buckets, tunable collision probability)
    stays the cheaper 100 TB path for this exact-answer baseline.
    Pass ``None`` for the unreduced exact baseline (test-only at scale).
    Returns (id_a, id_b, jaccard) with id_a < id_b, rounded to 6dp for
    stable cross-engine comparison.
    """
    # Shingles are carried as engine-independent numeric codes (md5 prefix
    # mod 1e9+7) so every downstream exchange moves 8-byte bigints, not
    # ~25-byte n-gram strings.  The pair generation is ONE-SIDED (the
    # minhash-bucket shape): group ids per shingle, expand in-bucket pairs
    # with array transforms.  A two-sided self-join on shingle evaluates
    # the (expensive) shingle+md5 subtree once per join side and per
    # consumer; this shape evaluates it once per consumer.  The codes are
    # produced by ONE Arrow pass emitting the per-doc code ARRAY, exploded
    # JVM-side — measured 2.3→2.0 s at sf0.1 and 15.6→9.8 s at 10×,
    # identical pairs.  (Two earlier variants measured SLOWER and were
    # rejected: localCheckpoint-pinned buckets, and building per-shingle
    # ROWS inside the Arrow pass — the explode belongs JVM-side.)
    from .textstats import _persist_spillable

    ex = _shingle_codes_arrow(df, id_col, text_col, n).select(
        "id", F.explode("codes").alias("shingle")
    )
    buckets = ex.groupBy("shingle").agg(F.sort_array(F.collect_list("id")).alias("ids"))
    if max_df is not None:
        buckets = buckets.filter(F.size("ids") <= max_df)
    # ONE execution of the shingle→bucket pipeline (round 10, guide §2.4):
    # three subtrees consume ``buckets`` — the pair expansion and BOTH
    # sizes join sides — and without a persist each re-ran the Arrow
    # shingle pass + bucket exchange from the corpus (the 10× plan showed
    # three identical Scan→MapInPandas→ObjectHashAggregate chains; the
    # differing downstream projections defeat ReuseExchange).
    buckets = _persist_spillable(buckets)
    # n_sh counts the doc's surviving shingles — singleton buckets count
    # toward the union size even though they can never produce a pair
    sizes = (
        buckets.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    pair_structs = ordered_pairs(
        F.col("ids"),
        lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
    )
    # strict id_a < id_b: two distinct shingles of one doc colliding to the
    # same md5-mod code would put that id twice in the sorted bucket list,
    # and the slice expansion would emit a self-pair
    pairs = (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.id_a") < F.col("p.id_b"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    # EXPLICIT broadcast of the doc-grain sizes table (guide §3.1): size
    # estimates after the MapInPandas + aggregate chain are garbage, and
    # Spark picked the PAIR aggregate (30M rows at 10×, ~1 GB true size)
    # as the broadcast side — collecting it to the driver and shipping it
    # to every task.  ``sizes`` is one 16-byte row per document — the
    # provably smaller side (pair grain ≥ doc grain).  At true 100 TB a
    # corpus-grain broadcast no longer fits (8 GB relation cap); there
    # the hint must come off so both joins fall back to a shuffle join
    # on the id key — pairs is already id-partitioned from its own
    # aggregate, so one side of each join exchange is free.
    j = pairs.join(
        F.broadcast(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
        ),
        "id_a",
    ).join(
        F.broadcast(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
        ),
        "id_b",
    )
    return (
        j.withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


N_MINHASH = 32
LSH_BANDS = 8  # 8 bands × 4 rows: P(collide) = 1-(1-j^4)^8 ≈ .5 at j≈.55


def _shingle_codes_arrow(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, codes array<long>) via one Arrow pass over ``_py_shingle_codes``
    — replaces the interpreted ``transform(word_shingles, token_code)``
    expression chain (HOFs are not codegen'd).  The input is
    salt-repartitioned so the Python md5 work spreads across the session's
    parallelism instead of following the parquet file layout.  The
    partition COUNT is explicit: ``repartition(expr)`` without a count is
    AQE-coalescible, and a few-MB text batch gets squeezed onto 1–2 tasks
    — the byte-sized plan hides the CPU-bound Python work behind it."""
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(df.sparkSession)
    in_df = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    par = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    in_df = in_df.repartition(par, F.pmod(F.xxhash64("id"), F.lit(par)))
    schema = T.StructType(
        [
            T.StructField("id", in_df.schema["id"].dataType),
            T.StructField("codes", T.ArrayType(T.LongType())),
        ]
    )

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "codes": [_py_shingle_codes(t, n) for t in pdf["text"]],
                }
            )

    return in_df.mapInPandas(gen, schema)


def _py_shingle_codes(text: str | None, n: int = 3) -> list[int]:
    """Python replica of ``word_shingles`` + ``token_code``: distinct word
    n-grams of whitespace-split trimmed text (short docs → the whole text
    as one shingle; slice-past-end truncates), each coded as the first 15
    hex digits of its md5, mod 1e9+7.  Matches the Catalyst expressions
    and the DuckDB oracle SQL symbol-for-symbol — verified by the green
    hash checks on every shingle-consuming query."""
    import hashlib
    import re

    toks = re.split(r"\s+", (text or "").strip())
    upper = max(len(toks) - n + 1, 1)
    grams = dict.fromkeys(" ".join(toks[i : i + n]) for i in range(upper))
    return [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % MOD for g in grams
    ]


def banded_minhash(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    include_sig: bool = True,
) -> DataFrame:
    """(id, sig, bucket) banded minhash rows: 32-permutation MinHash
    signatures over word-shingle sets, exploded into LSH band buckets.

    The whole per-document chain — shingling, md5 coding, the 32
    permutation-min reductions — runs in ONE Arrow ``mapInPandas`` pass:
    plain int64 ``(a·code + b) mod p`` arithmetic, so results are
    bit-identical to the expression form and the DuckDB oracle.  The
    expression alternative (`transform`/`array_min`/`array_distinct`
    chains) is interpreted per element — Spark does not codegen
    higher-order functions — and measured ~2.7 s of the 5.7 s sf0.1 query
    before the move.  Band buckets are the same md5-of-joined-values
    strings the expression form emits.

    ``include_sig=False`` drops the ``sig`` column from the output
    (guide §4.1: Spark cannot prune columns INSIDE an opaque
    ``mapInPandas``, so a caller that only needs ``(id, bucket)`` would
    otherwise pay for building and Arrow-serializing the 32-long
    signature LSH_BANDS times per document).  Bucket values are
    identical either way — the signature is still computed once per doc
    to derive the band keys; only the duplicated per-band emission is
    skipped.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(df.sparkSession)
    coeffs = [((2 * i + 1) * 2654435761 % MOD, (i * i + i + 41) % MOD) for i in range(N_MINHASH)]
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    rows_per_band = N_MINHASH // LSH_BANDS

    in_df = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    id_type = in_df.schema["id"].dataType
    fields = [T.StructField("id", id_type)]
    if include_sig:
        fields.append(T.StructField("sig", T.ArrayType(T.LongType())))
    fields.append(T.StructField("bucket", T.StringType()))
    out_schema = T.StructType(fields)

    def gen(batches):
        for pdf in batches:
            ids, sigs, buckets = [], [], []
            for id_, text in zip(pdf["id"], pdf["text"]):
                c = np.asarray(_py_shingle_codes(text, n), dtype=np.int64)
                mh = ((A * c[None, :] + B) % MOD).min(axis=1)
                for b in range(LSH_BANDS):
                    seg = mh[b * rows_per_band : (b + 1) * rows_per_band]
                    key = ",".join([str(b)] + [str(int(v)) for v in seg])
                    ids.append(id_)
                    if include_sig:
                        sigs.append(mh)
                    buckets.append(hashlib.md5(key.encode()).hexdigest())
            out = {"id": ids}
            if include_sig:
                out["sig"] = sigs
            out["bucket"] = buckets
            yield pd.DataFrame(out)

    return in_df.mapInPandas(gen, out_schema)


def _est_jaccard(sig_a, sig_b):
    return F.round(
        F.size(F.filter(F.zip_with(sig_a, sig_b, lambda p, q: p == q), lambda v: v))
        / F.lit(N_MINHASH),
        6,
    )


def incremental_minhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between an incoming BATCH and the existing CORPUS —
    the incremental form of ``minhash_lsh_pairs`` a streaming corpus needs:
    dedup each arriving batch against 100 TB of history WITHOUT ever
    re-pairing the history with itself.

    The corpus side is signed and banded exactly once per document (in
    production the (id, sig, bucket) rows live in a bucketed signature
    table, maintained incrementally by the same expressions); the batch's
    banded signatures broadcast, so the corpus scan is exchange-free and
    history cost is O(corpus) scan, not O(corpus²) pairing.  Returns
    (batch_id, corpus_id, est_jaccard).
    """
    c = banded_minhash(corpus, id_col, text_col).select(
        F.col("id").alias("corpus_id"), F.col("sig").alias("sig_c"), "bucket"
    )
    b = banded_minhash(batch, id_col, text_col).select(
        F.col("id").alias("batch_id"), F.col("sig").alias("sig_b"), "bucket"
    )
    return (
        c.join(F.broadcast(b), "bucket")
        .select(
            "batch_id",
            "corpus_id",
            _est_jaccard(F.col("sig_b"), F.col("sig_c")).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["batch_id", "corpus_id"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified by
    estimated Jaccard (fraction of agreeing minhashes).

    Scale path: documents never self-join on raw shingles — and never
    self-join at all.  Each doc emits LSH_BANDS (bucket, id, sig) rows; one
    groupBy collects each bucket's members and in-bucket pairs are generated
    with nested array transforms, so the (expensive) signature subtree is
    evaluated ONCE and the only exchange is the bucket groupBy carrying
    32 bigints per (doc, band).  A two-sided self-join would evaluate the
    signatures twice and shuffle the same bytes twice.

    A bucket holds docs whose band signature agrees exactly, so bucket
    sizes track true duplicate-cluster sizes.  For degenerate corpora
    (millions of identical docs → one giant bucket → quadratic pair list
    on a single task), ``max_bucket`` drops buckets larger than the cap —
    the standard LSH guard, ON by default (a 10k-member bucket means 50M
    pairs on one task; buckets that big are exact-duplicate clusters that
    the cheaper hash-based ``dedup_exact`` should absorb first).
    Pass ``None`` for the unguarded exact semantics (test-only at scale).
    Returns (id_a, id_b, est_jaccard).
    """
    bands_long = banded_minhash(df, id_col, text_col, n)
    grouped = (
        bands_long.groupBy("bucket")
        .agg(F.sort_array(F.collect_list(F.struct("id", "sig"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("members") <= max_bucket)
    # all i<j member pairs, est_jaccard computed in place (sort_array orders
    # by id, so pairs come out id_a < id_b)
    pair_structs = ordered_pairs(
        F.col("members"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            _est_jaccard(x["sig"], y["sig"]).alias("est_jaccard"),
        ),
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.est_jaccard")
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def neardup_drop_list(pairs: DataFrame) -> DataFrame:
    """Turn near-dup pairs (``id_a < id_b``) into the pipeline's decision:
    which documents to DROP, and which survivor each one maps to.

    One-hop canonicalization — a doc that matched any smaller-id doc is
    dropped in favor of its smallest match.  (Full transitive clustering
    is iterated min-propagation; one hop is the standard first pass and
    what bounded-candidate LSH output supports without iteration.)  A
    single partial-agg ``min`` per dropped doc: the shuffle carries two
    ints per pair, nothing document-sized.
    """
    return (
        pairs.groupBy(F.col("id_b").alias("id"))
        .agg(F.min("id_a").alias("canonical_id"))
    )


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Transitive near-dup clustering: connected components over the pair
    graph by iterative min-label propagation.  Returns (id, component_id)
    for every doc that appears in a pair, where component_id is the
    smallest doc id reachable through any chain of near-dup links — the
    canonical survivor of the whole cluster (``neardup_drop_list`` is the
    one-hop approximation of this).

    Iterative algorithm on Spark: each sweep is join(edges, labels) →
    min-per-dst → merge, i.e. two key exchanges over the PAIR LIST — never
    the corpus, and the pair list is duplicate-rate-sized.  Lineage is cut
    with ``localCheckpoint`` every sweep (on a cluster, set a checkpoint
    dir and use ``checkpoint`` for fault tolerance); sweeps needed =
    cluster diameter, which for dedup graphs is tiny — convergence is
    detected and the loop exits early.
    """
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionAll(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("lab", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["a"] == labels["id"])
            .groupBy(F.col("b").alias("nid"))
            .agg(F.min("lab").alias("nlab"))
        )
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["nid"], "left")
            .select(
                F.col("id"),
                F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias("lab"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("lab").alias("component_id"))


def _py_token_codes(text: str | None) -> list[int]:
    """Python replica of ``split(trim(lower(text)), '\\s+')`` +
    ``token_code`` (md5 prefix mod 1e9+7) — matches the Catalyst
    expressions and the DuckDB oracle symbol-for-symbol, verified by the
    green hash checks on every simhash query."""
    import hashlib
    import re

    toks = re.split(r"\s+", (text or "").lower().strip())
    return [
        int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % MOD for t in toks
    ]


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-document SimHash over word tokens (near-dup fingerprint).

    Bit b of the fingerprint is 1 iff more token codes have bit b set than
    unset.  Hamming-close fingerprints → near-duplicates; at scale, group
    by fingerprint prefix buckets to find candidates without a cross join.

    The whole per-document chain — tokenize, md5 coding, the per-bit
    majority votes — runs in ONE Arrow ``mapInPandas`` pass as a numpy
    bit-matrix popcount, the same shape as ``banded_minhash``.  The
    expression form (``bits`` × ``F.filter`` passes over the code array)
    is interpreted per element — Spark does not codegen higher-order
    functions — and measured 8.7 s vs 0.6 s at sf0.1 (5k docs, identical
    fingerprints).  The input is salt-repartitioned so the Python work
    spreads across the session's parallelism instead of following the
    (often single-file) parquet layout.
    """
    import numpy as np
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(df.sparkSession)
    shifts = np.arange(bits, dtype=np.int64)
    in_df = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    par = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # explicit partition count — AQE would coalesce a countless
    # repartition(expr) of small text batches onto 1-2 tasks and serialize
    # the CPU-bound Python pass
    in_df = in_df.repartition(par, F.pmod(F.xxhash64("id"), F.lit(par)))
    schema = T.StructType(
        [
            T.StructField(id_col, in_df.schema["id"].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def compute(batches):
        for pdf in batches:
            ids, fps = [], []
            for id_, text in zip(pdf["id"], pdf["text"]):
                c = np.asarray(_py_token_codes(text), dtype=np.int64)
                votes = ((c[:, None] >> shifts) & 1).sum(axis=0)
                fp = int(
                    (np.where(votes * 2 > len(c), 1, 0).astype(np.int64) << shifts).sum()
                )
                ids.append(id_)
                fps.append(fp)
            yield pd.DataFrame({id_col: ids, "simhash": fps})

    return in_df.mapInPandas(compute, schema)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    The classic Manku/Jain/Das Sarma trick: split the 32-bit
    fingerprint into ``max_hamming + 1`` bands — two fingerprints within
    Hamming distance k MUST agree exactly on at least one band (pigeonhole),
    so candidates meet in (band, band_value) buckets and the only exchange
    is the bucket groupBy carrying (id, fingerprint).  Exact
    ``bit_count(xor)`` verification re-scores every candidate, so banding
    never admits a false positive; unlike minhash/hyperplane LSH it also
    never MISSES a pair — the result is exactly all pairs at distance ≤ k.
    ``max_bucket`` is the usual degenerate-corpus guard.  Returns
    (id_a, id_b, hamming).
    """
    n_bands = max_hamming + 1
    band_bits = 32 // n_bands
    mask = (1 << band_bits) - 1
    fps = simhash(df, id_col, text_col)
    bands = fps.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("id", "simhash", F.col("bs.band").alias("band"), F.col("bs.val").alias("val"))
    grouped = (
        bands.groupBy("band", "val")
        .agg(F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("members") <= max_bucket)
    pair_structs = ordered_pairs(
        F.col("members"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
            .cast("bigint")
            .alias("hamming"),
        ),
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def incremental_dedup_exact(
    corpus: DataFrame,
    batch: DataFrame,
) -> DataFrame:
    """Exact dedup of an arriving BATCH against the existing CORPUS —
    the streaming-ingest complement of ``dedup_exact`` (as
    ``incremental_minhash_pairs`` is to ``minhash_lsh_pairs``).

    Survivors = batch rows that are (a) the smallest-id copy of their
    digest within the batch and (b) whose digest does not already exist
    in the corpus.  The corpus contributes ONLY distinct 16-byte digests
    (in production, a maintained digest table): one map-side-combined
    aggregate over history and an anti-join whose key is the digest —
    history text never moves, and re-delivered batches are idempotent.
    """
    fp = F.md5(norm_text("text")).alias("__fp")
    batch_best = (
        batch.select(F.col("doc_id"), fp, F.col("text"))
        .groupBy("__fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
        )
    )
    corpus_fps = corpus.select(fp).distinct()
    return batch_best.join(corpus_fps, "__fp", "left_anti").select("doc_id", "text")


def canonical_per_component(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Pick the canonical SURVIVOR of each near-dup cluster by quality,
    not by smallest id: per ``component_id``, the member with the highest
    ``score_col`` (ties -> smallest id), plus the cluster size and best
    score.  This is the keep-decision step after ``neardup_components`` —
    a corpus dedup pass keeps one high-quality representative per cluster
    instead of an arbitrary one.

    Plan: one join of the (duplicate-rate-sized) component list against
    the doc scores, then a single partial-aggregable ``max_by`` groupBy —
    the shuffle carries (component_id, id, score) triples, never document
    bodies.  No windows.
    """
    members = components.join(
        docs.select(F.col(id_col).alias("id"), F.col(score_col).alias("score")),
        "id",
    )
    return members.groupBy("component_id").agg(
        F.max_by(
            "id", F.struct(F.col("score"), (-F.col("id")).alias("nid"))
        ).alias("canonical_id"),
        F.count("*").alias("n_members"),
        F.max("score").alias("best_score"),
    )


def drop_rate_by_key(
    docs: DataFrame,
    drops: DataFrame,
    key_col: str,
) -> DataFrame:
    """Dedup observability: per ``key_col`` (source, language, shard…),
    how many documents the near-dup drop list removes and the drop rate —
    the report a corpus pipeline publishes after every dedup pass, and the
    first place collection bugs (a crawler re-ingesting one site) surface.

    The drop list is duplicate-rate-sized, so it reaches the corpus as a
    broadcast left join; one group aggregate follows.
    """
    flagged = docs.join(
        F.broadcast(drops.select(F.col("id"), F.lit(1).alias("dropped"))),
        "id",
        "left",
    )
    return flagged.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.coalesce(F.col("dropped"), F.lit(0))).cast("bigint").alias("n_dropped"),
        F.round(
            F.sum(F.coalesce(F.col("dropped"), F.lit(0))) / F.count("*"), 6
        ).alias("drop_rate"),
    )


def blocking_quality(
    candidates: DataFrame,
    truth: DataFrame,
    n_records: int | None = None,
    records: DataFrame | None = None,
) -> DataFrame:
    """Record-linkage blocking evaluation (Christen, "Data Matching"):
    given the candidate pairs a blocking scheme (LSH bands, sorted
    neighborhood…) generated and the ground-truth duplicate pairs, report

    - pairs completeness (recall): |candidates ∩ truth| / |truth| — what
      the blocker may have LOST;
    - reduction ratio: 1 − |candidates| / (n·(n−1)/2) — what it saved vs
      the quadratic all-pairs comparison.

    The two numbers are the tradeoff every dedup-at-scale config tunes
    (tighter buckets → higher reduction, lower completeness).  Both
    inputs are pair lists (duplicate-rate-sized); the overlap join and
    counts never touch record bodies.  Pass ``n_records`` as a known
    constant, or a ``records`` frame — counted INSIDE the plan as a
    broadcast 1-row aggregate, never an eager driver count.
    """
    cand = candidates.select("id_a", "id_b")
    tr = truth.select("id_a", "id_b")
    found = tr.join(cand, ["id_a", "id_b"], "left_semi")
    stats = (
        tr.agg(F.count("*").alias("n_truth"))
        .crossJoin(F.broadcast(found.agg(F.count("*").alias("n_found"))))
        .crossJoin(F.broadcast(cand.agg(F.count("*").alias("n_candidates"))))
    )
    if n_records is not None:
        stats = stats.withColumn("n_rec", F.lit(n_records).cast("bigint"))
    elif records is not None:
        stats = stats.crossJoin(
            F.broadcast(records.agg(F.count("*").cast("bigint").alias("n_rec")))
        )
    else:
        raise ValueError("pass n_records or records")
    total_pairs = (F.col("n_rec") * (F.col("n_rec") - 1) / F.lit(2.0))
    return stats.select(
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("n_found").cast("bigint").alias("n_found"),
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.round(F.col("n_found") / F.col("n_truth"), 6).alias("pairs_completeness"),
        F.round(
            F.lit(1.0) - F.col("n_candidates") / total_pairs, 6
        ).alias("reduction_ratio"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 15,
) -> DataFrame:
    """CCNet-style paragraph-grain corpus dedup: split each document into
    fixed ``width``-token paragraphs, keep only the globally FIRST
    occurrence of each distinct paragraph (ordered by (id, position)), and
    reassemble documents from their surviving paragraphs in original order.

    This is the paragraph dedup step the big web-corpus pipelines run
    before document-level near-dup (CCNet / RefinedWeb): a span repeated
    verbatim anywhere else in the corpus is dropped from every later
    occurrence, which kills mirrored articles, quoted reposts, and chrome
    that document-level MinHash leaves behind.  Generalizes the
    reference's exact keep-first dedup (run_job_filter.py:368) from
    row grain to paragraph grain.

    Plan shape (100 TB): paragraph TEXT never enters a shuffle — each
    paragraph is coded to a 60-bit md5 prefix array-side, and the only
    wide exchanges carry (code, id, pos) triples: one partial-aggregated
    groupBy on the code picks each paragraph's global winner via
    ``min(struct(id, pos))`` (map-side combine, no window sort), one
    id-key aggregate folds winner positions per document, and one join
    back to the corpus re-slices the original token array with a pure
    array expression.  Skew-safe: a boilerplate paragraph shared by
    millions of docs still aggregates to ONE winner row map-side.
    """
    toks = tokens(F.col(text_col))
    n_paras = F.ceil(F.size("__toks") / F.lit(width)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), F.col("__n") - 1),
        lambda i: F.array_join(F.slice("__toks", i * width + 1, width), " "),
    )
    base = (
        df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
        .withColumn("__n", n_paras)
        .withColumn("__paras", paras)
    )
    ex = base.select("id", F.posexplode(
        F.transform("__paras", lambda p: F.conv(F.substring(F.md5(p), 1, 15), 16, 10).cast("bigint"))
    ).alias("pos", "code"))
    winners = ex.groupBy("code").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("w")
    )
    keep = (
        winners.select(F.col("w.id").alias("id"), F.col("w.pos").alias("pos"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__keep"))
    )
    joined = base.join(keep, "id", "left")
    keep_arr = F.coalesce(F.col("__keep"), F.array().cast("array<int>"))
    return joined.select(
        F.col("id").alias(id_col),
        F.array_join(
            F.transform(keep_arr, lambda i: F.get("__paras", i)), " "
        ).alias("clean_text"),
        F.col("__n").cast("bigint").alias("n_paras"),
        F.size(keep_arr).cast("bigint").alias("n_kept"),
    )


def prefix_clone_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Pairs of documents sharing an identical first-``k``-token prefix —
    the cheap head-clone detector (truncated mirrors, templated articles,
    and re-crawls share heads verbatim long before MinHash fires).
    Complements ``ngram_jaccard_pairs``: one code per document instead of
    one per shingle, so the detector costs a map pass plus one tiny
    exchange — run it FIRST and feed only survivors to the expensive
    near-dup passes.

    Plan shape (100 TB): each doc emits a single 60-bit md5 prefix code
    (never the prefix text); one partial-aggregated groupBy folds ids per
    code; pairs expand in-bucket via array expressions (no self-join) with
    a strict id_a < id_b guard; ``max_bucket`` caps degenerate heads
    (boilerplate cover pages) exactly like the other banded dedup paths.
    Docs with fewer than ``k`` tokens are excluded (their "prefix" is the
    whole doc — that's exact dedup's job, not this operator's).
    """
    toks = tokens(F.col(text_col))
    code = F.conv(
        F.substring(F.md5(F.array_join(F.slice("__t", 1, k), " ")), 1, 15), 16, 10
    ).cast("bigint")
    coded = (
        df.select(F.col(id_col).alias("id"), toks.alias("__t"))
        .filter(F.size("__t") >= k)
        .select("id", code.alias("code"))
    )
    buckets = coded.groupBy("code").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pair_structs = ordered_pairs(
        F.col("ids"),
        lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
    )
    return (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.id_a") < F.col("p.id_b"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
    )


def bow_fingerprint_dedup(
    df: DataFrame,
) -> DataFrame:
    """Order-insensitive exact dedup: fingerprint = md5 of the SORTED
    lowercase token multiset, keep the smallest id per fingerprint.
    Catches the dup class ``dedup_exact`` structurally cannot — word-order
    shuffles (scraped lists re-sorted, templated reorderings) — while
    staying exact: same tokens, same counts, any order → one survivor.

    Plan shape (100 TB): fingerprint is a map-only expression
    (split/sort/hash per row, no vocabulary state); survivor choice is a
    partial-aggregated min/min_by groupBy on the 16-byte digest — the
    same exchange discipline as ``dedup_exact``, bodies shuffle only as
    the single surviving text per digest per map partition.
    """
    fp = F.md5(
        F.array_join(F.sort_array(tokens(F.lower(F.col("text")))), " ")
    )
    return (
        df.select(F.col("doc_id"), fp.alias("__fp"), F.col("text"))
        .groupBy("__fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
            F.count("*").cast("bigint").alias("n_dups"),
        )
        .select("doc_id", "text", "n_dups")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
) -> DataFrame:
    """Directed near-duplicate pairs by n-gram CONTAINMENT —
    |A∩B| / |A| — the asymmetric companion to ``ngram_jaccard_pairs``:
    a 50-token excerpt quoted inside a 5000-token article has containment
    ≈ 1.0 but Jaccard ≈ 0.01, so symmetric dedup never sees it.  This is
    how excerpt/quote/subset duplication is actually caught.

    Output is directed: (src, dst, containment) = how much of ``src``'s
    shingle set lives inside ``dst``; both directions are emitted when
    both clear the threshold.

    Plan shape (100 TB): identical to the jaccard path — one Arrow
    shingle-code pass, one bucket groupBy with the ``max_df`` hot-shingle
    cap, in-bucket array pair expansion, sizes joined back — the only
    change is the final arithmetic (divide by the SRC size instead of
    the union).
    """
    from .textstats import _persist_spillable

    ex = _shingle_codes_arrow(df, id_col, text_col, n).select(
        "id", F.explode("codes").alias("shingle")
    )
    buckets = ex.groupBy("shingle").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    if max_df is not None:
        buckets = buckets.filter(F.size("ids") <= max_df)
    # shared-bucket persist + explicit sizes broadcast: same round-10
    # plan fixes as ``ngram_jaccard_pairs`` (see there — one shingle
    # pipeline execution instead of three; stop Spark broadcasting the
    # pair-grain aggregate off a garbage post-Python size estimate)
    buckets = _persist_spillable(buckets)
    sizes = (
        buckets.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    pair_structs = ordered_pairs(
        F.col("ids"),
        lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
    )
    pairs = (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.id_a") < F.col("p.id_b"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    j = pairs.join(
        F.broadcast(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
        ),
        "id_a",
    ).join(
        F.broadcast(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
        ),
        "id_b",
    )
    # both directions emitted from ONE pass over the joined pairs: the
    # previous fwd/rev unionByName re-executed the whole pair pipeline
    # once per direction (two independent subtrees — round 10, guide
    # §2.4); a 2-element array explode is a codegen generator and emits
    # the identical rows
    both = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("dst"),
                    F.round(F.col("common") / F.col("n_a"), 6).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("dst"),
                    F.round(F.col("common") / F.col("n_b"), 6).alias("containment"),
                ),
            )
        ).alias("e")
    )
    return both.select("e.src", "e.dst", "e.containment").filter(
        F.col("containment") >= threshold
    )


def lsh_sensitivity_curve(
    spark,
):
    """The analytic S-curve of the configured MinHash-LSH scheme:
    P(candidate | jaccard = s) = 1 − (1 − s^r)^b with r = N_MINHASH /
    LSH_BANDS rows per band — the operating-point table that says, for the
    banding this engine actually runs (32 hashes, 8×4 default), which
    similarity levels are reliably caught and which slip through.  The
    companion MEASURED number is ``dedup_pair_recall``; this is the
    theoretical curve it should track.

    Powers are expanded to literal multiplication chains (s*s*s*s), not
    ``pow`` — libm pow differs across engines in the last ulp (verify
    skill, round-4 pitfalls), a plain multiply does not.

    Output: ``(s, p_band, p_detect)`` per similarity grid point.
    """
    r = N_MINHASH // LSH_BANDS
    s = F.round(F.col("id").cast("double") * F.lit(0.05), 2)
    grid = spark.range(1, 20).select(s.alias("s"))
    p_band = F.col("s")
    for _ in range(r - 1):
        p_band = p_band * F.col("s")
    miss = F.lit(1.0) - p_band
    p_miss_all = miss
    for _ in range(LSH_BANDS - 1):
        p_miss_all = p_miss_all * miss
    return grid.select(
        "s",
        F.round(p_band, 6).alias("p_band"),
        F.round(F.lit(1.0) - p_miss_all, 6).alias("p_detect"),
    )


def source_jaccard_matrix(
    df: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Source-level content similarity via MERGEABLE MinHash: a source's
    signature component i is min over ALL its docs' shingle codes of
    (aᵢ·code + bᵢ) mod M — min-of-mins, so signatures aggregate in one
    groupBy without ever materializing a source's shingle set.  Pairwise
    signature agreement estimates the shingle-set Jaccard between
    sources — the "which feeds mirror each other" rollup that doc-grain
    near-dup can't see cheaply.

    Same permutation family as the doc-grain LSH
    (``minhash_signatures``), all engine-portable integer arithmetic.
    Shingle identity is the base-31 POLYNOMIAL of per-token codes (the
    ``repeated_ngram_stats`` integer-gram recipe: one md5 per TOKEN,
    never a materialized gram string — round 6 moved this operator off
    md5-per-gram-string, which was its dominant cost).  A gram-code
    collision only perturbs one min-of-mins estimate and the oracle
    replays the identical arithmetic, so parity stays exact.

    Output: ``(source_a, source_b, n_perms, est_jaccard)`` for a < b.

    Plan / 100 TB: one explode to (source, shingle-code) grain whose
    groupBy computes all ``N_MINHASH`` mins with map-side partials; the
    signature self-join runs at source×perm grain (dimension-sized).
    """
    from ..functions.hashing import BASE, token_code

    coeffs = [
        ((2 * i + 1) * 2654435761 % MOD, (i * i + i + 41) % MOD)
        for i in range(N_MINHASH)
    ]
    toks = tokens(F.col("text"))
    staged = df.select(F.col("source").alias("src"), toks.alias("__toks")).select(
        "src",
        F.transform("__toks", token_code).alias("__codes"),
        F.size("__toks").alias("__nt"),
    )

    def gram_at(i):
        # polynomial over tokens i..min(i+n-1, nt): short documents keep
        # the old string-gram behavior (position 1 emits whatever exists)
        acc = F.element_at(F.col("__codes"), i)
        for j in range(1, n):
            acc = F.when(
                i + F.lit(j) <= F.col("__nt"),
                (acc * F.lit(BASE) + F.element_at(F.col("__codes"), i + F.lit(j)))
                % F.lit(MOD),
            ).otherwise(acc)
        return acc

    grams = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.col("__nt") - F.lit(n - 1), F.lit(1))
            ),
            gram_at,
        )
    )
    codes = staged.select("src", F.explode(grams).alias("c"))
    # The N_MINHASH aggregate/struct expressions are built as SQL strings:
    # one py4j round-trip each instead of ~6 Column-API calls — with 128
    # perms the Column-API loop cost ~0.9 s of driver-side build time per
    # invocation vs ~0.3 s for the string form (measured sf0.1, identical
    # output; the executed plan is the same either way).
    sig = codes.groupBy("src").agg(
        *[
            F.expr(f"min(({a}L * c + {b}L) % {MOD}L)").alias(f"m{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    perm_arr = (
        "array("
        + ",".join(f"struct({i} as perm, m{i} as mh)" for i in range(N_MINHASH))
        + ")"
    )
    long = sig.select(
        "src", F.expr(f"explode({perm_arr})").alias("pm")
    ).select("src", F.col("pm.perm").alias("perm"), F.col("pm.mh").alias("mh"))
    a = long.select(
        F.col("src").alias("sa"), "perm", F.col("mh").alias("ma")
    )
    b = long.select(
        F.col("src").alias("sb"), "perm", F.col("mh").alias("mb")
    )
    pairs = a.join(b, "perm").filter(F.col("sa") < F.col("sb"))
    return pairs.groupBy(
        F.col("sa").alias("source_a"), F.col("sb").alias("source_b")
    ).agg(
        F.count("*").cast("bigint").alias("n_perms"),
        F.round(
            F.sum((F.col("ma") == F.col("mb")).cast("long")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("est_jaccard"),
    )


def chunk_stitch_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    max_df: int | None = 1000,
) -> DataFrame:
    """Crawl-fragment stitching candidates: pairs of documents where the
    LAST ``k`` tokens of one exactly equal the FIRST ``k`` tokens of
    another — the signature a document leaves when a crawler or chunker
    split it mid-stream with overlap.  Re-assembling such fragments
    before dedup/packing is standard corpus reconstruction (the inverse
    of ``chunk_documents``).

    Output: ``(prev_id, next_id, boundary)`` — the shared k-token
    boundary string; self-pairs excluded.  Documents shorter than ``k``
    tokens carry no full boundary gram and never pair.

    ``max_df`` is the hot-boundary guard, ON by default (the
    ``ngram_jaccard_pairs`` cap): a boilerplate opening shared by
    millions of documents would otherwise make the head-side bucket a
    quadratic pair factory.  Capped boundaries are dropped from BOTH
    sides — a boundary that common is template, not a split point.

    Plan / 100 TB: each document emits ONE head row and ONE tail row
    (map-only slices, no explode); the only exchange is the equi-join on
    the boundary string, with the head side aggregated to
    (boundary → ids) buckets first so the cap applies before any pair
    fans out.
    """
    toks = tokens(F.lower(F.col(text_col)))
    staged = df.select(
        F.col(id_col).alias("id"), toks.alias("__t")
    ).filter(F.size("__t") >= k)
    heads = staged.select(
        "id", F.concat_ws(" ", F.slice("__t", 1, k)).alias("boundary")
    )
    tails = staged.select(
        "id",
        F.concat_ws(" ", F.slice("__t", F.size("__t") - (k - 1), k)).alias(
            "boundary"
        ),
    )
    buckets = heads.groupBy("boundary").agg(F.collect_list("id").alias("__ids"))
    if max_df is not None:
        buckets = buckets.filter(F.size("__ids") <= max_df)
    return (
        tails.join(buckets, "boundary")
        .select(
            F.col("id").alias("prev_id"),
            F.explode("__ids").alias("next_id"),
            "boundary",
        )
        .filter(F.col("prev_id") != F.col("next_id"))
    )


def minhash_threshold_sweep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Threshold sensitivity for MinHash near-dedup: how many candidate
    pairs survive at each estimated-Jaccard cutoff — the curve read
    before committing a dedup threshold (too low merges topical
    neighbors, too high leaves boilerplate clones).

    Output: one row per threshold — ``(threshold, n_pairs)``.

    Plan / 100 TB: signatures, banding, and candidate generation run
    ONCE at the lowest requested threshold; the sweep is then a
    conditional count over the candidate-pair frame (pair-grain — the
    duplicate-rate-sized table, never the corpus).
    """
    lo = min(thresholds)
    pairs = minhash_lsh_pairs(
        df, id_col=id_col, text_col=text_col, threshold=lo,
    )
    ts = F.array(*[F.lit(round(float(t), 6)) for t in sorted(thresholds)])
    return (
        pairs.select(F.explode(ts).alias("threshold"), "est_jaccard")
        .groupBy("threshold")
        .agg(
            F.sum((F.col("est_jaccard") >= F.col("threshold")).cast("int"))
            .cast("bigint")
            .alias("n_pairs")
        )
    )


def cross_source_dup_matrix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate FLOW between sources: for every near-dup pair, the
    (source, source) cell it falls in — the provenance matrix that shows
    which feeds mirror which (a mirror site shows up as an off-diagonal
    spike; within-source templates as a heavy diagonal).

    Output: ``(source_a, source_b, n_pairs)`` with the two sources
    ordered lexicographically so each unordered cell counts once.

    Plan / 100 TB: the pair list (duplicate-rate-sized) joins the
    id→source projection twice on the id key — the corpus text never
    joins anything; source-grain aggregate with map-side partials.
    """
    pairs = minhash_lsh_pairs(
        df, id_col=id_col, text_col=text_col, threshold=threshold,
    )
    src_a = df.select(F.col(id_col).alias("id_a"), F.col(source_col).alias("__sa"))
    src_b = df.select(F.col(id_col).alias("id_b"), F.col(source_col).alias("__sb"))
    return (
        pairs.join(src_a, "id_a")
        .join(src_b, "id_b")
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def lsh_param_plan(
    spark,
    threshold: float = 0.5,
    candidates: tuple[tuple[int, int], ...] = (
        (4, 4), (8, 4), (16, 2), (8, 8), (32, 2), (16, 4), (4, 8), (2, 16),
    ),
    grid_step: float = 0.05,
) -> DataFrame:
    """ANALYTIC (bands, rows) planner for MinHash LSH — the design-time
    complement of the MEASURED ``lsh_sensitivity_curve``: for each
    candidate banding, integrate the collision curve
    P(s) = 1 − (1 − s^r)^b against the target Jaccard ``threshold`` —
    false-positive area below it, false-negative area above — and flag
    the cost-minimizing setting.  This is the table that justifies the
    registry's own 8×4 default before any data is touched.

    Output per candidate: ``(bands, rows, n_hashes, fp_area, fn_area,
    cost, is_best)``; cost = fp_area + fn_area, ties → fewer hashes,
    then more bands.

    Plan: pure model arithmetic — a (candidate × grid-midpoint) literal
    expansion of a few hundred rows; nothing reads data at all.  Powers
    go through exp/ln on 9-dp-rounded arguments so both engines replay
    the same curve.
    """
    from pyspark.sql import Window as W

    n_mid = int(round(1.0 / grid_step))
    cand_rows = spark.createDataFrame(
        [(int(b), int(r)) for b, r in candidates], ["bands", "rows"]
    )
    mids = spark.range(n_mid).select(
        ((F.col("id") + 0.5) * F.lit(float(grid_step))).alias("s")
    )
    grid = cand_rows.crossJoin(mids)
    # P(s) = 1 - (1 - s^r)^b with exp/ln powers, rounded at each stage
    sr = F.round(F.exp(F.col("rows") * F.log(F.col("s"))), 9)
    p = F.round(
        1.0 - F.exp(F.col("bands") * F.log(1.0 - sr)), 9
    )
    scored = grid.select(
        "bands", "rows", "s",
        F.when(F.col("s") < F.lit(float(threshold)), p)
        .otherwise(F.lit(0.0)).alias("fp_t"),
        F.when(F.col("s") >= F.lit(float(threshold)), 1.0 - p)
        .otherwise(F.lit(0.0)).alias("fn_t"),
    )
    agg = scored.groupBy("bands", "rows").agg(
        F.round(
            F.sum(F.col("fp_t").cast("decimal(30,10)")).cast("double")
            * F.lit(float(grid_step)),
            6,
        ).alias("fp_area"),
        F.round(
            F.sum(F.col("fn_t").cast("decimal(30,10)")).cast("double")
            * F.lit(float(grid_step)),
            6,
        ).alias("fn_area"),
    )
    agg = agg.select(
        "bands", "rows",
        (F.col("bands") * F.col("rows")).cast("bigint").alias("n_hashes"),
        "fp_area", "fn_area",
        F.round(F.col("fp_area") + F.col("fn_area"), 6).alias("cost"),
    )
    wbest = W.orderBy(
        F.col("cost").asc(), F.col("n_hashes").asc(), F.col("bands").desc()
    )
    return agg.withColumn(
        "is_best", F.row_number().over(wbest) == 1
    ).select(
        F.col("bands").cast("bigint").alias("bands"),
        F.col("rows").cast("bigint").alias("rows"),
        "n_hashes", "fp_area", "fn_area", "cost", "is_best",
    )

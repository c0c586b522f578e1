"""Sequence packing: lay documents end-to-end into fixed-size training
sequences (token budget L per sequence) — the step between a curated
corpus and a token-batch dataloader.

Assignment is contiguous greedy packing over a content-addressed order:
documents are laid out by md5(salt:key), each document starts at the
running token offset, and a document belongs to the sequence where its
first token lands (consumers split stragglers at the boundary).  Because
the order is a pure function of the keys, re-running or repartitioning the
corpus reproduces the identical layout.

Scale shape — a distributed prefix sum, not a global window:
1. in-bucket cumulative sums over ``n_buckets`` hash buckets (window
   partitioned by bucket — every partition fits its slice);
2. per-bucket totals (n_buckets rows) get their own cumulative offset via
   a window over that TINY frame — the only single-partition step touches
   n_buckets rows, never the corpus;
3. bucket offsets broadcast-join back.
The result is bit-identical to one global window ordered by
(bucket, hash, key), which is what the DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket
from ..functions.text import tokens


def pack_sequences(
    df: DataFrame,
    token_col: str,
    key_col: str = "doc_id",
    seq_len: int = 2048,
    salt: str = "pack-v1",
    n_buckets: int = 1024,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each document a (seq_id, seq_offset) slot in the packed
    token stream.  Output: key, n_tokens, seq_id, seq_offset.

    ``carry_cols`` pass extra columns of ``df`` through to the output
    unchanged (per-doc grain is preserved, so this is a pure projection
    widening) — a consumer that needs, say, per-source sequence counts
    then aggregates the packed frame directly instead of re-joining the
    corpus on the key (one fewer corpus-grain exchange; guide §2.4).
    The slot assignment itself is untouched: the layout hash, bucket,
    and prefix sums read only (salt, key, n_tokens)."""
    h = md5_bucket(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string")))
    staged = df.select(
        F.col(key_col),
        F.col(token_col).cast("bigint").alias("n_tokens"),
        h.alias("__h"),
        (h % n_buckets).alias("__b"),
        *[F.col(c) for c in carry_cols],
    )
    w_in = (
        Window.partitionBy("__b")
        .orderBy(F.col("__h").asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = staged.withColumn("__cum", F.sum("n_tokens").over(w_in))

    totals = staged.groupBy("__b").agg(F.sum("n_tokens").alias("__btot"))
    w_b = (
        Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__b", F.coalesce(F.sum("__btot").over(w_b), F.lit(0)).alias("__boff")
    )

    start = F.col("__boff") + F.col("__cum") - F.col("n_tokens")
    return (
        staged.join(F.broadcast(offsets), "__b")
        .select(
            key_col,
            "n_tokens",
            F.floor(start / seq_len).alias("seq_id"),
            (start % seq_len).alias("seq_offset"),
            *carry_cols,
        )
    )


def packing_fragmentation(
    df: DataFrame,
    token_col: str,
    key_col: str = "doc_id",
    seq_len: int = 2048,
    salt: str = "pack-v1",
    n_buckets: int = 1024,
) -> DataFrame:
    """Fragmentation diagnostics for a :func:`pack_sequences` layout — the
    numbers a pretraining run checks before committing to a sequence
    length: how many documents straddle a sequence boundary (their
    attention span gets cut), how many sequences each document touches,
    and the total sequence count the token volume implies.

    Output: ONE row — ``(n_docs, total_tokens, n_seqs, straddled_docs,
    straddle_rate, mean_spans)``.  ``n_seqs = ceil(total/seq_len)`` (the
    stream is contiguous, so the last sequence is the only padded one);
    ``spans`` counts the sequences a document overlaps
    (``1 + floor((offset + tokens - 1) / seq_len)`` relative to its own
    start sequence); zero-token documents occupy no slot and are
    excluded from the span statistics.

    Plan / 100 TB: one pass over the :func:`pack_sequences` output
    (which is itself the distributed prefix sum) into a single global
    aggregate with map-side partials — no new exchange beyond packing's
    own.  The ratios divide exact bigint sums as doubles, rounded once.
    """
    packed = pack_sequences(
        df, token_col, key_col=key_col, seq_len=seq_len, salt=salt,
        n_buckets=n_buckets,
    )
    spans = (
        F.lit(1)
        + F.floor((F.col("seq_offset") + F.col("n_tokens") - 1) / seq_len)
    ).cast("bigint")
    rows = packed.select(
        "n_tokens",
        F.when(F.col("n_tokens") > 0, spans).alias("spans"),
        (
            (F.col("n_tokens") > 0)
            & (F.col("seq_offset") + F.col("n_tokens") > seq_len)
        ).cast("int").alias("straddled"),
    )
    return rows.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.ceil(F.sum("n_tokens").cast("double") / F.lit(float(seq_len)))
        .cast("bigint")
        .alias("n_seqs"),
        F.sum("straddled").cast("bigint").alias("straddled_docs"),
        F.round(
            F.sum("straddled").cast("double")
            / F.sum((F.col("n_tokens") > 0).cast("int")).cast("double"),
            6,
        ).alias("straddle_rate"),
        F.round(
            F.sum("spans").cast("double")
            / F.sum((F.col("n_tokens") > 0).cast("int")).cast("double"),
            6,
        ).alias("mean_spans"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 16,
    stride: int = 12,
) -> DataFrame:
    """Split documents into overlapping token-window chunks (RAG-style
    chunking: window ``chunk_tokens`` wide, advancing by ``stride``, so
    consecutive chunks overlap by ``chunk_tokens - stride``).

    The final window is pulled back to end exactly at the last token, so
    every token is covered and no chunk except a short document's only
    chunk is narrower than the window.  All pure expressions: tokenize →
    compute start positions with ``sequence``+``transform`` → posexplode →
    ``slice``.  The explode multiplies rows by ~n_tokens/stride, which is
    the output's actual size — nothing is amplified beyond what is
    emitted.  Chunk content is emitted as (n_tokens, md5) — the engine-
    neutral content stamp; join back to the corpus for the text itself.
    """
    w, s = chunk_tokens, stride
    toks = tokens("text")
    n = F.size(toks)
    n_extra = F.ceil(F.greatest(n - w, F.lit(0)) / s).cast("int")
    starts = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_extra),
            lambda i: F.least(i * s + 1, F.greatest(n - w + 1, F.lit(1))),
        )
    )
    chunked = df.select(
        F.col("doc_id"), toks.alias("__toks"), F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk = F.slice("__toks", F.col("start"), w)
    return chunked.select(
        "doc_id",
        "chunk_idx",
        "start",
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def length_bucket_batches(
    df: DataFrame,
    token_col: str,
    batch_size: int = 32,
    salt: str = "lenbatch-v1",
) -> DataFrame:
    """Length-bucketed batching for padded (non-packed) training: bucket
    documents by power-of-2 token length, cut deterministic fixed-size
    batches inside each bucket, and report per-batch padding cost.

    Batching similar-length sequences together is the standard alternative
    to sequence packing when examples must stay intact — padding waste
    drops from O(max_len) to O(bucket width).  Batch composition is
    content-addressed (md5 of salt:key orders each bucket), so the layout
    is reproducible and partitioning-invariant, like ``pack_sequences``.
    The only global structure is one row_number per bucket (~log2(max_len)
    parallel sort groups); for corpora where single buckets exceed a
    task's memory, extend the salt into sub-shards per bucket exactly as
    ``deterministic_shuffle`` shards its stream.

    Output: bucket, batch_id, n_docs, max_tokens, sum_tokens, pad_frac.
    """
    n = F.col(token_col).cast("bigint")
    bucket = F.ceil(F.log2(F.greatest(n, F.lit(1)))).cast("int")
    pri = F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    staged = df.select(
        F.col("doc_id").alias("key"),
        n.alias("n_tokens"),
        bucket.alias("bucket"),
        pri.alias("pri"),
    )
    w = Window.partitionBy("bucket").orderBy("pri", "key")
    batched = staged.withColumn(
        "batch_id", F.floor((F.row_number().over(w) - 1) / batch_size)
    )
    padded = F.col("n_docs") * F.col("max_tokens")
    return (
        batched.groupBy("bucket", "batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .withColumn(
            "pad_frac",
            F.round(1 - F.col("sum_tokens") / F.greatest(padded, F.lit(1)), 6),
        )
    )


def span_corruption(
    df: DataFrame,
    block: int = 3,
    mask_pct: int = 15,
    salt: str = "t5-v1",
) -> DataFrame:
    """T5-style span corruption for denoising pretraining: mask ~
    ``mask_pct``% of tokens in ``block``-token spans, replace each
    contiguous masked RUN with a sentinel ``<extra_id_k>`` in the input,
    and emit the dropped spans behind their sentinels as the target.

    Span selection is content-addressed (md5 of salt:doc:block), so the
    corruption is deterministic, reproducible across runs/partitionings,
    and identically replayable by the SQL oracle — the property a
    training-data export needs for exact resume.

    Plan shape (100 TB): map-only — token split, ~tokens/block md5s, and
    the sentinel/prefix-sum bookkeeping are all higher-order array
    expressions inside one projection chain; no explode, no shuffle,
    no state.  Output: (doc_id, n_spans, corrupted, target).
    """
    from ..functions.hashing import md5_bucket

    toks = tokens(F.col("text"))
    nb = F.ceil(F.size("__t") / F.lit(block)).cast("int")
    s1 = df.select(
        F.col("doc_id").alias("id"), toks.alias("__t")
    ).withColumn("__nb", nb)
    masked = F.transform(
        F.sequence(F.lit(0), F.col("__nb") - 1),
        lambda b: (
            md5_bucket(
                F.concat(
                    F.lit(salt + ":"), F.col("id").cast("string"),
                    F.lit(":"), b.cast("string"),
                )
            )
            % 100
            < mask_pct
        ).cast("int"),
    )
    s2 = s1.withColumn("__m", masked)
    run_start = F.transform(
        F.sequence(F.lit(0), F.col("__nb") - 1),
        lambda b: (
            (F.get("__m", b) == 1)
            & ((b == 0) | (F.get("__m", b - 1) == 0))
        ).cast("int"),
    )
    s3 = s2.withColumn("__rs", run_start)

    def block_text(b):
        return F.array_join(F.slice("__t", b * block + 1, block), " ")

    def sent_idx(b):
        # number of run starts strictly before this one
        return F.aggregate(
            F.slice("__rs", 1, b + 1), F.lit(0), lambda a, x: a + x
        ) - 1

    def sentinel(b):
        return F.concat(
            F.lit("<extra_id_"), sent_idx(b).cast("string"), F.lit(">")
        )

    parts_in = F.transform(
        F.sequence(F.lit(0), F.col("__nb") - 1),
        lambda b: F.when(F.get("__rs", b) == 1, sentinel(b))
        .when(F.get("__m", b) == 1, F.lit(""))
        .otherwise(block_text(b)),
    )
    parts_tgt = F.transform(
        F.sequence(F.lit(0), F.col("__nb") - 1),
        lambda b: F.when(
            F.get("__rs", b) == 1,
            F.concat(sentinel(b), F.lit(" "), block_text(b)),
        )
        .when(F.get("__m", b) == 1, block_text(b))
        .otherwise(F.lit("")),
    )
    return s3.select(
        F.col("id").alias("doc_id"),
        F.aggregate(F.col("__rs"), F.lit(0), lambda a, x: a + x)
        .cast("bigint")
        .alias("n_spans"),
        F.array_join(
            F.filter(parts_in, lambda x: x != ""), " "
        ).alias("corrupted"),
        F.array_join(
            F.filter(parts_tgt, lambda x: x != ""), " "
        ).alias("target"),
    )


def context_overflow_stats(
    docs: DataFrame,
    seq_len: int = 512,
) -> DataFrame:
    """Per-source context-window accounting for a fixed ``seq_len``: how
    many training sequences each source's documents need when long docs
    split into ceil(n_tokens/seq_len) chunks, and how much of that
    sequence budget is padding (the waste a packer like
    ``pack_sequences`` exists to reclaim).  The before/after comparison
    of this table against the packed layout is the standard justification
    for sequence packing in a training-data pipeline.

    Output: ``(source, n_docs, n_tokens, n_chunks, pad_tokens,
    pad_ratio)``; empty docs contribute zero chunks.

    Plan / 100 TB: map-only token count per doc + ONE source-grain
    aggregate (map-side combined).  No joins, no windows.
    """
    from .textstats import token_count

    n = token_count(F.col("text"))
    staged = docs.select(
        F.col("source"),
        n.alias("__n"),
        F.ceil(n / F.lit(float(seq_len))).cast("bigint").alias("__chunks"),
    )
    return staged.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__n").cast("bigint").alias("n_tokens"),
        F.sum("__chunks").cast("bigint").alias("n_chunks"),
        (F.sum("__chunks") * seq_len - F.sum("__n")).cast("bigint").alias("pad_tokens"),
        F.when(
            F.sum("__chunks") > 0,
            F.round(
                (F.sum("__chunks") * seq_len - F.sum("__n"))
                / (F.sum("__chunks") * F.lit(float(seq_len))),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("pad_ratio"),
    )


def truncation_loss_curve(
    df: DataFrame,
    cutoffs: tuple[int, ...] = (64, 128, 256, 512),
) -> DataFrame:
    """Token loss under hard truncation at each candidate sequence
    length — the pre-training decision ``pack_sequences`` depends on:
    a short max-length loses document TAILS (this curve prices exactly
    how much), a long one wastes pad/packing slots
    (``packing_fragmentation`` prices that side).  Together the two
    curves bracket the max-length choice.

    Output per cutoff: ``(cutoff, n_docs, n_truncated,
    frac_docs_truncated, tokens_total, tokens_lost, frac_tokens_lost)``.

    Plan / 100 TB: ONE corpus scan collapses to DISTINCT-LENGTH grain
    (length, n_docs) — bounded by the longest document, not the corpus —
    and the cutoff grid joins at that grain (|lengths| × |cutoffs|
    rows).  All counts are exact bigints; floats only in the two final
    ratios.
    """
    from .textstats import token_count

    lens = (
        df.select(token_count(F.col("text")).cast("bigint").alias("len"))
        .groupBy("len")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    cand = df.sparkSession.createDataFrame(
        [(int(c),) for c in cutoffs], ["cutoff"]
    )
    grid = cand.crossJoin(lens)
    lost = F.when(
        F.col("len") > F.col("cutoff"), F.col("len") - F.col("cutoff")
    ).otherwise(F.lit(0))
    agg = grid.groupBy("cutoff").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("len") > F.col("cutoff"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_truncated"),
        F.sum(F.col("len") * F.col("c")).cast("bigint").alias("tokens_total"),
        F.sum(lost * F.col("c")).cast("bigint").alias("tokens_lost"),
    )
    return agg.select(
        "cutoff",
        "n_docs",
        "n_truncated",
        F.round(
            F.col("n_truncated").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("frac_docs_truncated"),
        "tokens_total",
        "tokens_lost",
        F.round(
            F.col("tokens_lost").cast("double")
            / F.col("tokens_total").cast("double"),
            6,
        ).alias("frac_tokens_lost"),
    )


def sft_chat_export(
    df: DataFrame,
    id_col: str = "doc_id",
    system: str = "You are a helpful assistant.",
    budget_tokens: int = 64,
    n_shards: int = 8,
    salt: str = "sft-v1",
) -> DataFrame:
    """Assemble instruction-tuning records: chat-template wrapping,
    token-budget truncation, loss-span offsets, and deterministic shard
    assignment — the export step between a curated corpus and an SFT
    trainer.

    Truncation policy: the COMPLETION is always kept intact (it is the
    supervision signal); the prompt keeps its LAST
    ``budget_tokens − n_completion`` tokens (left-truncation — recency
    wins in chat context), empty when the completion alone exceeds the
    budget.  The assembled record is::

        <|system|>\\n{system}\\n<|user|>\\n{kept prompt}\\n<|assistant|>\\n{completion}

    Output per row: ``(id, n_prompt_tokens, n_completion_tokens,
    truncated, loss_start_char, record_md5, shard)`` —
    ``loss_start_char`` is the 1-based character offset where the
    completion (the loss span) begins, ``record_md5`` the engine-neutral
    content stamp of the full record (the ``chunk_documents``
    discipline: hashable stamp out, text re-derivable by key), and
    ``shard`` the content-addressed shard (``deterministic_shuffle``'s
    md5 scheme) so the export layout is reproducible and
    partitioning-invariant.

    Plan / 100 TB: pure map-only Catalyst expressions — tokenize, slice,
    concat, md5 — no shuffle at all; writers partition by ``shard``.
    """
    p_toks = tokens("prompt")
    c_toks = tokens("completion")
    n_p = F.size(p_toks)
    n_c = F.size(c_toks)
    keep = F.greatest(F.least(F.lit(budget_tokens) - n_c, n_p), F.lit(0))
    kept = F.slice(p_toks, n_p - keep + 1, keep)
    head = F.concat(
        F.lit("<|system|>\n" + system + "\n<|user|>\n"),
        F.array_join(kept, " "),
        F.lit("\n<|assistant|>\n"),
    )
    completion = F.array_join(c_toks, " ")
    full = F.concat(head, completion)
    shard = md5_bucket(
        F.concat(F.lit(f"{salt}:shard:"), F.col(id_col).cast("string"))
    ) % F.lit(n_shards)
    return df.select(
        F.col(id_col),
        keep.cast("bigint").alias("n_prompt_tokens"),
        n_c.cast("bigint").alias("n_completion_tokens"),
        (n_p > keep).alias("truncated"),
        (F.length(head) + 1).cast("bigint").alias("loss_start_char"),
        F.md5(full).alias("record_md5"),
        shard.cast("bigint").alias("shard"),
    )

"""End-to-end training-data curation pipeline — the capstone composition
(VERDICT r6 #7): ingest → quality gate → exact dedup → near dedup →
split + exact decontamination → semantic decontamination → mixture
weights → sequence packing, all chained into ONE lazy DataFrame DAG and
summarized as a per-source funnel scorecard.

Every stage is an existing, individually-oracled operator reused as-is:

=========================  =====================================================
stage                      operator
=========================  =====================================================
quality gate               ``textstats.gopher_quality_flags`` (Rae et al. rules)
exact dedup                ``dedup.dedup_exact`` (md5 of normalized text, min id)
near dedup                 ``dedup.minhash_lsh_pairs`` + ``dedup.neardup_drop_list``
exact decontamination      ``sampling.cross_split_contamination`` (shared shingles)
semantic decontamination   ``sampling.semantic_contamination`` (banded LSH cosine)
mixture weights            temperature mixture (sqrt / integer-microunit exact sum)
packing                    ``packing.pack_sequences`` (distributed prefix sums)
=========================  =====================================================

Output: one row per source —
``(source, n_raw, n_quality, n_exact, n_near, n_train, n_clean,
n_tokens, mix_weight, n_seqs)`` — the monotone funnel
``n_raw >= n_quality >= n_exact >= n_near >= n_train >= n_clean``
(``n_train`` additionally removes the held-out eval split itself),
token volume of the clean corpus, its temperature-α=0.5 mixture weight,
and how many packed training sequences the source's documents occupy.

Plan / 100 TB: the corpus projection ``(id, text, source)`` is persisted
spillably ONCE (registered: ``textstats.release_persisted`` frees it) and
every stage derives from it — six stages re-deriving from parquet would
re-scan and re-decompress the corpus per stage (the plan-shape suite pins
the single-scan property).  Stage decisions travel
as ID FRAMES (semi/anti joins on the key — document text never shuffles
between stages); the quality gate is map-only; both dedups and both
decontaminations are the bucket/band-guarded operators with their caps
ON; the mixture normalizer sums integer micro-units (exact, order-free);
packing is the prefix-sum operator whose only global window runs at
bucket grain (1024 rows).  The final scorecard is source-grain (tiny).

Reference anchor: composes the reference's filter → dedup → merge
pipeline (src/etl/rss_feed_etl.py) into the LLM-curation shape, per the
round-6 verdict's capstone brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket
from ..operators.dedup import dedup_exact, minhash_lsh_pairs, neardup_drop_list
from ..operators.packing import pack_sequences
from ..operators.sampling import cross_split_contamination, semantic_contamination
from ..operators.textstats import _persist_spillable, gopher_quality_flags, token_count


def curation_pipeline(
    docs: DataFrame,
    embeddings: DataFrame,
    id_col: str = "doc_id",
    eval_pct: int = 10,
    split_salt: str = "cur-split-v1",
    minhash_threshold: float = 0.25,
    min_shared: int = 3,
    max_df: int = 1000,
    sem_threshold: float = 0.98,
    sem_bands: int = 6,
    sem_rows: int = 16,
    seq_len: int = 512,
    pack_salt: str = "cur-pack-v1",
    min_stopwords: int = 2,
    return_stages: bool = False,
    stage_timings: dict | None = None,
):
    """Run the full curation funnel and return the per-source scorecard.

    ``embeddings`` may cover only part of the corpus (joined on
    ``vec_id == id_col``); documents without an embedding simply
    cannot be semantically flagged.  The eval split is content-addressed
    (``md5(split_salt:id) % 100 < eval_pct``) so both engines and every
    rerun derive the identical holdout.

    ``min_stopwords`` re-thresholds the Gopher stopword rule from the
    gate's emitted metrics (the documented re-threshold pattern in
    ``gopher_quality_flags``): the rule assumes English prose, so a
    multilingual corpus sets it to 0 and relies on the language-agnostic
    word-count / word-length / alpha rules.

    ``stage_timings`` (VERDICT r7 #5): pass a dict to receive per-stage
    wall seconds, measured at each stage's EAGER id-frame checkpoint —
    attribution is sharp because every stage derives from the previous
    stage's already-materialized checkpoint, so a stage's number covers
    only its own operators.  The first stage additionally pays the
    one-time base persist; the packing stage (S6) and the scorecard have
    no checkpoint and materialize with the returned frame.
    """
    import time as _time
    base = _persist_spillable(docs.select(
        F.col(id_col).alias("id"),
        F.col("text").alias("text"),
        F.col("source").alias("source"),
    ))

    # Stage survivor sets travel as CHECKPOINTED id frames (8-byte rows):
    # the scorecard consumes every stage's membership several times, and
    # without the barrier each downstream reference would re-derive the
    # whole upstream chain — measured 51.8 s -> ~8 s at sf0.001 from this
    # alone.  Ids-only is the cheapest possible materialization (document
    # text stays in the persisted base and never re-shuffles).
    def _ckpt(ids: DataFrame, stage: str = "") -> DataFrame:
        t0 = _time.perf_counter()
        out = ids.localCheckpoint(eager=True)
        if stage_timings is not None and stage:
            stage_timings[stage] = round(_time.perf_counter() - t0, 3)
        return out

    # S1 — quality gate (map-only; stopword rule re-thresholded from the
    # emitted metrics so non-English corpora aren't all rejected)
    flags = gopher_quality_flags(base, id_col="id", text_col="text")
    ids1 = _ckpt(
        flags.filter(
            (F.col("flag_word_count") == 1)
            & (F.col("flag_mean_word_len") == 1)
            & (F.col("flag_alpha") == 1)
            & (F.col("n_stopwords") >= min_stopwords)
        ).select("id"),
        "s1_quality",
    )
    s1 = base.join(ids1, "id")

    # S2 — exact dedup (min id per normalized-text fingerprint)
    ids2 = _ckpt(dedup_exact(s1, text_col="text", id_col="id").select("id"), "s2_exact")
    s2 = base.join(ids2, "id")

    # S3 — near dedup: banded MinHash pairs -> one-hop drop list
    pairs = minhash_lsh_pairs(
        s2, id_col="id", text_col="text", n=3, threshold=minhash_threshold
    )
    ids3 = _ckpt(
        ids2.join(neardup_drop_list(pairs).select("id"), "id", "left_anti"),
        "s3_near",
    )
    s3 = base.join(ids3, "id")

    # S4 — content-addressed split, keep train minus shingle contamination
    is_eval = (
        md5_bucket(F.concat(F.lit(split_salt + ":"), F.col("id").cast("string")))
        % 100
        < eval_pct
    )
    split_frame = s3.withColumn(
        "split", F.when(is_eval, F.lit("eval")).otherwise(F.lit("train"))
    )
    contaminated = (
        cross_split_contamination(
            split_frame,
            holdout_label="eval",
            train_label="train",
            id_col="id",
            text_col="text",
            n=3,
            min_shared=min_shared,
            broadcast_holdout=True,
            max_df=max_df,
        )
        .select(F.col("train_id").alias("id"))
        .distinct()
    )
    ids4 = _ckpt(
        ids3.filter(~is_eval).join(contaminated, "id", "left_anti"),
        "s4_decontam",
    )

    # S5 — semantic decontamination over the embedding space
    emb = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("embedding")
    )
    eval_emb = emb.join(ids3.filter(is_eval), "id").select(
        F.col("id").alias("vec_id"), "embedding"
    )
    train_emb = emb.join(ids4, "id").select(F.col("id").alias("vec_id"), "embedding")
    sem_drop = (
        semantic_contamination(
            eval_emb,
            train_emb,
            threshold=sem_threshold,
            bands=sem_bands,
            rows_per_band=sem_rows,
        )
        .select(F.col("nearest_train_id").alias("id"))
        .distinct()
    )
    ids5 = _ckpt(ids4.join(sem_drop, "id", "left_anti"), "s5_semantic")
    clean = _ckpt(
        base.join(ids5, "id").select(
            "id", "source", token_count("text").cast("bigint").alias("n_tokens")
        ),
        "s5b_clean_tokens",
    )

    # S6 — packing the clean corpus into fixed-length sequences.
    # ``source`` rides through the packing projection (doc grain is
    # preserved), so the per-source sequence count below aggregates the
    # packed frame directly — the previous shape re-joined packed (600k
    # rows at sf0.1) against the corpus id->source map, a full extra
    # corpus-grain join for a column the input already had (guide §2.4).
    packed = pack_sequences(
        clean,
        "n_tokens",
        key_col="id",
        seq_len=seq_len,
        salt=pack_salt,
        carry_cols=("source",),
    )

    # Scorecard: per-source funnel counts + clean-corpus metrics, fused
    # into ONE corpus pass: the four stage-membership id frames (already
    # checkpointed, 8-byte rows) left-join onto the (id, source) base
    # projection as presence markers — four joins on the SAME key chain
    # without re-exchanging the base — and a single source-grain
    # aggregate sums the markers.  The previous shape ran five separate
    # join+groupBy pipelines (one per funnel stage) plus four
    # source-grain joins to reassemble them: 5 base scans and ~10
    # exchanges where one scan and one partial-aggregated exchange
    # suffice (guide §2.4: share the exchange; §1.2: remove passes).
    # Counts are identical: a base row joins at most one row per id
    # frame (ids are unique), so sum(marker) == count of members.
    marked = base.select("id", "source")
    for ids_frame, mark in (
        (ids1, "__m1"),
        (ids2, "__m2"),
        (ids3, "__m3"),
        (ids4, "__m4"),
    ):
        marked = marked.join(
            ids_frame.select("id", F.lit(1).alias(mark)), "id", "left"
        )
    funnel = marked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_raw"),
        F.sum(F.coalesce(F.col("__m1"), F.lit(0))).cast("bigint").alias("n_quality"),
        F.sum(F.coalesce(F.col("__m2"), F.lit(0))).cast("bigint").alias("n_exact"),
        F.sum(F.coalesce(F.col("__m3"), F.lit(0))).cast("bigint").alias("n_near"),
        F.sum(F.coalesce(F.col("__m4"), F.lit(0))).cast("bigint").alias("n_train"),
    )

    per_clean = clean.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_clean"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    # temperature mixture (α = 0.5 via IEEE-exact sqrt); the normalizer
    # sums integer micro-units so the distributed sum is exact and
    # order-free (the neyman_allocation recipe)
    weighted = per_clean.withColumn(
        "__wh",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000.0).cast("bigint"),
    )
    w_all = Window.partitionBy()  # source grain: ~#sources rows
    weighted = weighted.withColumn(
        "mix_weight",
        F.round(
            F.col("__wh").cast("double") / F.sum("__wh").over(w_all).cast("double"),
            6,
        ),
    )
    per_packs = packed.groupBy("source").agg(
        F.count_distinct("seq_id").cast("bigint").alias("n_seqs")
    )

    out = (
        funnel
        .join(weighted.select("source", "n_clean", "n_tokens", "mix_weight"), "source", "left")
        .join(per_packs, "source", "left")
    )
    zero = F.lit(0).cast("bigint")
    scorecard = out.select(
        "source",
        "n_raw",
        F.coalesce("n_quality", zero).alias("n_quality"),
        F.coalesce("n_exact", zero).alias("n_exact"),
        F.coalesce("n_near", zero).alias("n_near"),
        F.coalesce("n_train", zero).alias("n_train"),
        F.coalesce("n_clean", zero).alias("n_clean"),
        F.coalesce("n_tokens", zero).alias("n_tokens"),
        F.coalesce("mix_weight", F.lit(0.0)).alias("mix_weight"),
        F.coalesce("n_seqs", zero).alias("n_seqs"),
    )
    if return_stages:
        return scorecard, {
            "quality": ids1,
            "exact": ids2,
            "near": ids3,
            "train": ids4,
            "clean": ids5,
            "packed": packed,
        }
    return scorecard

"""Text-analysis operators for large-scale corpus pipelines.

These generalize the reference's text handling (cleaning F4/F5, keyword
scans F3, skills token matching X2) into the operators a training-data
pipeline needs: token counting, quality scoring, language ID, document
fingerprinting.  Everything is a pure Catalyst expression — one projection
over the corpus, no UDF, no shuffle — so throughput is the parquet scan
rate; at 100 TB these run as map-only stages.

Every formula is deliberately engine-independent (plain arithmetic, md5,
explicit character classes) so the DuckDB oracle can replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.hashing import rolling_hash
from ..functions.arrays import ngrams
from ..functions.text import norm_text, shingles, tokens


#: Frames persisted by the operators: this module's count tables (MI /
#: JSD / Kneser-Ney / boilerplate), dedup's shared buckets, the DSIR
#: hashed stream and curation's corpus projection.  They are
#: vocabulary- or corpus-scale, so a long-lived session composing
#: several of these operators accumulates executor storage (ADVICE r8).
#: Callers running many jobs should call :func:`release_persisted` (or
#: ``spark.catalog.clearCache()``) between jobs; the returned result
#: frames stay valid — Spark simply recomputes the lineage if
#: re-executed after release.
_PERSISTED: list[DataFrame] = []


def _persist_spillable(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + registration for later release."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(out)
    return out


def release_persisted() -> int:
    """Unpersist every frame registered by :func:`_persist_spillable`;
    returns how many frames were released.  Safe to call at any job
    boundary."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
        n += 1
    return n


def token_count(col: Column | str) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(tokens(c)))


# GPT-2-style pre-tokenizer, simplified to a dialect shared by Java regex
# and RE2: letter runs, digit runs, and single non-alnum glyphs each count
# as one subword-ish token.  This is the "BPE-ish regex" pass a training
# pipeline runs before the merge table; counts track real BPE within ~15%.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_counts(df: DataFrame) -> DataFrame:
    """Token counting two ways (whitespace + BPE-ish regex) per document.

    Pure Catalyst projection (``regexp_extract_all`` stays in codegen —
    no UDF), so at 100 TB this is a map-only stage bounded by scan rate.
    ``chars_per_tok`` is the compression-ratio quality signal (too low →
    symbol soup, too high → run-on junk).
    """
    c = F.col("text")
    n_ws = token_count(c)
    n_bpe = F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), 0))
    return df.select(
        F.col("doc_id"),
        n_ws.cast("bigint").alias("n_ws_tokens"),
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        F.when(n_bpe > 0, F.round(F.length(c) / n_bpe.cast("double"), 4))
        .otherwise(F.lit(0.0))
        .alias("chars_per_tok"),
    )


STOPWORDS_EN = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]
_PUNCT_CLASS = "[.!,?;:]"

# tiny per-language function-word profiles for the n-gram/stopword
# language-ID heuristic; scoring is deterministic and shared with the oracle
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "zh": ["的", "是", "了", "在", "我", "有", "和"],
}


def _text_stats_staged(text_col: str) -> list[Column]:
    """Stage-1 columns of :func:`text_stats` — one evaluation per array
    traversal, shared (round 11) with the fused single-scan consumers
    (``source_scorecard``) so the quality formula exists once."""
    c = F.col(text_col)
    n_chars_e = F.length(c)
    return [
        token_count(c).alias("__n_tok"),
        n_chars_e.alias("__n_chars"),
        (n_chars_e - F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))).alias("__n_punct"),
        F.size(
            F.filter(tokens(c), lambda t: F.lower(t).isin(STOPWORDS_EN))
        ).alias("__n_stop"),
    ]


def _text_stats_final() -> dict[str, Column]:
    """Stage-2 scalar math of :func:`text_stats` over the staged columns."""
    n_tok = F.col("__n_tok")
    n_chars = F.col("__n_chars")
    punct_ratio = F.when(
        n_chars > 0, F.col("__n_punct") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, F.col("__n_stop") / n_tok.cast("double")).otherwise(
        F.lit(0.0)
    )
    quality = F.round(
        F.least(F.lit(1.0), n_tok / F.lit(50.0)) * 0.4
        + stop_ratio * 0.3
        + (F.lit(1.0) - punct_ratio) * 0.3,
        6,
    )
    return {
        "n_tokens": n_tok.cast("bigint"),
        "n_chars": n_chars.cast("bigint"),
        "punct_ratio": F.round(punct_ratio, 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "quality": quality,
    }


def text_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """n_tokens, n_chars, punctuation ratio, stopword ratio, quality score.

    quality = 0.4·min(1, n_tokens/50) + 0.3·stopword_ratio
            + 0.3·(1 − punct_ratio), rounded to 6dp — length, naturalness
    and cleanliness components, the standard cheap quality gates.
    """
    # stage 1: one evaluation per array traversal; stage 2: scalar math
    staged = df.select(F.col(id_col), *_text_stats_staged(text_col))
    fin = _text_stats_final()
    return staged.select(
        F.col(id_col),
        *[expr.alias(name) for name, expr in fin.items()],
    )


def _lexicon_counts(text_col: str) -> Column:
    """Single-traversal stopword + per-language profile counts.

    Every lexicon word maps to a bitmask (bit 0 = stopword, bit 1+i =
    language i); one ``transform`` does the lowercase map lookup and one
    ``aggregate`` folds the bitmask hits into a counts struct
    ``(n_stop, s_<lang>...)``.  Consumers MUST materialize this struct in
    its own projection (two-stage ``select``): the struct is non-cheap, so
    CollapseProject keeps the stage boundary and every downstream
    reference reads the struct field instead of re-traversing the token
    array — measured 6× over the naive per-language ``filter`` scores
    whose ``when``-chain re-evaluated the traversal per reference.
    """
    mapping: dict[str, int] = {}
    for w in STOPWORDS_EN:
        mapping[w] = mapping.get(w, 0) | 1
    langs = list(LANG_PROFILES)
    for i, lang in enumerate(langs):
        for w in LANG_PROFILES[lang]:
            mapping[w] = mapping.get(w, 0) | (2 << i)
    kv: list[Column] = []
    for w, b in mapping.items():
        kv += [F.lit(w), F.lit(b)]
    lex = F.create_map(*kv)

    bits = F.transform(
        tokens(F.col(text_col)), lambda t: F.coalesce(lex[F.lower(t)], F.lit(0))
    )
    fields = ["n_stop"] + [f"s_{lang}" for lang in langs]
    init = F.struct(*[F.lit(0).alias(f) for f in fields])

    def merge(acc: Column, b: Column) -> Column:
        outs = [
            (acc["n_stop"] + F.when(b.bitwiseAND(1) > 0, 1).otherwise(0)).alias(
                "n_stop"
            )
        ]
        for i, lang in enumerate(langs):
            outs.append(
                (
                    acc[f"s_{lang}"]
                    + F.when(b.bitwiseAND(2 << i) > 0, 1).otherwise(0)
                ).alias(f"s_{lang}")
            )
        return F.struct(*outs)

    return F.aggregate(bits, init, merge)


def _pred_lang(cnt: Column) -> Column:
    """argmax language from a counts struct (fixed en>de>es>fr>zh
    tie-break), 'und' when every score is 0 — cheap int ops, safe to
    reference many times."""
    langs = list(LANG_PROFILES)
    best = F.greatest(*[cnt[f"s_{lang}"] for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier languages win ties
        pred = F.when((best > 0) & (cnt[f"s_{lang}"] == best), F.lit(lang)).otherwise(
            pred
        )
    return pred


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-profile language ID: score each language by how many tokens
    fall in its function-word profile; argmax wins (fixed en>de>es>fr>zh
    tie-break), 'und' when every score is 0."""
    staged = df.select(F.col("doc_id"), _lexicon_counts("text").alias("__cnt"))
    cnt = F.col("__cnt")
    return staged.select(
        F.col("doc_id"),
        _pred_lang(cnt).alias("pred_lang"),
        *[
            cnt[f"s_{lang}"].cast("bigint").alias(f"score_{lang}")
            for lang in LANG_PROFILES
        ],
    )


def quality_filter(
    df: DataFrame,
    min_tokens: int = 20,
    max_punct_ratio: float = 0.08,
    min_stopword_ratio: float = 0.05,
    allowed_lang: str = "en",
) -> DataFrame:
    """C4/Gopher-style composed keep/drop gate: length, punctuation,
    stopword-naturalness, and language rules evaluated in ONE map-only
    projection (no self-join of the stats and lang-id passes), each failed
    rule named in ``reasons``.

    This is the decision layer a training-data pipeline runs over every
    document; at 100 TB it is a single scan whose output feeds a
    partition-pruned write of keep=true rows.  Rule comparisons use the
    raw IEEE ratios (identical int inputs ⇒ identical doubles on any
    engine), so the oracle replays the exact keep set.

    Two-stage select: stage 1 evaluates every array traversal exactly once
    (token count, punct count, lexicon counts); stage 2 is integer/string
    arithmetic over those columns, where expression re-reference is free.
    """
    c = F.col("text")
    n_chars = F.length(c)
    staged = df.select(
        F.col("doc_id"),
        token_count(c).alias("__n_tok"),
        (n_chars - F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))).alias("__n_punct"),
        n_chars.alias("__n_chars"),
        _lexicon_counts("text").alias("__cnt"),
    )
    n_tok = F.col("__n_tok")
    punct_ratio = F.when(
        F.col("__n_chars") > 0, F.col("__n_punct") / F.col("__n_chars").cast("double")
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tok > 0, F.col("__cnt")["n_stop"] / n_tok.cast("double")
    ).otherwise(F.lit(0.0))
    pred = _pred_lang(F.col("__cnt"))

    reasons = F.concat_ws(
        ";",
        F.when(n_tok < min_tokens, F.lit("too_short")),
        F.when(punct_ratio > max_punct_ratio, F.lit("too_much_punct")),
        F.when(stop_ratio < min_stopword_ratio, F.lit("low_stopword")),
        F.when(pred != allowed_lang, F.lit("bad_lang")),
    )
    return staged.select(
        F.col("doc_id"),
        n_tok.cast("bigint").alias("n_tokens"),
        pred.alias("pred_lang"),
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
    )


def repetition_ratio(df: DataFrame) -> DataFrame:
    """Within-document repetition: fraction of word n-grams that are
    duplicates (1 − distinct/total).  The Gopher-style repetition gate —
    boilerplate, scraped menus and keyword-stuffed spam score high.

    Pure array expressions over one scan (map-only at 100 TB); gram
    construction is the same slice-based form as the dedup shingles so the
    oracle replays it verbatim.
    """
    grams = shingles(tokens(F.col("text")), 3)
    n_grams = F.size(grams)
    n_uniq = F.size(F.array_distinct(grams))
    return df.select(
        F.col("doc_id"),
        n_grams.cast("bigint").alias("n_grams"),
        n_uniq.cast("bigint").alias("n_unique_grams"),
        F.round(
            F.when(
                n_grams > 0,
                F.lit(1.0) - n_uniq / n_grams.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("repetition"),
    )


def top_terms(
    df: DataFrame,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-k terms by total occurrences (alphabetic tokens of
    ≥ 3 chars, stopwords removed), with document frequency.

    explode → two-level aggregate: the shuffle carries (term, partial
    counts) after map-side combine, never documents; the final top-k is a
    global ``orderBy + limit`` which Spark plans as TakeOrderedAndProject
    (per-partition heaps, no single-partition sort).  Ties break on the
    term so the ranking is deterministic.
    """
    toks = F.transform(tokens(F.col("text")), F.lower)
    terms = df.select(
        F.col("doc_id"), F.explode(toks).alias("term")
    ).filter(
        (F.length("term") >= 3)
        & F.col("term").rlike("^[a-z]+$")
        & ~F.col("term").isin(STOPWORDS_EN)
    )
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(k)
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint over normalized tokens.

    Polynomial fold mod 1e9+7 (functions/hashing.py) — stable across
    engines and row order, usable as a grouping key for exact dedup and as
    a cheap content-version stamp in SCD merges.
    """
    toks = tokens(norm_text("text"))
    return df.select(F.col("doc_id"), rolling_hash(toks).alias("fingerprint"))


def pmi_pairs(
    df: DataFrame,
    min_df: int = 10,
    min_pair: int = 5,
    top: int = 50,
) -> DataFrame:
    """Top term-pair associations by document-level PMI:
    ln(P(a,b) / (P(a)·P(b))) with P = document frequency / N.

    Collocation mining over the corpus — the signal behind phrase
    detection and topic vocabulary curation.  Co-occurrence is at document
    grain over DISTINCT terms, so a repeated word adds nothing.

    Scale shape: terms below ``min_df`` are pruned BEFORE the pair join
    (they are the long tail of the vocabulary), so the per-document pair
    explosion is bounded by the surviving vocabulary, and the document-
    frequency side joins broadcast-side.  PMI is rounded before the top-k
    ordering (discrete, engine-stable ranking; ties break on the pair).
    """
    ex = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"),
    )
    dfreq = ex.groupBy("term").agg(F.count("*").alias("dfreq")).filter(
        F.col("dfreq") >= min_df
    )
    kept = ex.join(F.broadcast(dfreq), "term")
    n_docs = df.select(F.countDistinct("doc_id").alias("n_docs"))
    pairs = (
        kept.alias("a")
        .join(kept.alias("b"), "id")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
            F.col("a.dfreq").alias("df_a"),
            F.col("b.dfreq").alias("df_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair)
    )
    return (
        pairs.join(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(
                F.log(F.col("n_ab") * F.col("n_docs") / (F.col("df_a") * F.col("df_b"))), 6
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("term_a"), F.asc("term_b"))
        .limit(top)
    )


def top_bigrams(
    df: DataFrame,
    top: int = 30,
) -> DataFrame:
    """Most frequent ADJACENT token pairs across the corpus — the count
    step of one BPE merge iteration (and the occurrence-grain complement
    of ``pmi_pairs``, which is document-grain over distinct terms).

    Pairs are built with one ``arrays_zip`` of the token array against its
    own tail — no self-join, no explode-then-rejoin; the only exchange is
    the (pair) count groupBy.  Ranking is (count desc, pair asc).
    """
    pairs = ngrams(tokens(F.col("text")), 2)
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w0").alias("term_a"), F.col("p.w1").alias("term_b"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term_a"), F.asc("term_b"))
        .limit(top)
    )


def unigram_logppl(
    df: DataFrame,
) -> DataFrame:
    """Per-document log-perplexity under a corpus-trained unigram LM —
    the self-contained form of CCNet-style LM quality filtering (docs
    whose token distribution diverges from the corpus score high).

    Model: add-one-smoothed unigram probabilities over lowercase
    whitespace tokens, p(t) = (count(t)+1) / (total+V); score =
    -mean(ln p(t)) over the document's tokens.  Two aggregation passes
    (corpus counts; per-doc score) plus one equi-join on the token — the
    token-count side is vocabulary-sized, and the join key is the token
    string, so the plan is two shuffles over token-grain rows and never
    materializes a dense vocabulary anywhere.  Both scalar model constants
    (total, V) ride in as a cross-joined 1-row aggregate, keeping the
    whole computation one lazy plan.  ln terms are rounded before the
    per-doc mean so cross-engine float fold order cannot move the result.
    """
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").alias("total"), F.count("*").alias("vocab")
    )
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            F.round(
                -F.log((F.col("n") + 1.0) / (F.col("total") + F.col("vocab"))), 9
            ).alias("nll"),
        )
    )
    return scored.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("logppl"),
    )


def _ngram_rows(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, a, b[, c]) adjacent lowercase-token n-grams (n = 2 or 3) of
    ``text``, one row per position."""
    grams = ngrams(tokens(F.lower(F.col("text"))), n)
    return df.select(F.col(id_col).alias("id"), F.explode(grams).alias("g")).select(
        "id", *[F.col(f"g.w{i}").alias("abc"[i]) for i in range(n)]
    )


def bigram_logppl(
    df: DataFrame,
    model: DataFrame | None = None,
) -> DataFrame:
    """Per-document log-perplexity under a bigram LM with stupid backoff
    (Brants et al. 2007) — the KenLM-shaped upgrade of ``unigram_logppl``
    for CCNet-style quality bucketing.

    ``model`` is the training corpus for the LM (defaults to ``df``; pass
    a reference corpus to score candidates against it — that is when the
    backoff path actually fires, since self-scoring sees every bigram).
    p(b|a) = C2(a,b)/C1(a) when the bigram was seen, else
    0.4 · (C1(b)+1)/(total+V) (add-one unigram backoff).

    Plan: the model side reduces to two vocabulary-sized count tables
    (bigram conditional probs, unigram counts) built once.  Round 11:
    the per-position nll is a pure function of the bigram (a, b), so it
    is scored once per DISTINCT scoring bigram (the model joins run at
    bigram-vocab grain) and attached to the occurrence stream with a
    single (a, b)-keyed join — the stream's (a, b) exchange is shared
    by the distinct aggregate and the attach join (guide §2.3/§2.4);
    the previous shape exchanged the full (id, a, b) stream twice.
    The two scalar constants ride in as a broadcast 1-row aggregate.
    Docs with < 2 tokens emit no bigrams and are absent from the output.
    """
    model = df if model is None else model
    big = _ngram_rows(df, "doc_id", 2)
    c2 = _ngram_rows(model, "doc_id", 2).groupBy("a", "b").agg(
        F.count("*").alias("n2")
    )
    c1 = (
        model.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n1"))
    )
    totals = c1.agg(F.sum("n1").alias("total"), F.count("*").alias("vocab"))
    # fold the conditional prob model-side: p(b|a) tables are model-sized
    pbi = c2.join(c1.withColumnRenamed("tok", "a"), "a").select(
        "a", "b", (F.col("n2") / F.col("n1")).alias("pb")
    )
    scored_bi = (
        big.select("a", "b")
        .distinct()
        .join(pbi, ["a", "b"], "left")
        .join(
            c1.select(F.col("tok").alias("b"), F.col("n1").alias("nb")), "b", "left"
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "a", "b",
            F.round(
                -F.log(
                    F.when(F.col("pb").isNotNull(), F.col("pb")).otherwise(
                        F.lit(0.4)
                        * (F.coalesce(F.col("nb"), F.lit(0)) + F.lit(1.0))
                        / (F.col("total") + F.col("vocab"))
                    )
                ),
                9,
            ).alias("nll"),
        )
    )
    scored = big.join(scored_bi, ["a", "b"]).select("id", "nll")
    return scored.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("logppl"),
    )


def bpe_merge_candidates(
    df: DataFrame,
    top: int = 50,
) -> DataFrame:
    """Tokenizer-training prep: the first BPE iteration's merge candidates
    — adjacent character-pair frequencies weighted by word frequency
    (Sennrich et al. 2016).  The returned top pairs ARE the merges a BPE
    trainer would perform first on this corpus.

    Plan: corpus tokens reduce to a vocabulary-sized (word, count) table
    FIRST — the char-pair expansion then runs over distinct words only
    (vocabulary-sized, not corpus-sized), which is the standard BPE
    trainer optimization.  One corpus-grain shuffle (word counts), one
    vocabulary-grain shuffle (pair sums), one top-k.  Ties rank
    lexicographically so the output is deterministic.
    """
    words = (
        df.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = ngrams(F.split(F.col("w"), ""), 2)
    return (
        words.select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w0").alias("sym_a"), F.col("p.w1").alias("sym_b"))
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("sym_a"), F.asc("sym_b"))
        .limit(top)
    )


def oov_rate(
    df: DataFrame,
    min_count: int = 5,
    vocab_size: int | None = None,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a corpus-derived
    vocabulary (tokens with corpus frequency >= ``min_count``, optionally
    capped to the ``vocab_size`` most frequent — real tokenizer vocabs
    are size-budgeted) — the tokenizer-coverage quality signal a training
    pipeline computes before committing a vocab (docs with high OOV
    either need the vocab grown or are junk).  Generalizes the
    reference's keyword-presence scans (src/rss_feed_etl/core/
    data_filter.py keyword matching) from a static list to a
    corpus-learned one.

    Plan: one corpus-grain shuffle to build (token, count), one token-key
    equi-join back to the exploded corpus (vocabulary side is
    vocabulary-sized, so AQE will usually broadcast it), one per-doc
    aggregate.  Never materializes a dense vocab; all counts stay
    token-grain.  The ``vocab_size`` cap is a TakeOrdered over
    vocabulary-grain rows (count desc, token asc — deterministic ties),
    never corpus rows.
    """
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    if vocab_size is not None:
        vocab = vocab.orderBy(F.desc("n"), F.asc("tok")).limit(vocab_size)
    vocab = vocab.select("tok", F.lit(1).alias("in_vocab"))
    return (
        toks.join(vocab, "tok", "left")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6),
        )
    )


def token_entropy(
    df: DataFrame,
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution plus the
    type-token ratio — the repetition/diversity quality pair (low entropy
    = template or keyword-stuffed spam; TTR near 1 with high length =
    generated word salad).

    Entropy is computed as ln(N) - sum(n*ln n)/N over per-term counts so
    it needs only one (id, token) shuffle and one per-doc aggregate — no
    joins, no windows; at 100 TB both shuffles carry token-grain rows
    only.  The per-term ln terms are rounded to 9dp before the sum so
    cross-engine float fold order cannot move the 6dp result.
    """
    term_counts = (
        df.select(
            F.col("doc_id").alias("id"),
            F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("id", "tok")
        .agg(F.count("*").alias("n"))
    )
    per_doc = term_counts.groupBy(F.col("id").alias("doc_id")).agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.round(F.col("n") * F.log(F.col("n")), 9)).alias("_nlogn"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(
            F.log(F.col("n_tokens")) - F.col("_nlogn") / F.col("n_tokens"),
            6,
        ).alias("entropy"),
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
    )


def zipf_fit(
    df: DataFrame,
    top: int = 1000,
) -> DataFrame:
    """Corpus-level Zipf's-law fit: least-squares slope/intercept of
    ln(freq) on ln(rank) over the top-N terms.  Natural corpora fit slope
    ≈ -1; a corpus that drifts far from that after cleaning (e.g. -0.3 =
    boilerplate-flooded, -2 = vocabulary collapse) signals a broken
    pipeline stage, so this is the one-row health metric a 100 TB corpus
    refresh publishes per snapshot.

    Plan: one corpus-grain shuffle to (token, count), a top-N (rank is
    only needed for N rows, so the sort is a TakeOrdered over
    vocabulary-grain rows, never corpus rows), then a single 1-row
    aggregate computing the closed-form OLS slope.  The slope formula is
    spelled out (not a regr_* builtin) so the oracle replays the identical
    fold structure.
    """
    counts = (
        df.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(top)
    )
    ranked = counts.select(
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("tok")))
        .alias("rank"),
        "n",
    ).select(
        F.round(F.log("rank"), 9).alias("x"), F.round(F.log("n"), 9).alias("y")
    )
    agg = ranked.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return agg.select(
        F.col("k").cast("bigint").alias("n_terms"),
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("slope"),
        F.round(
            (F.col("sy") - F.col("sx")
             * ((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))))
            / F.col("k"),
            6,
        ).alias("intercept"),
    )


def hot_shingles(
    df: DataFrame,
    k: int = 3,
    min_docs: int = 20,
) -> DataFrame:
    """k-token shingles appearing in >= ``min_docs`` DISTINCT documents —
    the boilerplate detector (C4/CCNet remove nav bars, cookie banners,
    and license headers exactly this way: a span repeated across many
    unrelated pages is template, not content).

    Plan: shingles are built array-side (arrays_zip of k shifted slices —
    no self-join, no per-position explode-then-rejoin).  Distinctness is
    resolved map-side with ``array_distinct`` BEFORE the explode, so the
    shingle-key exchange aggregates a plain count — measured 1.7× faster
    than groupBy + count_distinct, whose distinct expansion defeats
    partial aggregation.  Output is template-grain (tiny).
    """
    sh = F.transform(
        ngrams(tokens(F.lower(F.col("text"))), k),
        lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(k)]),
    )
    return (
        df.select(F.col("doc_id").alias("id"), F.explode(F.array_distinct(sh)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    k: int = 3,
    min_docs: int = 20,
) -> DataFrame:
    """Rewrite each document with every token covered by a hot shingle
    (see ``hot_shingles``) removed — the C4-style boilerplate strip,
    reassembled in original token order.

    Plan (round 7 — VERDICT r6 #3): ONE posexplode of the corpus
    shingles, aggregated ONCE to ``(shingle, id)`` grain (the per-doc
    position list — every record bounded by a single document's length)
    and persisted spillably (MEMORY_AND_DISK); two consumers read the
    cached grain: (a) a plain ``count(*)`` per shingle — at this grain
    count(*) IS the distinct-doc frequency, partial-aggregatable, no
    count-distinct expand — whose ``>= min_docs`` survivors are the
    TEMPLATE-GRAIN (tiny) hot set, broadcast; (b) a broadcast LEFT-SEMI
    join of the cached grain against that hot set, exploding only hot
    positions into the per-doc start collect.  Degenerate bound: a truly
    UNIVERSAL template (a shingle in every document) now costs one row
    per (shingle, doc) — never the one-giant-array-row the previous
    shingle-grain ``collect_list(struct(id, pos))`` built, which could
    not spill because a single record must fit in task memory.  Same-
    process noop A/B at sf0.1 (this round): natural corpus 1.87/1.81 →
    1.25/1.15 s, universal-template adversarial corpus 2.44/2.84 →
    1.67/1.74 s — the bounded shape is also ~0.65x the old one; outputs
    verified identical on both corpora.  The strip itself is a pure
    array expression (a position is dropped iff some hot start s
    satisfies s <= pos <= s+k-1).

    REJECTED VARIANTS (measured): round-6 integer-code-pair shingles
    (1.4–2.1x slower — CollapseProject inlines the code-array transform
    below the generator; see git history for the full pathology note);
    round-7 window-count over (shingle, id) (3.1–3.4 s — the window sort
    costs more than the cache saves) and a broadcast two-scan shape
    without the cache (2.2–3.4 s — shingling the corpus twice).
    """
    sh = F.transform(
        ngrams(tokens(F.lower(F.col("text"))), k),
        lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(k)]),
    )
    ex = df.select(
        F.col("doc_id").alias("id"), F.posexplode(sh).alias("pos", "shingle")
    )
    occ = ex.groupBy("shingle", "id").agg(F.collect_list("pos").alias("poss"))
    occ = _persist_spillable(occ)
    hot = (
        occ.groupBy("shingle")
        .count()
        .filter(F.col("count") >= min_docs)
        .select("shingle")
    )
    starts = (
        occ.join(F.broadcast(hot), "shingle", "leftsemi")
        .select("id", F.explode("poss").alias("pos"))
        .groupBy("id")
        .agg(F.collect_set("pos").alias("hot_starts"))
    )
    return _boiler_strip(df, starts, "doc_id", "text", k)


def _boiler_strip(
    df: DataFrame, starts: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Strip stage shared by the boilerplate variants: join the per-doc
    hot-start sets back onto the corpus, merge starts into disjoint
    coverage intervals, and drop every covered token position."""
    toks_col = tokens(F.lower(F.col(text_col)))
    with_starts = df.select(
        F.col(id_col).alias("id"), toks_col.alias("toks")
    ).join(starts, "id", "left")
    starts_arr = F.coalesce(F.col("hot_starts"), F.array().cast("array<int>"))
    # Merge the hot starts into disjoint coverage intervals BEFORE the
    # strip: the per-position membership test then scans the (few) merged
    # intervals instead of every start.  With dense boilerplate the starts
    # list approaches the token count and the naive per-position exists is
    # O(T·H) per document — interval merging folds H starts into I ≪ H
    # spans (one span, in the fully-templated worst case), measured
    # 9.9 s → ~2 s at sf0.1 on the shared-vocabulary corpus.  Starts
    # arrive sorted (sort_array below), so the merge is a single fold.
    intervals = F.aggregate(
        F.sort_array(starts_arr),
        F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        F.greatest(
                            F.element_at(acc, -1)["hi"], s + F.lit(k - 1)
                        ).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(s.alias("lo"), (s + F.lit(k - 1)).alias("hi"))
                ),
            )
        ),
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("__iv"), lambda iv: (iv["lo"] <= i) & (i <= iv["hi"])
        ),
    )
    return with_starts.withColumn("__iv", intervals).select(
        F.col("id").alias(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def shingle_novelty(
    df: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of a document's k-token shingle
    OCCURRENCES whose shingle appears in no other document — the
    dedup-adjacent quality signal (novelty near 0 = the doc is assembled
    from corpus-common spans; near 1 = genuinely fresh text).  The
    complement of ``hot_shingles``: that flags corpus-common spans,
    this scores each document by how little of it is shared.

    Plan: one shingle-key shuffle computing per-shingle distinct-doc
    counts, one join back on the shingle key, one per-doc aggregate —
    document bodies never enter a shuffle, only k-token shingle strings.
    """
    sh = F.transform(
        ngrams(tokens(F.lower(F.col("text"))), k),
        lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(k)]),
    )
    occ = df.select(F.col("doc_id").alias("id"), F.explode(sh).alias("shingle"))
    # df counts come from a per-doc-distinct stream (array_distinct is
    # map-side) so the exchange aggregates a plain count — same
    # count_distinct-avoidance as hot_shingles; occ keeps every occurrence
    # because the novelty denominator is occurrence-grained
    docfreq = (
        df.select(F.col("doc_id").alias("id"), F.explode(F.array_distinct(sh)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
    )
    return (
        occ.join(docfreq, "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_shingles"), 6)
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every positional word k-gram,
    slide a window of ``w`` consecutive hashes, keep the minimum of each
    window, dedupe.  Guarantees any shared run of ≥ w+k-1 tokens between
    two documents shares ≥1 fingerprint, at ~2/(w+1) the density of full
    shingling — the local-similarity index n-gram sets are too coarse for.

    All hashing is the engine-neutral md5-mod-1e9+7 token code, so the
    fingerprint set is oracle-checkable.  Plan: ENTIRELY map-only — the
    hash array, the sliding minima, and the per-document dedupe are all
    higher-order array expressions, so the physical plan is scan →
    project → explode with zero exchanges at any corpus size.  Each
    expensive subtree (tokenize, hash array) lives in its own projection
    stage so it is evaluated once per document, never once per gram —
    the earlier explode-the-grams + per-doc-window form re-evaluated the
    tokenizer per position (O(tokens²) per document) and shuffled every
    positional hash, which measured ~100× slower at sf0.1.
    """
    from ..functions.hashing import token_code

    toks = tokens(F.col("text"))
    staged = df.select(F.col("doc_id").alias("id"), toks.alias("__toks"))
    hashes = F.transform(shingles(F.col("__toks"), k), token_code)
    hashed = staged.select("id", hashes.alias("__hs"))
    # window minima: position i keeps min(h[i .. i+w-1]); slice truncates at
    # the array end, so short documents (at most w grams) collapse to one
    # whole-document fingerprint — same boundary semantics as the rowsBetween
    # window form this replaces
    n_pos = F.greatest(F.size(F.col("__hs")) - F.lit(w), F.lit(0)) + F.lit(1)
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: F.array_min(F.slice(F.col("__hs"), i, w)),
        )
    )
    return hashed.select(
        F.col("id").alias("doc_id"), F.explode(fps).alias("fp")
    )


def doc_keywords(
    df: DataFrame,
    top: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """Per-document keyword extraction: the ``top`` terms of each document
    by tf·idf (idf = ln(N/df)), ties broken lexicographically — the
    classic summary/tagging pass over a corpus.

    The document-frequency table is vocabulary-sized and the corpus count
    is 1 row; both ride to the scoring join as broadcasts, so the only
    corpus-wide exchanges are the (doc, term) tf groupBy and the per-doc
    top-k window.  Scores are rounded to 6dp before ranking so selection
    is reproducible across engines.
    """
    ex = df.select(
        F.col("doc_id").alias("id"),
        F.explode(tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = ex.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq")).filter(
        F.col("dfreq") >= min_df
    )
    n_docs = df.agg(F.countDistinct(F.col("doc_id")).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("dfreq")), 6).alias(
                "tfidf"
            ),
        )
    )
    rank_w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("int"))
        .filter(F.col("rank") <= top)
        .select(F.col("id").alias("doc_id"), "term", "tf", "tfidf", "rank")
    )


def ngram_diversity(
    df: DataFrame,
) -> DataFrame:
    """Distinct-1 / distinct-2 lexical diversity per group (Li et al. 2016,
    the generation-diversity metrics): distinct n-grams over total n-gram
    occurrences — low distinct-2 means a source repeats itself (template
    farms, spun content) even when individual docs pass quality filters.

    Distinctness resolves through a (group, gram)-grain intermediate
    aggregate — two partial-agg-friendly shuffles, never count_distinct's
    expansion — and document bodies stay out of every exchange.
    """
    toks = tokens(F.lower(F.col("text")))
    big = F.transform(
        ngrams(toks, 2), lambda s: F.concat_ws(" ", s["w0"], s["w1"])
    )
    uni = df.select(F.col("source").alias("g"), F.explode(toks).alias("gram"))
    bi = df.select(F.col("source").alias("g"), F.explode(big).alias("gram"))

    def _diversity(ex: DataFrame, n_name: str, d_name: str) -> DataFrame:
        per = ex.groupBy("g", "gram").agg(F.count("*").alias("c"))
        return per.groupBy("g").agg(
            F.sum("c").cast("bigint").alias(n_name),
            F.count("*").cast("bigint").alias(d_name),
        )
    u = _diversity(uni, "n_tokens", "d_tokens")
    b = _diversity(bi, "n_bigrams", "d_bigrams")
    return (
        u.join(b, "g")
        .select(
            F.col("g").alias("source"),
            "n_tokens",
            F.round(F.col("d_tokens") / F.col("n_tokens"), 6).alias("distinct_1"),
            "n_bigrams",
            F.round(F.col("d_bigrams") / F.col("n_bigrams"), 6).alias("distinct_2"),
        )
    )


def hashed_quality_scores(
    df: DataFrame,
    n_buckets: int = 1024,
) -> DataFrame:
    """Hashing-trick linear quality scorer: each token hashes to one of
    ``n_buckets`` feature buckets, every bucket carries a fixed weight, and
    a document's score is the mean bucket weight centered to [-0.5, 0.5).

    This is the Spark-side skeleton of a fastText-style quality classifier
    (the shape used to filter pretraining corpora): in production the
    bucket→weight table comes from a trained linear model and rides a
    broadcast; here the weight IS the bucket index scaled, which keeps the
    whole operator oracle-checkable while exercising the identical plan.

    Deliberately map-only: tokenization, hashing, and the integer
    accumulation all happen inside one projection via higher-order array
    functions — no explode, no shuffle, nothing but the scan at any scale.
    The accumulator stays integral (sum of bucket ids < 2^63) so both
    engines compute the float score from identical exact integers, and the
    score itself uses only +,-,/ (no transcendentals whose last-ulp
    differences could flip a 6dp rounding across engines).
    """
    from ..functions.hashing import token_code

    toks = tokens(F.col("text"))
    bucket_sum = F.aggregate(
        F.transform(toks, lambda t: token_code(t) % F.lit(n_buckets)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    score = (
        F.col("__bsum") / F.col("n_tokens") / F.lit(float(n_buckets)) - F.lit(0.5)
    )
    return (
        df.select(
            F.col("doc_id"),
            F.size(toks).cast("bigint").alias("n_tokens"),
            bucket_sum.alias("__bsum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(score, 6).alias("hash_score"),
            (score >= F.lit(0.0)).alias("keep"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    n_bins: int = 20,
) -> DataFrame:
    """Equi-depth quantile normalization: replace each row's value with
    the GLOBAL quantile at the row's within-group percent rank, so every
    group's distribution maps onto the corpus-wide one — the cross-source
    calibration step before mixing quality/length scores whose scales
    differ by source (source A's "long" must mean the same as source B's).

    Plan shape (100 TB): the global quantile boundary array is ONE
    aggregate row broadcast everywhere; per-row work is a percent_rank
    window inside the group partition and an array lookup — no global
    sort, no range join, no per-row quantile query.
    """
    from pyspark.sql import Window

    qs = [i / n_bins for i in range(n_bins + 1)]
    bounds = df.agg(
        F.percentile(F.col("n_chars"), F.lit(qs)).alias("__bounds")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    r = F.percent_rank().over(w)
    staged = df.select(
        "doc_id", "source", F.col("n_chars"), r.alias("__r")
    ).crossJoin(F.broadcast(bounds))
    idx = F.least(
        F.floor(F.col("__r") * n_bins).cast("int"), F.lit(n_bins)
    )
    return staged.select(
        "doc_id",
        "source",
        F.col("n_chars"),
        F.round(F.col("__r"), 6).alias("pct_rank"),
        F.round(F.get("__bounds", idx), 4).alias("normalized"),
    )


def vocab_drift_terms(
    old: DataFrame,
    new: DataFrame,
    min_df: int = 20,
    top: int = 30,
) -> DataFrame:
    """Term-level vocabulary drift between two corpus snapshots: for
    every term above ``min_df`` total document frequency, the smoothed
    log2 ratio of its document-frequency RATE between the halves; output
    is the ``top`` biggest movers.  The term-grain complement of the
    distribution-level drift tests (PSI/KS/chi²): those say THAT the
    corpus moved, this names the words that moved it.

    Plan shape (100 TB): per-side distinct-term exposure via map-side
    ``array_distinct`` before the explode (the ``hot_shingles``
    discipline), one term-key aggregate per side, a term-grain join, and
    a TakeOrdered top-k — document bodies never shuffle.
    """
    def dfreq(df: DataFrame, name: str) -> DataFrame:
        toks = F.array_distinct(tokens(F.lower(F.col("text"))))
        return (
            df.select(F.explode(toks).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias(name))
        )

    o = dfreq(old, "df_old")
    n = dfreq(new, "df_new")
    # corpus sizes ride in as broadcast 1-row aggregates, not eager
    # .count() actions — no extra job, no second scan per invocation
    counts = (
        old.agg(F.count("*").cast("double").alias("__n_old"))
        .crossJoin(new.agg(F.count("*").cast("double").alias("__n_new")))
    )
    j = (
        o.join(n, "term", "full_outer")
        .select(
            "term",
            F.coalesce("df_old", F.lit(0)).cast("bigint").alias("df_old"),
            F.coalesce("df_new", F.lit(0)).cast("bigint").alias("df_new"),
        )
        .crossJoin(F.broadcast(counts))
    )
    rate_old = (F.col("df_old") + 0.5) / F.col("__n_old")
    rate_new = (F.col("df_new") + 0.5) / F.col("__n_new")
    ratio = F.log2(rate_new / rate_old)
    return (
        j.filter(F.col("df_old") + F.col("df_new") >= min_df)
        .select(
            "term", "df_old", "df_new",
            F.round(ratio, 6).alias("log2_ratio"),
        )
        .orderBy(F.abs(F.col("log2_ratio")).desc(), F.col("term").asc())
        .limit(top)
    )


def source_kl_divergence(
    df: DataFrame,
    vocab_size: int = 200,
) -> DataFrame:
    """Per-source language divergence: KL(source unigram ‖ corpus
    unigram) over the corpus's top-``vocab_size`` terms (with add-½
    smoothing and an OOV bucket) — one scalar per source saying how far
    that source's word distribution sits from the corpus mixture.  The
    source-grain complement of ``vocab_drift_terms`` (that names the
    words; this ranks the sources) — the signal for "which feed is
    polluting the mix".

    Plan shape (100 TB): the vocab is a TakeOrdered top-V broadcast; term
    counts aggregate at (source, term) grain with map-side combine; the
    KL fold runs at that grain.  Corpus scanned twice (vocab, counts),
    shuffled only at term grain.
    """
    toks = df.select(
        F.col("source").alias("g"), F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(vocab_size)
        .select("term")
    )
    tagged = toks.join(
        F.broadcast(vocab.withColumn("__v", F.lit(1))), "term", "left"
    ).select(
        "g", F.when(F.col("__v").isNotNull(), F.col("term")).otherwise(F.lit("<oov>")).alias("term")
    )
    per_source = tagged.groupBy("g", "term").agg(F.count("*").alias("sc"))
    corpus = per_source.groupBy("term").agg(F.sum("sc").alias("cc"))
    totals_s = per_source.groupBy("g").agg(F.sum("sc").alias("st"))
    total_c = corpus.agg(F.sum("cc").cast("double").alias("ct"))
    k = vocab_size + 1
    joined = (
        per_source.join(F.broadcast(corpus), "term")
        .join(F.broadcast(totals_s), "g")
        .crossJoin(F.broadcast(total_c))
    )
    p = (F.col("sc") + 0.5) / (F.col("st") + 0.5 * k)
    q = (F.col("cc") + 0.5) / (F.col("ct") + 0.5 * k)
    return (
        joined.groupBy("g")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_bits_nat"))
        .select(F.col("g").alias("source"), "kl_bits_nat")
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1) — the
    heuristic gate LLM curation runs before any model-based scoring: word
    count bounds, mean word length in [3, 10], ≥80% of words containing an
    alphabetic character, and at least two distinct common stopwords (the
    "is this prose at all" test).

    Everything is a pure array expression per row — map-only, no UDF, no
    exchange (plan-pinned), so at 100 TB this is a free rider on whatever
    scan already reads the text.  Flags are emitted as 0/1 ints (not
    booleans) plus the underlying metrics, so downstream mixtures can
    re-threshold without recomputing.

    ``keep_cols`` appends pass-through input columns to the output so a
    caller that gates rows AND needs their payload can filter this frame
    directly instead of computing flags on an id projection and joining
    back (guide §2.4: the join was a per-batch exchange plus a duplicate
    scan of the input in the streaming curation path).
    """
    e = _gopher_exprs(
        text_col,
    )
    return df.select(
        F.col(id_col),
        e["n"].cast("bigint").alias("n_words"),
        F.round(e["mean_len"], 4).alias("mean_word_len"),
        F.round(e["alpha_frac"], 4).alias("alpha_frac"),
        e["n_stop"].cast("bigint").alias("n_stopwords"),
        e["f_count"].alias("flag_word_count"),
        e["f_mean"].alias("flag_mean_word_len"),
        e["f_alpha"].alias("flag_alpha"),
        e["f_stop"].alias("flag_stopwords"),
        e["keep"].alias("keep"),
        *[F.col(c) for c in keep_cols],
    )


def _gopher_exprs(
    text_col: str,
) -> dict[str, Column]:
    """The Gopher rule expressions of :func:`gopher_quality_flags` as a
    dict — shared (round 11) with fused single-scan consumers
    (``source_scorecard``) so the rule formulas exist exactly once."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.transform(toks, lambda t: F.lower(t)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    mean_len = sum_len / n.cast("double")
    alpha_frac = n_alpha / n.cast("double")
    f_count = ((n >= 50) & (n <= 100_000)).cast("int")
    f_mean = ((mean_len >= 3.0) & (mean_len <= 10.0)).cast(
        "int"
    )
    f_alpha = (alpha_frac >= 0.8).cast("int")
    f_stop = (n_stop >= 2).cast("int")
    return {
        "n": n,
        "mean_len": mean_len,
        "alpha_frac": alpha_frac,
        "n_stop": n_stop,
        "f_count": f_count,
        "f_mean": f_mean,
        "f_alpha": f_alpha,
        "f_stop": f_stop,
        "keep": f_count * f_mean * f_alpha * f_stop,
    }


def repeated_ngram_stats(
    df: DataFrame,
) -> DataFrame:
    """Gopher-style repetition metrics per document: the duplicated-n-gram
    fraction (1 − distinct/total sliding word n-grams) and the share of
    the single most repeated n-gram — the signals that catch keyword-stuffed
    and loop-generated text that plain length/stopword gates miss.

    Plan: MAP-ONLY — every metric is an array computation on the doc's own
    gram list, so the operator is a free rider on whatever scan reads the
    text (no exchange of any kind; the earlier shape shuffled the full
    (doc, gram) occurrence stream).  Grams are PORTABLE INTEGER CODES, not
    strings: each token hashes once (md5-prefix mod 1e9+7, the
    ``token_code`` mixer the dedup path already oracle-mirrors) and a gram
    is the base-31 polynomial of its 3 token codes — so the per-doc
    sort/distinct run over bigint arrays instead of allocating and
    comparing one string per gram (the round-4 bench's single heaviest
    headline cost).  Distinct grams collide with probability ~g²/2e9 per
    doc — negligible, and the oracle replays the identical arithmetic so
    parity is exact.  total = size, distinct = size(array_distinct), and
    the top multiplicity is a run-length fold over the SORTED code array
    (equal codes are adjacent after sort, so the longest run IS the max
    count — O(g log g) per doc).  The DuckDB oracle keeps the unnest +
    GROUP BY formulation over the same codes: same semantics, different
    physical shape, which is exactly what the parity gate is for.
    Documents shorter than 3 words are excluded (no n-gram exists).
    """
    from ..functions.hashing import BASE, MOD, token_code

    # Each expensive array (codes, grams) is MATERIALIZED in its own
    # projection and then referenced multiple times as a plain attribute —
    # referencing the raw expression instead would inline it at every use
    # site (CollapseProject keeps multi-referenced non-cheap expressions,
    # but expressions nested inside one select have no such protection),
    # re-running one md5 per token per reference.
    toks = tokens(F.col("text"))
    staged = (
        df.select(F.col("doc_id"), toks.alias("__toks"))
        .filter(F.size("__toks") >= 3)
        .select(
            "doc_id",
            F.transform("__toks", token_code).alias("__codes"),
            (F.size("__toks") - F.lit(2)).alias("__ng"),
        )
    )

    def gram_at(i):
        acc = F.element_at(F.col("__codes"), i)
        for j in range(1, 3):
            acc = (
                acc * F.lit(BASE) + F.element_at(F.col("__codes"), i + F.lit(j))
            ) % F.lit(MOD)
        return acc

    grams = staged.select(
        "doc_id",
        F.transform(F.sequence(F.lit(1), F.col("__ng")), gram_at).alias("__grams"),
    )
    g = F.col("__grams")
    acc0 = F.struct(
        F.lit(-1).cast("bigint").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("mx"),
    )

    def step(acc, c):
        run = F.when(c == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            c.alias("prev"), run.alias("run"), F.greatest(acc["mx"], run).alias("mx")
        )

    mx = F.aggregate(F.array_sort(g), acc0, step, lambda acc: acc["mx"])
    total = F.size(g).cast("bigint")
    distinct = F.size(F.array_distinct(g))
    return grams.select(
        F.col("doc_id"),
        total.alias("total_ngrams"),
        F.round((total - distinct) / total.cast("double"), 4).alias("dup_frac"),
        F.round(mx / total.cast("double"), 4).alias("top_frac"),
    )


def ccnet_ppl_buckets(
    df: DataFrame,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    LANGUAGE, rank documents by their LM log-perplexity and cut the
    distribution into head / middle / tail terciles — the standard
    pre-mixing quality tiers (train mostly on head+middle, sample tail).

    Composes ``unigram_logppl`` (corpus-trained add-one unigram LM) with
    one per-language percent_rank window — the window partitions by
    language, so no global sort exists and each language ranks in
    parallel.  Ranks are (logppl, id)-ordered for deterministic ties, and
    the tercile test uses exact integer rank arithmetic.
    """
    scored = unigram_logppl(df)
    langs = df.select(F.col("doc_id"), F.col("lang"))
    w = Window.partitionBy("lang").orderBy(F.asc("logppl"), F.asc("doc_id"))
    pr = F.percent_rank().over(w)
    return (
        scored.join(langs, "doc_id")
        .withColumn("__pr", pr)
        .select(
            F.col("doc_id"),
            "lang",
            "logppl",
            F.when(F.col("__pr") < 1.0 / 3, "head")
            .when(F.col("__pr") < 2.0 / 3, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


def compression_ratio(
    df: DataFrame,
) -> DataFrame:
    """Per-document zlib compression ratio — the Gopher-era quality signal
    that catches BOTH failure modes the token-level stats miss: heavily
    templated/looping text compresses to almost nothing (ratio → 0) and
    random/encoded garbage doesn't compress at all (ratio → 1); natural
    prose sits in between.  Flags mirror the drop-both-tails rule.

    Output: ``(doc_id, n_bytes, z_bytes, ratio, flag_repetitive,
    flag_incompressible)``; blank docs carry NULL ratio and no flags.

    Plan / 100 TB: map-only ``mapInPandas`` (zlib is C-speed and the
    Python stdlib — no codec dependency); no shuffle, no state, batch
    memory bounded by Arrow batch size.  Deliberately NOT an oracle query
    (DuckDB has no zlib) — the driver's rows-only check plus golden
    pytest values (the test recomputes ratios with the same zlib) cover
    it, like ``pca_projection``.
    """
    import pandas as pd  # noqa: F401  (worker-side import)

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(df.sparkSession)
    out_schema = (
        "doc_id long, n_bytes long, z_bytes long, ratio double, "
        "flag_repetitive int, flag_incompressible int"
    )

    def _part(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            n = raw.str.len().astype("int64")
            z = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            ratio = (z / n).where(n > 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": n,
                    "z_bytes": z,
                    "ratio": ratio.round(6),
                    "flag_repetitive": ((n > 0) & (ratio < 0.3)).astype("int32"),
                    "flag_incompressible": ((n > 0) & (ratio > 0.9)).astype(
                        "int32"
                    ),
                }
            )

    return df.select("doc_id", "text").mapInPandas(_part, out_schema)


def keyword_snippets(
    df: DataFrame,
    keyword: str,
    context_chars: int = 40,
) -> DataFrame:
    """Keyword-in-context extraction: for each document containing
    ``keyword``, the first occurrence with ``context_chars`` of context
    on each side — the search-result preview / human-review snippet a
    corpus audit tool renders next to every hit.

    Pure position arithmetic (``instr``/``substr``), no regex — regex
    escaping and engine dialects (Java vs RE2) are exactly the kind of
    cross-engine divergence snippets don't need.  Map-only; rides the
    scan.

    Output: ``(doc_id, pos, snippet)`` for matching docs.
    """
    pos = F.instr(F.col("text"), F.lit(keyword))
    start = F.greatest(pos - F.lit(context_chars), F.lit(1))
    length = (
        pos - start + F.lit(len(keyword)) + F.lit(context_chars)
    )
    return (
        df.filter(pos > 0)
        .select(
            F.col("doc_id"),
            pos.cast("bigint").alias("pos"),
            F.substring(F.col("text"), start.cast("int"), length.cast("int")).alias(
                "snippet"
            ),
        )
    )


def fk_readability(
    df: DataFrame,
) -> DataFrame:
    """Flesch-Kincaid grade level per document from three pure-regex
    counts — words (whitespace tokens), sentences (maximal ``[.!?]``
    runs), syllables (maximal vowel-group runs, the standard cheap
    approximation):  FK = 0.39·(W/S) + 11.8·(Syl/W) − 15.59.  The
    readability axis of corpus quality: too LOW often means listicle /
    keyword spam, far too HIGH means OCR garbage or run-on boilerplate.

    Counting trick: #runs of class C = len(regexp_replace(s, C+, '#'))
    − len(regexp_replace(s, C+, '')) — portable across Java and RE2
    regex engines because only plain character classes appear.  Map-only.

    Output: ``(doc_id, n_words, n_sentences, n_syllables, fk_grade)``
    for docs with ≥1 word; a doc with no terminator counts as ONE
    sentence (the readability-tool convention for fragments).
    """

    def runs(expr, cls: str):
        marked = F.regexp_replace(expr, f"[{cls}]+", "#")
        gone = F.regexp_replace(expr, f"[{cls}]+", "")
        return (F.length(marked) - F.length(gone)).cast("long")

    low = F.lower(F.col("text"))
    words = token_count(F.col("text")).cast("long")
    sents = F.greatest(runs(F.col("text"), r".!?"), F.lit(1).cast("long"))
    syls = runs(low, "aeiouy")
    wd = words.cast("double")
    fk = (
        F.lit(0.39) * (wd / sents.cast("double"))
        + F.lit(11.8) * (syls.cast("double") / wd)
        - F.lit(15.59)
    )
    return (
        df.select(
            F.col("doc_id"),
            words.alias("n_words"),
            sents.alias("n_sentences"),
            syls.alias("n_syllables"),
            fk.alias("__fk"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "doc_id", "n_words", "n_sentences", "n_syllables",
            F.round("__fk", 4).alias("fk_grade"),
        )
    )


def heaps_law_curve(
    df: DataFrame,
    n_buckets: int = 20,
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: scanning the corpus in
    ``doc_id`` order, how does distinct vocabulary V grow with total
    tokens N?  V(N) ≈ K·N^β with β ≈ 0.5 for natural text — the curve
    that sizes tokenizer vocabularies and predicts how much NEW
    vocabulary the next 10× of corpus will bring.

    Scalable shape: a term's first occurrence is ``min(bucket)`` over
    its postings (one groupBy at term grain — no ordered scan of the
    corpus), buckets being ``n_buckets`` equal doc-id ranges; the curve
    then cumulates at BUCKET grain.  All counts are exact integers.
    β is estimated from the curve's endpoints (two points — no float
    regression over the buckets): β = ln(V_last/V_first)/ln(N_last/
    N_first), constant across rows.

    Output per bucket: ``(bucket, n_tokens_cum, vocab_cum, beta_hat)``.
    """
    ids = F.broadcast(
        df.agg(
            F.min(F.col("doc_id")).cast("long").alias("i0"),
            F.max(F.col("doc_id")).cast("long").alias("i1"),
        )
    )
    toks = tokens(F.col("text"))
    base = df.filter(F.trim(F.col("text")) != "").crossJoin(ids).select(
        F.expr(
            f"CAST((CAST(doc_id AS BIGINT) - i0) * {n_buckets} "
            f"DIV (i1 - i0 + 1) AS BIGINT)"
        ).alias("b"),
        F.explode(toks).alias("tok"),
    )
    tok_per_bucket = base.groupBy("b").agg(
        F.count("*").cast("long").alias("n_tok")
    )
    first_bucket = base.groupBy("tok").agg(F.min("b").alias("fb"))
    new_per_bucket = first_bucket.groupBy(F.col("fb").alias("b")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    j = tok_per_bucket.join(new_per_bucket, "b", "left").select(
        "b", "n_tok", F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new")
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = j.select(
        "b",
        F.sum("n_tok").over(w).cast("long").alias("n_tokens_cum"),
        F.sum("n_new").over(w).cast("long").alias("vocab_cum"),
    )
    tw = Window.partitionBy()
    ends = cum.select(
        "*",
        F.first("n_tokens_cum").over(
            Window.orderBy("b").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n1"),
        F.first("vocab_cum").over(
            Window.orderBy("b").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("v1"),
        F.max("n_tokens_cum").over(tw).alias("n2"),
        F.max("vocab_cum").over(tw).alias("v2"),
    )
    beta = F.log(
        F.col("v2").cast("double") / F.col("v1").cast("double")
    ) / F.log(F.col("n2").cast("double") / F.col("n1").cast("double"))
    return ends.select(
        F.col("b").cast("bigint").alias("bucket"),
        "n_tokens_cum", "vocab_cum",
        F.round(beta, 6).alias("beta_hat"),
    )


def langid_entropy(
    df: DataFrame,
) -> DataFrame:
    """Code-switching / mixed-language audit on top of the stopword
    language-ID scores: per doc, the Shannon entropy of the normalized
    per-language hit distribution and the top-1 vs top-2 margin.  A
    clean monolingual doc has low entropy and wide margin; a
    code-switched or machine-mixed doc scores hits in several profiles
    at once — the docs a per-corpus language router mis-bins.

    Same single-traversal lexicon fold as ``lang_id`` (one struct, one
    projection); the entropy is a FIXED-ORDER scalar sum over the
    (bounded) language set, so no float aggregation ordering exists.

    Output for docs with ≥1 profile hit: ``(doc_id, pred_lang, n_hits,
    entropy, margin)``.
    """
    staged = df.select(F.col("doc_id"), _lexicon_counts("text").alias("__cnt"))
    cnt = F.col("__cnt")
    scores = [cnt[f"s_{lang}"].cast("long") for lang in LANG_PROFILES]
    staged = staged.select(
        F.col("doc_id"),
        _pred_lang(cnt).alias("pred_lang"),
        *[s.alias(f"sc{i}") for i, s in enumerate(scores)],
    )
    total = None
    for i in range(len(LANG_PROFILES)):
        c = F.col(f"sc{i}")
        total = c if total is None else total + c
    td_ = total.cast("double")
    ent = None
    for i in range(len(LANG_PROFILES)):
        p = F.col(f"sc{i}").cast("double") / td_
        term = F.when(F.col(f"sc{i}") > 0, -(p * F.log(p))).otherwise(F.lit(0.0))
        ent = term if ent is None else ent + term
    arr = F.array_sort(
        F.array(*[F.col(f"sc{i}") for i in range(len(LANG_PROFILES))])
    )
    best = F.element_at(arr, -1)
    second = F.element_at(arr, -2)
    return (
        staged.withColumn("__t", total)
        .filter(F.col("__t") > 0)
        .select(
            "doc_id",
            "pred_lang",
            F.col("__t").cast("bigint").alias("n_hits"),
            F.round(ent, 6).alias("entropy"),
            F.round(
                (best - second).cast("double") / td_, 6
            ).alias("margin"),
        )
    )


def distinctive_terms_log_odds(
    df: DataFrame,
    top_k: int = 5,
    alpha: float = 0.01,
    min_count: int = 5,
) -> DataFrame:
    """The terms that DISTINGUISH each source: log-odds ratio with a
    Dirichlet prior and its z-score (Monroe, Colaresi & Quinn 2008) of
    each term's rate in the source vs the rest of the corpus — the
    principled version of "top TF-IDF terms per source" that doesn't
    over-reward rare typos (the prior shrinks them) or common words
    (the contrast cancels them).

    δ = ln[(c_s+α)/(N_s+αV−c_s−α)] − ln[(c_r+α)/(N_r+αV−c_r−α)],
    var ≈ 1/(c_s+α) + 1/(c_r+α),  z = δ/√var; top_k by (z, term) per
    source among terms with ≥ ``min_count`` occurrences in the source.

    All counts are exact integers; the per-term score is scalar math.

    Output: ``(source, term, n_source, z_log_odds)``.
    """
    toks = tokens(F.col("text"))
    occ = df.filter(F.trim(F.col("text")) != "").select(
        F.col("source").alias("src"), F.explode(toks).alias("term")
    )
    st = occ.groupBy("src", "term").agg(
        F.count("*").cast("long").alias("c")
    ).localCheckpoint(eager=False)
    totals = st.groupBy("src").agg(F.sum("c").cast("long").alias("ns"))
    term_tot = st.groupBy("term").agg(F.sum("c").cast("long").alias("ct"))
    glob = term_tot.agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum("ct").cast("long").alias("gtot"),
    )
    jn = (
        st.join(F.broadcast(totals), "src")
        .join(F.broadcast(term_tot), "term")
        .crossJoin(F.broadcast(glob))
    )
    a = F.lit(float(alpha))
    av = F.lit(float(alpha)) * F.col("vocab").cast("double")
    cs = F.col("c").cast("double")
    ns = F.col("ns").cast("double")
    cr = (F.col("ct") - F.col("c")).cast("double")
    nr = F.col("gtot").cast("double") - ns
    delta = F.log((cs + a) / (ns + av - cs - a)) - F.log(
        (cr + a) / (nr + av - cr - a)
    )
    var = F.lit(1.0) / (cs + a) + F.lit(1.0) / (cr + a)
    z = F.round(delta / F.sqrt(var), 6)
    scored = jn.filter(F.col("c") >= min_count).select(
        F.col("src").alias("source"),
        "term",
        F.col("c").cast("bigint").alias("n_source"),
        z.alias("z_log_odds"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("z_log_odds").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_k)
        .drop("__rn")
    )


def vocab_coverage_curve(
    df: DataFrame,
    vs: tuple = (100, 1000, 10000),
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size V, the
    share of all token OCCURRENCES covered by the top-V most frequent
    types — the number that decides how large a tokenizer vocab must be
    before the <unk>/byte-fallback rate is acceptable.

    Output: one row per V — ``(v, covered_occurrences, coverage)``.

    Plan / 100 TB: one token-grain aggregate (map-side combined), then a
    distributed top-max(V) (orderBy + LIMIT — Spark's TakeOrdered, no
    global sort materializes), and only THEN a single-partition cumulative
    window over the LIMIT-bounded rows (≤ max(vs), corpus-independent —
    the documented reduced-grain window pattern).  The corpus total rides
    in as a broadcast 1-row aggregate.
    """
    vmax = max(vs)
    toks = df.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("total"))
    top = counts.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(vmax)
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = top.select(
        F.row_number().over(w).alias("rn"), F.sum("n").over(w).alias("cum")
    )
    aggs = []
    for v in vs:
        aggs.append(
            F.max(F.when(F.col("rn") <= v, F.col("cum"))).alias(f"c{v}")
        )
    wide = ranked.agg(*aggs).crossJoin(F.broadcast(total))
    stack = ", ".join(f"CAST({v} AS BIGINT), c{v}" for v in vs)
    return wide.select(
        F.expr(f"stack({len(vs)}, {stack}) AS (v, covered_occurrences)"),
        "total",
    ).select(
        "v",
        F.col("covered_occurrences").cast("bigint").alias("covered_occurrences"),
        F.round(F.col("covered_occurrences") / F.col("total"), 6).alias(
            "coverage"
        ),
    )


def code_switch_ratio(
    df: DataFrame,
) -> DataFrame:
    """Code-switching / language-mix detector: how much of a document's
    function-word evidence belongs to languages OTHER than its primary
    one.  Mixed-language documents poison monolingual training mixtures
    (they pass doc-level lang-ID but carry off-language spans), and the
    switch ratio is the cheap gate that catches them.

    Output: ``(doc_id, primary_lang, primary_hits, other_hits,
    switch_ratio)`` with ``switch_ratio = other/(primary+other)`` (0 for
    docs with no lexicon evidence; 'und' primary).

    Plan / 100 TB: map-only — one ``_lexicon_counts`` traversal
    materialized in its own projection (the CollapseProject guard that
    module documents), then pure integer/string arithmetic.  Free rider
    on any scan that reads the text.
    """
    staged = df.select(F.col("doc_id"), _lexicon_counts("text").alias("__cnt"))
    cnt = F.col("__cnt")
    total = None
    for lang in LANG_PROFILES:
        s = cnt[f"s_{lang}"]
        total = s if total is None else total + s
    best = F.greatest(*[cnt[f"s_{lang}"] for lang in LANG_PROFILES])
    other = total - best
    return staged.select(
        F.col("doc_id"),
        _pred_lang(cnt).alias("primary_lang"),
        best.cast("bigint").alias("primary_hits"),
        other.cast("bigint").alias("other_hits"),
        F.when(
            total > 0,
            F.round(other / total.cast("double"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("switch_ratio"),
    )


def logppl_zscore_by_source(
    df: DataFrame,
    z_flag: float = 2.0,
) -> DataFrame:
    """Per-SOURCE perplexity outlier scoring: z-score each document's
    unigram log-perplexity against its own source's distribution and flag
    |z| ≥ ``z_flag`` — the within-source anomaly pass that catches spam
    bursts and template floods a corpus-global threshold normalizes away
    (a clean academic source and a noisy forum have different baselines).

    Exactness: logppl is 6dp-rounded, so ``round(logppl·1e6)`` is integer-
    exact; per-source mean and variance accumulate as exact integer /
    decimal sums of those codes (never a float fold), and the only floats
    are one subtraction, one sqrt, one division — IEEE-identical on both
    engines.

    Plan / 100 TB: unigram_logppl's two token-grain aggregates, one
    source-grain aggregate (map-side combined), one broadcast join back to
    doc grain.  No windows over the corpus.
    """
    scored = unigram_logppl(df)
    src = df.select(F.col("doc_id"), F.col("source"))
    joined = scored.join(src, "doc_id").select(
        F.col("doc_id"),
        "source",
        "logppl",
        F.round(F.col("logppl") * 1e6).cast("bigint").alias("__code"),
    )
    stats = joined.groupBy(F.col("source").alias("s2")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("__code").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("__code").cast("decimal(38,0)") * F.col("__code")).alias("s2q"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2q").cast("double") / F.col("n") - mean * mean
    # guard BEFORE the sqrt: an all-equal source makes var a float-ulp
    # negative, and sqrt(negative) must never evaluate on either engine
    z = F.when(
        F.col("__var") > 0,
        F.round(
            (F.col("__code") - F.col("__mean")) / F.sqrt(F.col("__var")), 4
        ),
    ).otherwise(F.lit(0.0))
    return (
        joined.join(
            F.broadcast(
                stats.select("s2", mean.alias("__mean"), var.alias("__var"))
            ),
            joined["source"] == F.col("s2"),
        )
        .withColumn("z", z)
        .select(
            "doc_id",
            "source",
            "logppl",
            "z",
            (F.abs(F.col("z")) >= z_flag).cast("int").alias("flag_outlier"),
        )
    )


def char_class_mix(
    df: DataFrame,
) -> DataFrame:
    """Character-class composition per document: the share of letters,
    digits, whitespace, sentence punctuation, and everything else (the
    non-ASCII bucket that catches CJK, emoji, and mojibake) — the
    char-level sibling of ``code_switch_ratio`` and the cheapest signal
    for binary-junk and wrong-script documents in an English mixture.

    Counts come from ``length(text) - length(regexp_replace(text, class,
    ''))`` — one regex pass per class, all in ONE map-only projection
    (each count referenced once, so no expression re-inlining).  Blank
    docs carry zero ratios.

    Output: ``(doc_id, n_chars, letter_ratio, digit_ratio, space_ratio,
    punct_ratio, other_ratio)``.
    """
    c = F.col("text")
    n = F.length(c)

    def cnt(cls: str) -> Column:
        return n - F.length(F.regexp_replace(c, cls, ""))

    staged = df.select(
        F.col("doc_id"),
        n.alias("__n"),
        cnt("[A-Za-z]").alias("__letter"),
        cnt("[0-9]").alias("__digit"),
        cnt(r"\s").alias("__space"),
        cnt(_PUNCT_CLASS).alias("__punct"),
    )
    nn = F.col("__n")

    def ratio(col: str) -> Column:
        return F.when(nn > 0, F.round(F.col(col) / nn.cast("double"), 4)).otherwise(
            F.lit(0.0)
        )

    other = nn - F.col("__letter") - F.col("__digit") - F.col("__space") - F.col("__punct")
    return staged.select(
        F.col("doc_id"),
        nn.cast("bigint").alias("n_chars"),
        ratio("__letter").alias("letter_ratio"),
        ratio("__digit").alias("digit_ratio"),
        ratio("__space").alias("space_ratio"),
        ratio("__punct").alias("punct_ratio"),
        F.when(nn > 0, F.round(other / nn.cast("double"), 4))
        .otherwise(F.lit(0.0))
        .alias("other_ratio"),
    )


def token_gini_by_source(
    df: DataFrame,
) -> DataFrame:
    """Gini concentration of the token-frequency distribution per source —
    0 means every type appears equally often, →1 means a few types carry
    all the mass (template/boilerplate sources score high even when their
    entropy and stopword gates look fine).  Complements ``zipf_corpus_fit``
    with a single comparable scalar per source.

    Scale trick: Gini over sorted frequencies needs ranks, but ranking
    the VOCABULARY per source would window over corpus-scale partitions.
    Grouping types by frequency first (frequency-of-frequency grain,
    bounded by the max count, not the vocab) makes the rank sum of each
    tied run a closed form — f·(S(cm) − S(cm−m)) with S(x)=x(x+1)/2 —
    so the window runs over the tiny (source, f) table and every
    accumulation is exact integer/decimal arithmetic; the only floats are
    the final Gini division.

    Output: ``(source, n_types, n_tokens, gini)``.
    """
    toks = df.select(
        F.col("source"),
        F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
    )
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("f"))
    ff = counts.groupBy("source", "f").agg(F.count("*").alias("m"))
    w = Window.partitionBy("source").orderBy("f").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cm = F.sum("m").over(w)
    # rank-sum closed form: 2·Σ(i over the tied run) = cm(cm+1) − (cm−m)(cm−m+1),
    # so ws2 below is 2·Σ i·x_i and the Gini numerator needs no extra ×2
    run = ff.withColumn(
        "ws2",
        (
            F.col("f").cast("decimal(38,0)")
            * (cm * (cm + 1) - (cm - F.col("m")) * (cm - F.col("m") + 1))
        ).cast("decimal(38,0)"),
    )
    agg = run.groupBy("source").agg(
        F.sum("m").cast("bigint").alias("n_types"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("m"))
        .cast("decimal(38,0)")
        .alias("tot"),
        F.sum("ws2").cast("decimal(38,0)").alias("ws2"),
    )
    n = F.col("n_types").cast("double")
    gini = (
        F.col("ws2").cast("double") / (n * F.col("tot").cast("double"))
        - (n + 1.0) / n
    )
    return agg.select(
        "source",
        "n_types",
        F.col("tot").cast("bigint").alias("n_tokens"),
        F.round(gini, 6).alias("gini"),
    )


def quality_keep_threshold(
    df: DataFrame,
    keep_frac: float = 0.7,
) -> DataFrame:
    """Budget-constrained curation cutoffs: per SOURCE, the quality-score
    threshold that keeps (approximately) the top ``keep_frac`` of its
    documents — per-source thresholds keep a noisy source from consuming a
    clean one's budget, which is what a single corpus-global cutoff does.

    threshold = the smallest score whose cumulative count EXCEEDS the
    drop budget ⌈(1−keep_frac)·n⌉; kept = docs with quality ≥ threshold —
    exactly the budget when scores are distinct, slightly more when tie
    mass sits on the boundary (curation errs toward keeping).  The drop
    budget is clamped to n−1 (ADVICE r5): for a single-doc source any
    keep_frac < 1 would otherwise round the budget up to n, leave no code
    with cum > budget, and silently drop the source from the output —
    every source emits a row and keeps at least its top document.
    ``keep_frac`` must be > 0.

    Scale shape: quality is 6dp-rounded, so scores live on an integer
    grid — counts aggregate at (source, grid-code) grain (mergeable
    map-side partials) and the quantile is read off a cumulative window
    whose partition is bounded by the SCORE DOMAIN (≤1e6 codes), never
    the corpus — the same pattern as ``embedding_dim_stats``.

    Output: ``(source, n_docs, threshold, n_kept, kept_frac)``.
    """
    scored = text_stats(df).select(
        F.col("doc_id"), F.round(F.col("quality") * 1e6).cast("bigint").alias("code")
    )
    src = df.select(F.col("doc_id"), F.col("source"))
    codes = scored.join(src, "doc_id")
    counts = codes.groupBy("source", "code").agg(F.count("*").alias("m"))
    st = counts.groupBy(F.col("source").alias("s2")).agg(
        F.sum("m").cast("bigint").alias("n")
    )
    cw = Window.partitionBy("source").orderBy("code").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("cum", F.sum("m").over(cw)).join(
        F.broadcast(st), F.col("source") == F.col("s2")
    )
    drop = F.least(
        F.ceil(F.lit(1.0 - keep_frac) * F.col("n")).cast("bigint"),
        F.col("n") - F.lit(1),
    )
    thr = cum.groupBy("source").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") > drop, F.col("code"))).alias("tcode"),
    )
    kept = (
        counts.join(F.broadcast(thr.select("source", "tcode")), "source")
        .filter(F.col("code") >= F.col("tcode"))
        .groupBy("source")
        .agg(F.sum("m").cast("bigint").alias("n_kept"))
    )
    # both sides are source-grain (bounded by the source dimension) —
    # broadcast so the static plan never sort-merges two tiny tables
    return (
        thr.join(F.broadcast(kept), "source")
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            (F.col("tcode") / 1e6).alias("threshold"),
            "n_kept",
            F.round(F.col("n_kept") / F.col("n").cast("double"), 4).alias(
                "kept_frac"
            ),
        )
    )


def negative_sampling_table(
    df: DataFrame,
    vocab_size: int = 10000,
) -> DataFrame:
    """word2vec-style negative-sampling distribution: the top
    ``vocab_size`` types with probability ∝ count^0.75 (Mikolov et al.
    2013 — the exponent that up-weights the tail so negatives aren't all
    stopwords), plus each type's cumulative probability — the inverse-CDF
    lookup table a contrastive trainer samples against.

    Cross-engine exactness: ``c^0.75`` is computed as
    ``sqrt(sqrt(c³))`` — c³ is exact integer arithmetic and sqrt is
    IEEE-correctly-rounded on every engine, unlike ``pow`` with a
    fractional exponent (libm pow differs in the last ulp across
    engines).  Weights round to 9dp and sum as exact decimals.

    Plan / 100 TB: one token-grain count (map-side combined), a
    distributed top-``vocab_size`` (TakeOrdered), and a cumulative window
    over the LIMIT-bounded rows — the same corpus-independent-window
    pattern as ``vocab_coverage_curve``.

    Output: ``(rank, term, n, prob, cum_prob)``.
    """
    toks = df.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    counts = (
        toks.filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(vocab_size)
    # cube in DOUBLE (two IEEE multiplies — deterministic, and a bigint
    # cube would overflow at count ≳ 2.1e6 on engines that raise)
    nd = F.col("n").cast("double")
    w = F.round(F.sqrt(F.sqrt(nd * nd * nd)), 9)
    weighted = top.select("tok", "n", w.alias("w"))
    tot = weighted.agg(
        F.sum(F.col("w").cast("decimal(30,10)")).cast("double").alias("wtot")
    )
    win = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    cum = F.sum(F.col("w").cast("decimal(30,10)")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(win).cast("int").alias("rank"),
            F.col("tok").alias("term"),
            "n",
            F.round(F.col("w") / F.col("wtot"), 9).alias("prob"),
            F.round(cum.cast("double") / F.col("wtot"), 9).alias("cum_prob"),
        )
    )


def tokenizer_fertility(
    df: DataFrame,
) -> DataFrame:
    """Per-language tokenizer-fertility proxies: characters per whitespace
    token and tokens per document — the cross-lingual budget table a
    multilingual pretraining run prices its mixture with (a language whose
    tokenizer emits 3× the tokens per character consumes 3× the context
    window for the same text, so mixture weights set in DOCUMENTS silently
    re-weight in TOKENS).

    Output: ``(lang, n_docs, n_tokens, n_chars, chars_per_token,
    tokens_per_doc)``.

    Plan / 100 TB: MAP-ONLY per-row metrics (length + token count as pure
    expressions) into one language-grain aggregate with map-side partials
    — the operator is a free rider on whatever scan reads the text.
    Ratios divide exact bigint sums as doubles, rounded once.  A language
    whose documents are all blank has zero tokens: Spark's non-ANSI
    divide-by-zero yields NULL while DuckDB's IEEE float division yields
    inf, so ``chars_per_token`` is explicitly guarded to NULL on both
    engines (ADVICE r6; the oracle mirrors with a CASE).
    """
    rows = df.select(
        F.col("lang"),
        F.length(F.col("text")).cast("bigint").alias("nc"),
        token_count(F.col("text")).cast("bigint").alias("nt"),
    )
    return rows.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
        F.sum("nc").cast("bigint").alias("n_chars"),
        F.when(
            F.sum("nt") > 0,
            F.round(
                F.sum("nc").cast("double") / F.sum("nt").cast("double"), 4
            ),
        ).alias("chars_per_token"),
        F.round(
            F.sum("nt").cast("double") / F.count("*").cast("double"), 4
        ).alias("tokens_per_doc"),
    )


def split_oov_rate(
    train_df: DataFrame,
    eval_df: DataFrame,
    min_count: int = 1,
) -> DataFrame:
    """Per-EVAL-document out-of-vocabulary rate against the TRAIN split's
    vocabulary (types with train frequency >= ``min_count``) — the
    split-skew check ``oov_rate`` cannot express (that one scores a corpus
    against its own vocabulary): an eval set whose tokens the training
    split never saw measures tokenizer luck, not model quality.

    Output: ``(doc_id, n_tokens, n_oov, oov_rate)`` — eval grain.

    Plan / 100 TB: the train side collapses to TYPE grain (one token-key
    exchange with map-side partials — the vocabulary, not the corpus),
    eval tokens join it on the token key (vocabulary-sized build side, AQE
    broadcasts it when it fits), one per-doc aggregate.  Document bodies
    never shuffle; only tokens do.
    """
    train_toks = train_df.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        train_toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    eval_toks = eval_df.select(
        F.col("doc_id").alias("id"),
        F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        eval_toks.join(vocab, "tok", "left")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


def source_scorecard(
    df: DataFrame,
) -> DataFrame:
    """Per-source curation scorecard — the one-row-per-feed health table a
    corpus refresh publishes before re-pricing its mixture: document
    count, within-source exact-duplicate count, Gopher keep rate, mean
    quality score, and each source's share of corpus tokens.

    COMPOSITIONAL on purpose: the Gopher gate and the quality score are
    the existing operators (``gopher_quality_flags``, ``text_stats``),
    and the exact-dup fingerprint is ``dedup_exact``'s normalization —
    the scorecard can never disagree with the gates it summarizes, and
    the oracle composes the same operators' SQL verbatim.

    Output: ``(source, n_docs, dup_docs, keep_rate, mean_quality,
    n_tokens, token_share)``.

    Plan / 100 TB: ONE map-only corpus scan (round 11) computes every
    per-doc input — the Gopher keep flag and the quality score come from
    the SHARED expression builders (``_gopher_exprs``,
    ``_text_stats_staged``/``_text_stats_final``), so the formulas still
    exist exactly once and the scorecard can never disagree with the
    gates it summarizes — then one source-grain aggregate with map-side
    partials (mean_quality sums exact decimals — a pure function of the
    doc set) and the corpus token total broadcast as a 1-row aggregate.
    The previous shape ran the two gate operators as separate frames and
    joined three doc-grain frames on the id key: three corpus scans and
    two id-keyed exchanges for values that are row-local (guide §1.2:
    remove passes; §2.4: remove the exchanges).  Fused and joined forms
    are identical on any corpus with unique ``doc_id`` (the operator's
    contract; the oracle composes the operators' SQL verbatim and stays
    hash-green).
    """
    staged = df.select(
        F.col("source"),
        F.md5(norm_text("text")).alias("__fp"),
        _gopher_exprs("text")["keep"].alias("keep"),
        *_text_stats_staged("text"),
    )
    j = staged.withColumn("quality", _text_stats_final()["quality"])
    per_source = j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.count("*") - F.countDistinct("__fp")).cast("bigint").alias("dup_docs"),
        F.round(
            F.sum("keep").cast("double") / F.count("*").cast("double"), 6
        ).alias("keep_rate"),
        F.round(
            F.sum(F.col("quality").cast("decimal(20,10)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_quality"),
        F.sum("__n_tok").cast("bigint").alias("n_tokens"),
    )
    tot = per_source.agg(F.sum("n_tokens").cast("double").alias("__t"))
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "dup_docs",
        "keep_rate",
        "mean_quality",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("__t"), 6).alias(
            "token_share"
        ),
    )


def vocab_oov_curve(
    df: DataFrame,
    sizes: tuple[int, ...] = (1000, 2000, 4000, 8000),
) -> DataFrame:
    """OOV rate as a function of vocabulary size — the curve a tokenizer
    budget decision reads: with the ``k`` most frequent types as the
    vocabulary, what fraction of corpus TOKENS fall outside it?

    Output: one row per requested size —
    ``(vocab_size, n_types, total_types, oov_rate)`` where ``n_types =
    min(size, total_types)`` and ``oov_rate = 1 - covered/total`` over
    token OCCURRENCES.  Ties at the frequency boundary resolve
    alphabetically (count desc, token asc) so both engines pick the same
    vocabulary.

    Plan / 100 TB: ONE token-grain aggregate (map-side combined) gives
    the type-frequency table; the candidate vocabulary is a
    TakeOrdered over it bounded by ``max(sizes)`` (model-sized driver
    state never materializes — the limit stays distributed), and every
    curve point is an aggregate over that bounded frame plus the two
    corpus scalars.  The corpus is scanned once; no per-size rescan.
    """
    toks = df.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok")).filter(
        F.col("tok") != ""
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").cast("bigint").alias("total_occ"),
        F.count("*").cast("bigint").alias("total_types"),
    )
    top = (
        counts.orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(max(sizes))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("tok").asc())),
        )
    )
    sizes_df = df.sparkSession.createDataFrame(
        [(int(s),) for s in sorted(sizes)], "vocab_size int"
    )
    covered = (
        sizes_df.join(top, F.col("rank") <= F.col("vocab_size"), "left")
        .groupBy("vocab_size")
        .agg(
            F.count("rank").cast("bigint").alias("n_types"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("covered"),
        )
    )
    return covered.crossJoin(F.broadcast(totals)).select(
        "vocab_size",
        "n_types",
        "total_types",
        F.round(
            1.0 - F.col("covered").cast("double") / F.col("total_occ").cast("double"),
            6,
        ).alias("oov_rate"),
    )


def pii_density(
    df: DataFrame,
) -> DataFrame:
    """Per-source PII exposure: email / phone / SSN pattern hits per
    1000 tokens — the safety scorecard a curation run reads to decide
    which feeds need scrubbing (``redact_pii``) or exclusion before the
    corpus ships.  Uses the same three patterns the redactor applies
    (``functions.text.PII_EMAIL/PHONE/SSN``), so density-then-redact is
    consistent by construction.

    Output: ``(source, n_docs, n_tokens, n_emails, n_phones, n_ssns,
    pii_per_1k_tokens)``; the rate is NULL for a source with zero
    tokens (both engines — the fertility zero guard).

    Plan / 100 TB: map-only per-row regexp counts (JVM regex, no UDF)
    into one source-grain aggregate with map-side partials — a free
    rider on whatever scan reads the text.
    """
    from ..functions.text import PII_EMAIL, PII_PHONE, PII_SSN

    t = F.col("text")
    rows = df.select(
        F.col("source"),
        token_count(t).cast("bigint").alias("nt"),
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("bigint").alias("e"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("bigint").alias("p"),
        F.regexp_count(t, F.lit(PII_SSN)).cast("bigint").alias("s"),
    )
    return rows.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
        F.sum("e").cast("bigint").alias("n_emails"),
        F.sum("p").cast("bigint").alias("n_phones"),
        F.sum("s").cast("bigint").alias("n_ssns"),
        F.when(
            F.sum("nt") > 0,
            F.round(
                1000.0
                * (F.sum("e") + F.sum("p") + F.sum("s")).cast("double")
                / F.sum("nt").cast("double"),
                6,
            ),
        ).alias("pii_per_1k_tokens"),
    )


def interp_trigram_logppl(
    df: DataFrame,
    model: DataFrame | None = None,
    lambdas: tuple[float, float, float] = (0.6, 0.3, 0.1),
) -> DataFrame:
    """Per-document log-perplexity under a Jelinek-Mercer INTERPOLATED
    trigram LM — the next order up from ``bigram_logppl``'s stupid
    backoff, and the form KenLM-quality CCNet filters actually use:
    every order contributes at every position (backoff only fires on a
    miss; interpolation always mixes), so the score degrades smoothly on
    out-of-domain text instead of cliff-dropping to the unigram floor.

        p(c|a,b) = λ3·C3(abc)/C2(ab) + λ2·C2(bc)/C1(b)
                 + λ1·(C1(c)+1)/(T+V)

    ``model`` is the training corpus (defaults to ``df``; pass a held-out
    half to see the higher orders miss).  Zero-count higher orders
    contribute 0 (their λ mass is NOT renormalized — standard JM);
    the add-one unigram floor keeps p > 0 for any token.

    Output: ``(doc_id, n_trigrams, logppl)``; docs with < 3 tokens emit
    no trigrams and are absent.

    Plan / 100 TB: the model folds to three count tables — trigram,
    bigram, unigram — each vocabulary-sized with map-side partial
    aggregation.  Round 11: the per-trigram nll is a PURE FUNCTION of
    (a, b, c), so scoring runs at the DISTINCT-trigram grain — the
    count tables join against the distinct trigram set (vocabulary-
    sized), and the scored table attaches back to the corpus stream
    with ONE (a, b, c)-keyed join; the previous shape exchanged the
    full per-occurrence stream five times (keys abc, ab, bc, b, c —
    guide §2.3: shuffle keys and metadata, not the heavy stream).  The
    stream's (a, b, c) exchange is shared by the distinct aggregate and
    the attach join (ReuseExchange).  T and V ride in as a broadcast
    1-row aggregate.  nll terms round to 9 dp before the per-doc mean
    so cross-engine float fold order cannot move the result.
    """
    model = df if model is None else model
    l3, l2, l1 = (float(x) for x in lambdas)
    trig = _ngram_rows(df, "doc_id", 3)
    c3 = _ngram_rows(model, "doc_id", 3).groupBy("a", "b", "c").agg(
        F.count("*").alias("n3")
    )
    c2 = _ngram_rows(model, "doc_id", 2).groupBy("a", "b").agg(
        F.count("*").alias("n2")
    )
    c1 = (
        model.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n1"))
    )
    totals = c1.agg(F.sum("n1").alias("total"), F.count("*").alias("vocab"))
    p3 = F.when(
        F.col("n3").isNotNull() & (F.col("n2h") > 0),
        F.col("n3") / F.col("n2h"),
    ).otherwise(F.lit(0.0))
    p2 = F.when(
        F.col("n2bc").isNotNull() & (F.col("n1b") > 0),
        F.col("n2bc") / F.col("n1b"),
    ).otherwise(F.lit(0.0))
    p1 = (F.coalesce(F.col("n1c"), F.lit(0)) + F.lit(1.0)) / (
        F.col("total") + F.col("vocab")
    )
    uniq = trig.select("a", "b", "c").distinct()
    scored_tri = (
        uniq.join(c3, ["a", "b", "c"], "left")
        .join(
            c2.select(
                F.col("a"), F.col("b"), F.col("n2").alias("n2h")
            ),
            ["a", "b"],
            "left",
        )
        .join(
            c2.select(
                F.col("a").alias("b"), F.col("b").alias("c"),
                F.col("n2").alias("n2bc"),
            ),
            ["b", "c"],
            "left",
        )
        .join(
            c1.select(F.col("tok").alias("b"), F.col("n1").alias("n1b")),
            "b",
            "left",
        )
        .join(
            c1.select(F.col("tok").alias("c"), F.col("n1").alias("n1c")),
            "c",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "a", "b", "c",
            F.round(
                -F.log(F.lit(l3) * p3 + F.lit(l2) * p2 + F.lit(l1) * p1), 9
            ).alias("nll"),
        )
    )
    scored = trig.join(scored_tri, ["a", "b", "c"]).select("id", "nll")
    return scored.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_trigrams"),
        F.round(F.avg("nll"), 6).alias("logppl"),
    )


def utf8_expansion_by_lang(
    df: DataFrame,
) -> DataFrame:
    """Per-language UTF-8 byte economics: how many BYTES a character
    costs (CJK text triples storage and tokenizer byte-fallback load;
    ASCII English is 1.0), and what share of documents is pure ASCII.
    Planning input for byte-level tokenizers and storage budgeting —
    a corpus's byte mix, not its char mix, is what a 100 TB quota
    actually buys.

    Output per lang: ``(lang, n_docs, n_chars, n_bytes, bytes_per_char,
    ascii_doc_share)``.

    Plan / 100 TB: MAP-ONLY per-row byte/char lengths (no tokenize, no
    explode) into one lang-grain aggregate with map-side partials.
    Pure-ASCII detection is the exact byte==char identity, not a regex
    scan.
    """
    rows = df.select(
        F.col("lang"),
        F.length(F.col("text")).cast("long").alias("nc"),
        F.octet_length(F.col("text")).cast("long").alias("nb"),
    )
    return rows.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nc").cast("bigint").alias("n_chars"),
        F.sum("nb").cast("bigint").alias("n_bytes"),
        F.when(
            F.sum("nc") > 0,
            F.round(
                F.sum("nb").cast("double") / F.sum("nc").cast("double"),
                6,
            ),
        ).alias("bytes_per_char"),
        F.round(
            F.avg((F.col("nb") == F.col("nc")).cast("double")), 6
        ).alias("ascii_doc_share"),
    )


def host_crawl_scorecard(
    df: DataFrame,
) -> DataFrame:
    """Per-HOST crawl curation scorecard: document volume, exact-dup
    rate (md5 of the body — mirror pages and boilerplate farms show up
    as hosts whose unique-text count collapses), token mass, and share
    of the corpus.  Host grain is where crawl curation acts — blocklists,
    rate limits, and per-domain quality cutoffs are all per-host knobs
    (the C4/RefinedWeb recipe), so the scorecard is the table those
    decisions read.

    Output per host: ``(host, n_docs, n_unique_texts, dup_rate,
    n_tokens, corpus_share)``.

    Plan / 100 TB: MAP-ONLY per-row host extraction + md5 + token count
    into one host-grain aggregate (count-distinct over the md5 partial-
    aggregates map-side); the corpus total rides in as a broadcast 1-row
    aggregate.  No document body survives the first aggregate.
    """
    host = F.lower(
        F.regexp_extract(
            F.col("url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1
        )
    )
    rows = df.select(
        host.alias("host"),
        F.md5(F.col("text")).alias("h"),
        token_count(F.col("text")).alias("nt"),
    )
    tot = F.broadcast(rows.agg(F.count("*").cast("long").alias("n_total")))
    return (
        rows.groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("h").cast("bigint").alias("n_unique_texts"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
        .crossJoin(tot)
        .select(
            "host",
            "n_docs",
            "n_unique_texts",
            F.round(
                1.0
                - F.col("n_unique_texts").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
            "n_tokens",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_total"), 6
            ).alias("corpus_share"),
        )
    )


def npmi_topic_coherence(
    df: DataFrame,
    top_terms: int = 10,
) -> DataFrame:
    """Per-source NPMI topic coherence (Bouma 2009; the standard topic-
    model eval, applied to each source's top terms): take the source's
    ``top_terms`` most frequent tokens, score every pair by normalized
    PMI over DOCUMENT co-occurrence, and average.  A source whose top
    terms keep appearing together reads as one coherent topic (≈ +1);
    independent terms → 0; terms that avoid each other → negative.  A
    never-co-occurring pair is -1 by convention.

        npmi(a,b) = ln(p(a,b) / (p(a)p(b))) / -ln p(a,b)

    with p() = document frequency / n_docs, computed per source.

    Output per source: ``(source, n_docs, n_pairs, coherence)``.

    Plan / 100 TB: one tokenize pass to (source, doc, token) PRESENCE
    grain filtered by the broadcast top-term set (top sets are
    sources × top_terms rows — model-sized, derived in one token-grain
    aggregate); pair co-occurrence is a self-join at that bounded
    presence grain, never over raw tokens.  ln terms round to 9 dp and
    the pair mean sums as DECIMAL.
    """
    pres = (
        df.select(
            F.col("source"),
            F.col("doc_id").alias("id"),
            F.explode(F.array_distinct(tokens(F.lower(F.col("text")))))
            .alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    tf = pres.groupBy("source", "tok").agg(F.count("*").alias("dfreq"))
    wtop = Window.partitionBy("source").orderBy(
        F.col("dfreq").desc(), F.col("tok").asc()
    )
    top = F.broadcast(
        tf.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= int(top_terms))
        .select("source", "tok", "dfreq")
    )
    nd = df.groupBy(F.col("source")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tp = pres.join(top, ["source", "tok"]).select("source", "id", "tok")
    pairs = (
        tp.alias("a")
        .join(
            tp.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.id") == F.col("b.id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.tok").alias("ta"),
            F.col("b.tok").alias("tb"),
        )
        .agg(F.count("*").alias("co"))
    )
    # every top-term pair, including the never-co-occurring ones
    allp = (
        top.alias("x")
        .join(
            top.alias("y"),
            (F.col("x.source") == F.col("y.source"))
            & (F.col("x.tok") < F.col("y.tok")),
        )
        .select(
            F.col("x.source").alias("source"),
            F.col("x.tok").alias("ta"),
            F.col("y.tok").alias("tb"),
            F.col("x.dfreq").alias("fa"),
            F.col("y.dfreq").alias("fb"),
        )
    )
    scored = (
        allp.join(pairs, ["source", "ta", "tb"], "left")
        .join(F.broadcast(nd), "source")
        .withColumn(
            "npmi",
            # conventions at the degenerate poles: never co-occur -> -1;
            # co-occur in EVERY doc -> +1 (the -ln p(a,b) denominator is 0)
            F.when(F.coalesce(F.col("co"), F.lit(0)) == 0, F.lit(-1.0))
            .when(F.col("co") == F.col("n_docs"), F.lit(1.0))
            .otherwise(
                F.round(
                    F.log(
                        F.col("co").cast("double")
                        * F.col("n_docs")
                        / (F.col("fa") * F.col("fb")).cast("double")
                    )
                    / -F.log(F.col("co").cast("double") / F.col("n_docs")),
                    9,
                )
            ),
        )
    )
    return scored.groupBy("source").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("npmi").cast("decimal(30,10)")).cast("double")
            / F.count("*"),
            6,
        ).alias("coherence"),
    )


def vocab_prune_impact(
    df: DataFrame,
    min_counts: tuple[int, ...] = (2, 5, 10),
) -> DataFrame:
    """What pruning rare vocabulary actually costs: for each candidate
    ``min_count`` threshold, the vocab size before/after, the share of
    token OCCURRENCES whose type gets pruned, and the sequence-length
    inflation if pruned tokens fall back to character pieces (each
    pruned occurrence re-tokenizes to ~len(token) char units — the
    byte/char-fallback a production tokenizer pays).  The table a vocab
    budget decision reads: tiny tail types are cheap to cut; cutting
    into the body inflates every sequence.

    Output per threshold: ``(min_count, vocab_before, vocab_after,
    pruned_token_share, length_inflation)``.

    Plan / 100 TB: ONE token-grain aggregate (count + summed char
    lengths per type, map-side partials); the threshold sweep is
    arithmetic over per-type rows unioned at threshold-count grain —
    the corpus is scanned once for the whole table.
    """
    toks = df.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    types = toks.groupBy("tok").agg(F.count("*").alias("n")).withColumn(
        "chars", F.col("n") * F.length(F.col("tok"))
    )
    # ONE aggregate carrying every threshold's conditional sums, exploded
    # to threshold grain after — a union of per-threshold aggs would
    # re-tokenize the corpus once per branch (the zonemap lesson)
    aggs = [F.count("*").cast("long").alias("vb"), F.sum("n").alias("tot")]
    for mc in min_counts:
        keep = F.col("n") >= int(mc)
        aggs += [
            F.sum(keep.cast("long")).cast("long").alias(f"va{mc}"),
            F.sum(F.when(~keep, F.col("n")).otherwise(0))
            .cast("long")
            .alias(f"pr{mc}"),
            (
                F.sum(F.when(keep, F.col("n")).otherwise(0))
                + F.sum(F.when(~keep, F.col("chars")).otherwise(0))
            ).cast("long").alias(f"ln{mc}"),
        ]
    one = types.agg(*aggs)
    arr = F.array(
        *[
            F.struct(
                F.lit(int(mc)).alias("min_count"),
                F.col(f"va{mc}").alias("va"),
                F.col(f"pr{mc}").alias("pr"),
                F.col(f"ln{mc}").alias("ln"),
            )
            for mc in min_counts
        ]
    )
    return one.select("vb", "tot", F.explode(arr).alias("w")).select(
        F.col("w.min_count").alias("min_count"),
        F.col("vb").cast("bigint").alias("vocab_before"),
        F.col("w.va").cast("bigint").alias("vocab_after"),
        F.round(
            F.col("w.pr").cast("double") / F.col("tot").cast("double"),
            6,
        ).alias("pruned_token_share"),
        F.round(
            F.col("w.ln").cast("double") / F.col("tot").cast("double"),
            6,
        ).alias("length_inflation"),
    )


def good_turing_mass(
    df: DataFrame,
    max_r: int = 5,
    ngram: int = 1,
) -> DataFrame:
    """Simple Good-Turing frequency re-estimation (Gale & Sampson): from
    the count-of-counts table N_r, the adjusted count
    r* = (r+1)·N_{r+1}/N_r for rare frequencies and the total UNSEEN
    probability mass p₀ = N₁/N — the number that says how much of the
    next corpus shard will be word types this one has never seen
    (directly: how fast ``vocab_coverage_curve`` will keep growing, and
    the smoothing floor an n-gram LM should reserve).

    Output per r in 1..``max_r``: ``(r, n_r, n_r_plus1, r_star,
    unseen_mass)`` (the unseen mass repeats — it belongs to the table,
    not a row).

    ``ngram`` picks the type universe: 1 = word types (needs a corpus
    with a real vocabulary tail), 3 = word trigrams (every corpus has a
    trigram tail — the form an n-gram LM smooths).

    Plan / 100 TB: tokenize scan → type-grain counts → count-of-counts
    — two map-side-combined aggregates, ending at ≤max_r+1 rows; the
    token total rides the same pass.
    """
    if ngram == 1:
        toks = df.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        ).filter(F.col("tok") != "")
    elif ngram == 3:
        toks = _ngram_rows(df, df.columns[0], 3).select(
            F.concat_ws(" ", "a", "b", "c").alias("tok")
        )
    else:
        raise ValueError(f"ngram must be 1 or 3, got {ngram}")
    types = toks.groupBy("tok").agg(F.count("*").alias("r"))
    coc = types.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    tot = F.broadcast(
        types.agg(F.sum("r").cast("double").alias("n_tokens"))
    )
    n1 = F.broadcast(
        coc.filter(F.col("r") == 1).select(F.col("n_r").alias("n1"))
    )
    nxt = coc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_plus1"))
    out = (
        coc.filter(F.col("r") <= int(max_r))
        .join(nxt, "r", "left")
        .crossJoin(tot)
        .crossJoin(n1)
    )
    return out.select(
        F.col("r").cast("bigint").alias("r"),
        "n_r",
        F.coalesce(F.col("n_r_plus1"), F.lit(0)).cast("bigint")
        .alias("n_r_plus1"),
        F.round(
            (F.col("r") + 1)
            * F.coalesce(F.col("n_r_plus1"), F.lit(0)).cast("double")
            / F.col("n_r"),
            6,
        ).alias("r_star"),
        F.round(F.col("n1").cast("double") / F.col("n_tokens"), 6)
        .alias("unseen_mass"),
    )


def chao1_vocab_estimate(
    df: DataFrame,
    ngram: int = 3,
) -> DataFrame:
    """Chao1 richness estimate of the TOTAL vocabulary (observed +
    unseen), bias-corrected form:

        V̂ = V_obs + N₁(N₁−1) / (2(N₂+1))

    with N₁/N₂ the singleton/doubleton type counts — the capture-
    recapture answer to "how many distinct types does the full
    population hold", where ``good_turing_mass`` prices the unseen
    PROBABILITY mass, this prices the unseen TYPE count (how much a
    dedup table or tokenizer vocab will still grow).  Also reports
    Good's sample coverage 1 − N₁/N.

    Output: one row — ``(v_observed, n1, n2, chao1, coverage)``.

    Plan / 100 TB: the ``good_turing_mass`` shape — tokenize scan →
    type-grain counts → ONE 1-row aggregate (conditional sums for N₁,
    N₂, V, N); everything is integer until the two final ratios.
    """
    if ngram == 1:
        toks = df.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        ).filter(F.col("tok") != "")
    elif ngram == 3:
        toks = _ngram_rows(df, df.columns[0], 3).select(
            F.concat_ws(" ", "a", "b", "c").alias("tok")
        )
    else:
        raise ValueError(f"ngram must be 1 or 3, got {ngram}")
    types = toks.groupBy("tok").agg(F.count("*").alias("r"))
    return types.agg(
        F.count("*").cast("long").alias("v"),
        F.sum((F.col("r") == 1).cast("long")).cast("long").alias("n1"),
        F.sum((F.col("r") == 2).cast("long")).cast("long").alias("n2"),
        F.sum("r").cast("long").alias("nt"),
    ).select(
        F.col("v").cast("bigint").alias("v_observed"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(
            F.col("v")
            + F.col("n1").cast("double")
            * (F.col("n1") - 1)
            / (2.0 * (F.col("n2") + 1)),
            6,
        ).alias("chao1"),
        F.round(
            1.0 - F.col("n1").cast("double") / F.col("nt"), 6
        ).alias("coverage"),
    )


def source_token_mutual_info(
    df: DataFrame,
) -> DataFrame:
    """Mutual information (nats) between the source label and the token
    distribution, over lowercase word TRIGRAMS (word grain is useless on
    a dense 31-type vocabulary; trigrams have a real frequency tail) —
    the single number answering "how much does knowing the source tell
    you about the text": MI ~ 0 means sources are stylistically
    interchangeable (deduping/mixing freely is safe), MI near H(source)
    means every source is its own dialect and per-source quotas act as
    hard topic filters.

        MI = sum_{s,t} (n_st/N) * ln(n_st*N / (n_s*n_t))

    Output: ONE row — ``(n_tokens, n_sources, n_types, mi_nats,
    h_source_nats, nmi)`` with ``nmi = mi/H(source)`` in [0, 1] (the
    uncertainty coefficient over the source marginal).

    Plan / 100 TB: one corpus scan collapses to (source, trigram)-grain
    counts (map-side partials), persisted SPILLABLY (registered — see
    ``release_persisted``; ADVICE r8) because three consumers derive
    from it (source marginals, token marginals, the
    term join) — vocabulary-scale, so it spills rather than pins like
    the model-sized localCheckpoint frames.  The term join is keyed on
    the token (vocabulary-grain exchange; the source marginal rides a
    broadcast).  Round 11 (guide §2.3, the round-10 decontaminate
    precedent): the trigram key is the 60-bit md5 CODE of the trigram
    string, changed in lockstep in the oracle — an 8-byte bigint through
    the count aggregate, the token-marginal window and the distinct
    count instead of a ~25-byte string; distinct 60-bit collisions at
    vocabulary scale are ~n²/2⁶¹ (≪1e-5 even at 10×), and both engines
    collide identically.  Per-term products round to 9 dp and sum as
    DECIMAL.
    """
    from ..functions.hashing import md5_bucket

    trips = _ngram_rows(df, "source", 3).select(
        F.col("id").alias("g"),
        md5_bucket(F.concat_ws(" ", "a", "b", "c")).alias("tok"),
    )
    counts = _persist_spillable(
        trips.groupBy("g", "tok").agg(F.count("*").cast("bigint").alias("c"))
    )
    n_g = counts.groupBy("g").agg(F.sum("c").cast("bigint").alias("n_g"))
    n_all = F.broadcast(
        n_g.agg(
            F.sum("n_g").cast("bigint").alias("n_all"),
            F.count("*").cast("bigint").alias("n_sources"),
        )
    )
    # token marginal via a whole-partition window over ``tok`` instead of
    # a separate vocabulary-grain aggregate joined back: the previous
    # shape exchanged the counts table by ``tok`` TWICE (once into the
    # n_t groupBy, once into the join) — the window computes the same
    # bigint sum with a single exchange (guide §2.4: two operations keyed
    # the same way share one exchange).  n_types moves into the final
    # aggregate, whose distinct-on-tok first phase is satisfied by the
    # window's hash partitioning, so it adds no exchange either.
    w_t = Window.partitionBy("tok")
    joined = (
        counts.withColumn("n_t", F.sum("c").over(w_t).cast("bigint"))
        .join(F.broadcast(n_g), "g")
        .crossJoin(n_all)
    )
    term = F.round(
        (F.col("c").cast("double") / F.col("n_all").cast("double"))
        * F.log(
            (F.col("c").cast("double") * F.col("n_all").cast("double"))
            / (F.col("n_g").cast("double") * F.col("n_t").cast("double"))
        ),
        9,
    )
    mi = joined.agg(
        F.max("n_all").cast("bigint").alias("n_tokens"),
        F.max("n_sources").cast("bigint").alias("n_sources"),
        F.round(F.sum(term.cast("decimal(30,10)")).cast("double"), 6).alias(
            "mi_nats"
        ),
        F.count_distinct(F.col("tok")).cast("bigint").alias("n_types"),
    )
    hterm = F.round(
        -(F.col("n_g").cast("double") / F.col("n_all").cast("double"))
        * F.log(F.col("n_g").cast("double") / F.col("n_all").cast("double")),
        9,
    )
    h_src = (
        n_g.crossJoin(n_all)
        .agg(
            F.round(
                F.sum(hterm.cast("decimal(30,10)")).cast("double"), 6
            ).alias("h_source_nats")
        )
    )
    return (
        mi.crossJoin(F.broadcast(h_src))
        .select(
            "n_tokens",
            "n_sources",
            "n_types",
            "mi_nats",
            "h_source_nats",
            F.when(
                F.col("h_source_nats") > 0,
                F.round(F.col("mi_nats") / F.col("h_source_nats"), 6),
            ).alias("nmi"),
        )
    )


def source_js_divergence_matrix(
    df: DataFrame,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between every two
    sources' trigram distributions — the DISTRIBUTIONAL companion of
    ``cross_source_dup_matrix`` (which counts shared documents): two
    crawls can share zero documents yet be stylistic clones, and a
    mixture planner merging quota buckets wants exactly this matrix.
    Symmetric, bounded in [0, ln 2]; one-sided (non-shared-support) mass
    enters in closed form, so the join only ever materializes tokens
    the pair SHARES:

        JSD = sum_{t in both} [(p1/2)ln(2p1/(p1+p2)) + (p2/2)ln(2p2/(p1+p2))]
              + (ln2/2) * (2 - m1 - m2)

    with m1, m2 the two distributions' mass on the shared support.

    Output per pair (a < b): ``(source_a, source_b, n_common_types,
    jsd_nats)`` — ALL pairs appear (a disjoint-support pair reports
    n_common_types = 0, jsd = ln 2 exactly).

    Plan / 100 TB: (source, trigram) counts persist spillably once
    (registered — see ``release_persisted``; ADVICE r8); the
    pair join is keyed on the TOKEN, so a hot token fans out to at most
    n_sources^2 pair rows (bounded by the label cardinality, never by
    corpus volume); the pair grid itself (n_sources^2 rows) is a
    broadcast cross of the model-sized marginals.  Round 11 (guide
    §2.3): the trigram key is the 60-bit md5 CODE, lockstep in the
    oracle — see ``source_token_mutual_info`` — so the count aggregate
    and the pair join shuffle 8-byte bigints instead of strings.
    Per-term sums round to 9 dp and accumulate as DECIMAL.
    """
    from ..functions.hashing import md5_bucket

    trips = _ngram_rows(df, "source", 3).select(
        F.col("id").alias("g"),
        md5_bucket(F.concat_ws(" ", "a", "b", "c")).alias("tok"),
    )
    counts = _persist_spillable(
        trips.groupBy("g", "tok").agg(F.count("*").cast("bigint").alias("c"))
    )
    totals = counts.groupBy("g").agg(F.sum("c").cast("bigint").alias("n"))
    a = counts.select(F.col("g").alias("ga"), "tok", F.col("c").alias("ca"))
    b = counts.select(F.col("g").alias("gb"), "tok", F.col("c").alias("cb"))
    common = (
        a.join(b, "tok")
        .filter(F.col("ga") < F.col("gb"))
        .join(F.broadcast(totals.select(F.col("g").alias("ga"), F.col("n").alias("na"))), "ga")
        .join(F.broadcast(totals.select(F.col("g").alias("gb"), F.col("n").alias("nb"))), "gb")
    )
    p1 = F.col("ca").cast("double") / F.col("na").cast("double")
    p2 = F.col("cb").cast("double") / F.col("nb").cast("double")
    bt = F.round(
        (p1 / F.lit(2.0)) * F.log(F.lit(2.0) * p1 / (p1 + p2))
        + (p2 / F.lit(2.0)) * F.log(F.lit(2.0) * p2 / (p1 + p2)),
        9,
    )
    pair_agg = common.groupBy("ga", "gb").agg(
        F.sum(bt.cast("decimal(30,10)")).cast("double").alias("sb"),
        F.sum("ca").cast("bigint").alias("s1"),
        F.sum("cb").cast("bigint").alias("s2"),
        F.count("*").cast("bigint").alias("n_common_types"),
    )
    grid = (
        totals.select(F.col("g").alias("ga"), F.col("n").alias("na"))
        .crossJoin(
            F.broadcast(totals.select(F.col("g").alias("gb"), F.col("n").alias("nb")))
        )
        .filter(F.col("ga") < F.col("gb"))
    )
    out = grid.join(pair_agg, ["ga", "gb"], "left")
    s1 = F.coalesce(F.col("s1"), F.lit(0)).cast("double")
    s2 = F.coalesce(F.col("s2"), F.lit(0)).cast("double")
    oneside = F.round(
        (F.log(F.lit(2.0)) / F.lit(2.0))
        * (
            F.lit(2.0)
            - s1 / F.col("na").cast("double")
            - s2 / F.col("nb").cast("double")
        ),
        9,
    )
    return out.select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        F.coalesce(F.col("n_common_types"), F.lit(0)).cast("bigint").alias(
            "n_common_types"
        ),
        F.round(F.coalesce(F.col("sb"), F.lit(0.0)) + oneside, 6).alias(
            "jsd_nats"
        ),
    )


def kneser_ney_bigram_ppl(
    df: DataFrame,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document log-perplexity under an (interpolated) Kneser-Ney
    bigram LM — the smoothing KenLM actually ships, one rung above the
    registry's stupid-backoff bigram (``bigram_logppl``) and
    Jelinek-Mercer trigram (``interp_trigram_logppl``): absolute
    discounting frees mass proportional to context FAN-OUT, and the
    lower-order distribution is the CONTINUATION unigram (how many
    contexts a word completes), not raw frequency — the fix for the
    "San Francisco" pathology where frequent-but-predictable words
    steal backoff mass.

        p(b|a) = max(c(a,b) − D, 0)/c(a·)
                 + (D · N1+(a·)/c(a·)) · N1+(·b)/N1+(··)

    Self-trained on ``df`` (the CCNet self-scoring shape); docs with
    < 2 tokens emit no bigram and are absent.

    Output per doc: ``(doc_id, n_bigrams, kn_logppl)``.

    Plan / 100 TB: ONE bigram count table (bigram-vocab grain, persisted
    via the registered ``release_persisted`` pool — ADVICE r8;
    spillably) feeds every model marginal — left totals + fan-out,
    continuation fan-in, and the grand continuation total — so the
    corpus tokenizes exactly twice (model build + scoring stream); the
    scoring joins are token-keyed, never document-keyed.  Round 11: the
    per-position nll is a pure function of the bigram (a, b), so it is
    computed ONCE per distinct bigram ON the count table (the marginal
    joins run at bigram-vocab grain) and attached to the occurrence
    stream with a single (a, b)-keyed join — the previous shape
    exchanged the full occurrence stream three times (keys ab, a, b;
    guide §2.3).  Per-position NLLs round to 9 dp and DECIMAL-sum per
    doc.
    """
    bp = _ngram_rows(df, "doc_id", 2)
    c12 = _persist_spillable(
        bp.groupBy("a", "b").agg(F.count("*").cast("bigint").alias("n2"))
    )
    left = c12.groupBy("a").agg(
        F.sum("n2").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("n1pl"),
    )
    right = c12.groupBy("b").agg(F.count("*").cast("bigint").alias("n1pr"))
    tot = F.broadcast(c12.agg(F.count("*").cast("bigint").alias("n1pt")))
    d = F.lit(float(discount))
    p = F.greatest(F.col("n2").cast("double") - d, F.lit(0.0)) / F.col(
        "c1"
    ).cast("double") + (d * F.col("n1pl").cast("double") / F.col("c1").cast("double")) * (
        F.col("n1pr").cast("double") / F.col("n1pt").cast("double")
    )
    nll = F.round(-F.log(p), 9)
    scored_bi = (
        c12.join(left, "a")
        .join(right, "b")
        .crossJoin(tot)
        .select("a", "b", nll.alias("nll"))
    )
    scored = bp.join(scored_bi, ["a", "b"])
    return (
        scored.select("id", "nll")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("nll").cast("decimal(30,10)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("kn_logppl"),
        )
    )


def term_burstiness_profile(
    df: DataFrame,
    top: int = 30,
) -> DataFrame:
    """Church-Gale burstiness profile of the ``top`` most frequent terms:
    content words BURST (a doc that mentions them once mentions them
    again — variance far above Poisson) while function words spread
    evenly, so the variance-to-mean ratio of per-document counts
    separates topical vocabulary from glue even with no stopword list —
    and a VMR near 1 across the board is the fingerprint of synthetic
    shuffled text.

    Per term: total frequency, document frequency, mean count per doc
    (zeros included), the VMR, and the mean count within the docs that
    contain it (the Church-Gale "burstiness" statistic tf/df).

    Output: ``(term, tf, df_docs, mean_per_doc, vmr,
    mean_when_present)`` for the top-``top`` terms (ties break on the
    term).

    Plan / 100 TB: one (doc, term)-grain count, one term-grain moment
    aggregate (sums of c and c² — exact integers), a TakeOrdered
    top-``top``, and the doc-count scalar broadcast.  Zeros never
    materialize: their moment contribution is algebraic.
    """
    tc = df.select(
        F.col("doc_id").alias("id"), F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "").groupBy("id", "term").agg(
        F.count("*").cast("bigint").alias("c")
    )
    stats = (
        tc.groupBy("term")
        .agg(
            F.sum("c").cast("bigint").alias("tf"),
            F.count("*").cast("bigint").alias("df_docs"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        )
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(int(top))
    )
    n_docs = F.broadcast(df.agg(F.count("*").cast("bigint").alias("n_docs")))
    mean = F.col("tf").cast("double") / F.col("n_docs").cast("double")
    ex2 = F.col("s2").cast("double") / F.col("n_docs").cast("double")
    return stats.crossJoin(n_docs).select(
        "term",
        "tf",
        "df_docs",
        F.round(mean, 6).alias("mean_per_doc"),
        F.round((ex2 - mean * mean) / mean, 6).alias("vmr"),
        F.round(
            F.col("tf").cast("double") / F.col("df_docs").cast("double"), 6
        ).alias("mean_when_present"),
    )


def hill_tail_index(
    df: DataFrame,
    k: int = 100,
) -> DataFrame:
    """Hill estimator (Hill 1975) of the corpus frequency-distribution
    tail index over word-TRIGRAM types — the MLE companion of
    ``zipf_fit``'s OLS slope: the OLS line is dominated by the head,
    the Hill estimator reads only the top-``k`` order statistics, which
    is where heavy-tail behavior actually lives:

        α̂ = [ (1/k) Σ_{i=1..k} ln f_(i) − ln f_(k+1) ]^{-1}

    over frequencies sorted descending (ties → lexicographic type, which
    cannot change the value — tied boundary frequencies are equal).
    Trigram grain for the reason ``source_token_mutual_info`` gives: the
    synthetic corpus's word vocabulary is ~31 dense types with no tail at
    all.

    Output: ONE row ``(k, n_types, f_k1, hill_alpha)``; empty (zero
    rows) when the corpus has fewer than k+1 trigram types.

    Plan / 100 TB: one corpus scan collapses to trigram-type counts
    (map-side partials); the top-(k+1) order statistics come from a
    distributed TakeOrdered (never a global sort), and all remaining
    arithmetic runs on that model-sized frame.  Per-type ln rounds to
    9 dp and sums as DECIMAL.
    """
    trips = _ngram_rows(df, "doc_id", 3).select(
        F.concat_ws(" ", "a", "b", "c").alias("tok")
    )
    counts = trips.groupBy("tok").agg(F.count("*").cast("bigint").alias("f"))
    n_types = counts.agg(F.count("*").cast("bigint").alias("n_types"))
    top = counts.orderBy(F.col("f").desc(), F.col("tok").asc()).limit(k + 1)
    w = Window.orderBy(F.col("f").desc(), F.col("tok").asc())
    ranked = top.withColumn("r", F.row_number().over(w))
    lnf = F.round(F.log(F.col("f").cast("double")), 9)
    head = ranked.filter(F.col("r") <= k).agg(
        (
            F.sum(lnf.cast("decimal(30,10)")).cast("double")
            / F.lit(float(k))
        ).alias("mean_ln")
    )
    boundary = ranked.filter(F.col("r") == k + 1).select(
        F.col("f").alias("f_k1"), lnf.alias("ln_k1")
    )
    return (
        boundary.crossJoin(F.broadcast(head))
        .crossJoin(F.broadcast(n_types))
        .select(
            F.lit(int(k)).cast("bigint").alias("k"),
            "n_types",
            "f_k1",
            # flat-head guard (the KMV hk=0 lesson): if every top-(k+1)
            # frequency is equal the denominator is 0 — NULL on both
            # engines, never a div-by-zero artifact
            F.when(
                F.col("mean_ln") > F.col("ln_k1"),
                F.round(
                    F.lit(1.0) / (F.col("mean_ln") - F.col("ln_k1")), 6
                ),
            ).alias("hill_alpha"),
        )
    )

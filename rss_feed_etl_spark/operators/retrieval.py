"""Keyword retrieval over the document corpus: inverted-index postings and
BM25 ranking.

These generalize the reference's keyword machinery (P6 keyword filters,
run_job_filter.py:206-237, and the TF-IDF scorer, src/utils/ats_matcher.py:
20-37) into the corpus-scale retrieval operators a training-data pipeline
needs: given 100 TB of documents, find / rank the ones matching a term set
without ever materializing a dense doc-term matrix.

Scale shape:
- Tokenization, term filtering, and per-document term frequencies are pure
  Catalyst expressions; documents that contain no query term are dropped
  BEFORE the explode (``F.filter`` on the token array), so the exploded /
  shuffled row count is proportional to matches, not corpus size.
- Document-frequency and corpus statistics are tiny aggregates (bytes per
  term); they reach the score join as broadcasts.
- The only corpus-wide exchange in ``inverted_index`` is the groupBy(term)
  over DISTINCT (doc, term) pairs — exactly the postings being built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens

BM25_K1 = 1.2
BM25_B = 0.75


def inverted_index(
    df: DataFrame,
    min_df: int = 2,
    max_postings: int = 10,
) -> DataFrame:
    """Build inverted-index postings: term → document frequency + the first
    ``max_postings`` doc ids (ascending).

    Postings are truncated per term (the standard impact-ordered-index
    guard) so a stopword-like term cannot produce an unbounded row; the
    full df count is still exact.  ``min_df`` drops hapax/near-hapax terms,
    which at corpus scale are the vast majority of the vocabulary.
    Postings are emitted as a comma-joined string — a stable, engine-
    neutral sink encoding (ArrayType stays internal).
    """
    ex = df.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(tokens("text"))).alias("term"),
    )
    return (
        ex.groupBy("term")
        .agg(
            F.count("*").alias("dfreq"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, max_postings), ","
            ).alias("postings"),
        )
        .filter(F.col("dfreq") >= min_df)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    topk: int = 20,
) -> DataFrame:
    """Rank documents against a bag of query terms with BM25
    (idf = ln(1 + (N - df + ½)/(df + ½)), Robertson/Sparck-Jones).

    Two passes over the corpus: one tiny aggregate for (N, avgdl), one
    tokenize+filter scan for term frequencies.  Only rows for documents
    that contain ≥1 query term survive to the shuffle, and the per-term
    idf/stat frames are broadcast — the plan's cost is O(matching docs),
    never O(corpus) past the scans.  Scores are rounded to 6dp BEFORE the
    top-k ordering so the ranking is discrete and reproducible across
    engines/summation orders; ties break by doc id.
    """
    toks = df.select(F.col("doc_id"), tokens("text").alias("toks"))
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )

    q = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        toks.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.filter("toks", lambda t: F.array_contains(q, t)).alias("hits"),
        )
        .filter(F.size("hits") > 0)
        .select("doc_id", "dl", F.explode("hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf is (doc, term)-grained, so doc_ids are already distinct per term —
    # a plain count avoids count_distinct's partial-aggregation-defeating
    # expansion on the term exchange
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfreq") + F.lit(0.5)) / (F.col("dfreq") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf")
        * (F.lit(BM25_K1) + 1.0)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
    )


def rrf_fusion(
    rankings: list[DataFrame],
    k: int = 60,
    top: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    combine several ranked retrieval lists —
    rrf(d) = Σ over lists of 1/(k + rank_list(d)) — the standard way to
    fuse lexical (BM25) and dense (ANN) retrieval without score
    calibration.

    Each input frame is a top-k result list (id, score), so every
    per-list rank window and the fused aggregate run over k-sized data —
    the heavy retrieval work already happened upstream.  Ranks derive
    from (score desc, id) so fusion is deterministic; the fused score is
    rounded to 9dp before the final ordering.
    """
    from pyspark.sql import Window

    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(
            F.col("doc_id").alias("id"),
            F.col("score").alias("s"),
            F.lit(i).alias("list_id"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    rank_w = Window.partitionBy("list_id").orderBy(F.col("s").desc(), F.col("id").asc())
    ranked = tagged.withColumn("rank", F.row_number().over(rank_w))
    return (
        ranked.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.round(F.sum(1.0 / (F.lit(k) + F.col("rank"))), 9).alias("rrf_score"),
            F.count("*").cast("bigint").alias("n_lists"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(top)
    )


def bm25_multi_topk(
    df: DataFrame,
    queries: dict[str, list[str]],
    topk: int = 20,
) -> DataFrame:
    """BM25 top-k for MANY queries in ONE corpus pass — the batch-eval
    shape: scoring q queries must not cost q scans.

    The union of all query terms filters the corpus once; per-term
    document frequencies are computed once; the (query, term) incidence
    is a broadcast (queries are tiny by definition), so fanning a matched
    term out to the queries that contain it costs no shuffle.  The only
    wide operations are the tf groupBy and the per-query top-k window —
    both keyed fine-grained enough to never concentrate the corpus.
    Output: (query_id, doc_id, rnk, score).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    toks = df.select(F.col("doc_id"), tokens("text").alias("toks"))
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    qdf = spark.createDataFrame(
        [(q, t) for q, ts in queries.items() for t in ts],
        "query_id string, term string",
    )
    universe = F.array(*[F.lit(t) for t in all_terms])
    tf = (
        toks.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.filter("toks", lambda t: F.array_contains(universe, t)).alias("hits"),
        )
        .filter(F.size("hits") > 0)
        .select("doc_id", "dl", F.explode("hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfreq") + F.lit(0.5)) / (F.col("dfreq") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf") * (F.lit(BM25_K1) + 1.0)
        / (F.col("tf") + F.lit(BM25_K1)
           * (F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qdf), "term")
        .join(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "doc_id", "rnk", "score")
    )


def rank_metrics(
    ranked: DataFrame,
) -> DataFrame:
    """Retrieval-quality metrics per query over a ranked list with graded
    relevance: nDCG (gain (2^rel − 1)/log2(pos+1), ideal ranking = rel
    desc over the retrieved set) and MRR (reciprocal rank of the first
    result with rel ≥ 2).

    Input is a top-k list per query, so every window and aggregate here
    runs on k-sized groups — the metrics layer adds no corpus-scale work
    regardless of how the ranking was produced (BM25, ANN, fused).
    """
    from pyspark.sql import Window

    gain = F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)
    iw = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    staged = ranked.withColumn("__ipos", F.row_number().over(iw))
    dcg = F.sum(gain / F.log2(F.col("rnk") + 1.0))
    idcg = F.sum(gain / F.log2(F.col("__ipos") + 1.0))
    first_rel = F.min(
        F.when(F.col("rel") >= 2, F.col("rnk"))
    )
    return staged.groupBy("query_id").agg(
        F.round(
            F.when(idcg > 0, dcg / idcg).otherwise(F.lit(0.0)), 6
        ).alias("ndcg"),
        F.round(
            F.coalesce(1.0 / first_rel, F.lit(0.0)), 6
        ).alias("mrr"),
        F.count("*").cast("bigint").alias("n_ranked"),
    )


def prf_query_expansion(
    df: DataFrame,
    query_terms: list[str],
    fb_docs: int = 10,
    fb_terms: int = 5,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio/RM1-lite): run
    BM25, take the top ``fb_docs`` documents as assumed-relevant feedback,
    and mine the ``fb_terms`` terms that are frequent in the feedback set
    but rare in the corpus (feedback TF × corpus IDF) — the classic
    recall-repair loop a retrieval pipeline runs when the literal query
    under-matches.

    Stopwords and the original query terms are excluded; scores round to
    6dp before ranking, ties break on the term, so the expansion set is
    reproducible cross-engine.

    Output: ``(term, fb_tf, dfreq, score, rank)``.

    Plan / 100 TB: BM25's own O(matching docs) plan produces the tiny
    feedback id set (broadcast); feedback TFs come from a semi-joined
    scan slice; corpus document frequencies are computed ONLY for the
    candidate terms (broadcast semi-join BEFORE the distinct-count
    shuffle).  The final ranking window is unpartitioned but runs over
    the feedback vocabulary — bounded by ``fb_docs`` documents' distinct
    terms, never the corpus.
    """
    from .textstats import STOPWORDS_EN

    fb = (
        bm25_topk(
            df, query_terms, topk=fb_docs,
        )
        .select("doc_id")
    )
    toks = df.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("term")
    )
    fb_tf = (
        toks.join(F.broadcast(fb), "doc_id")
        .filter(
            ~F.lower(F.col("term")).isin(STOPWORDS_EN)
            & ~F.col("term").isin(query_terms)
            & (F.col("term") != "")
        )
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("fb_tf"))
    )
    dfreq = (
        toks.join(F.broadcast(fb_tf.select("term")), "term")
        .groupBy("term")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("dfreq"))
    )
    n_docs = df.agg(F.count("*").cast("bigint").alias("n_docs"))
    scored = (
        fb_tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "fb_tf",
            "dfreq",
            F.round(
                F.col("fb_tf")
                * F.log(F.col("n_docs") / F.col("dfreq").cast("double")),
                6,
            ).alias("score"),
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= fb_terms)
        .select("term", "fb_tf", "dfreq", "score", F.col("rank").cast("int").alias("rank"))
    )


def query_likelihood_topk(
    df: DataFrame,
    query_terms: list[str],
    mu: float = 300.0,
    topk: int = 20,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty) —
    the language-modeling classic next to ``bm25_topk``, and the better
    ranker on short queries/long docs:

        score(q, d) = Σ_t ln( (tf_{t,d} + μ·cf_t/|C|) / (dl_d + μ) )

    Every query term contributes for every CANDIDATE document (a doc
    matching ≥1 term) — absent terms pull the score down through the
    collection prior, which is exactly the smoothing BM25 lacks.

    Plan / 100 TB: one tokenize scan builds candidate (doc, dl) rows and
    per-(doc, term) tfs; the query-term collection stats (cf_t, |C|) are
    a broadcast few-row frame, so the candidate × query-term expansion
    is |candidates|·|q| — never O(corpus·q) past the scan.  Scores round
    to 6 dp BEFORE the top-k so the ranking is discrete and
    engine-reproducible; ties break by doc id.
    """
    from ..functions.text import tokens

    toks = df.select(F.col("doc_id"), tokens("text").alias("toks"))
    q = F.array(*[F.lit(t) for t in query_terms])
    ctot = toks.agg(F.sum(F.size("toks")).cast("double").alias("c_total"))
    ex = toks.select("doc_id", F.explode("toks").alias("term"))
    cf = (
        ex.filter(F.array_contains(q, F.col("term")))
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("cf"))
    )
    cand = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.filter("toks", lambda t: F.array_contains(q, t)).alias("hits"),
    ).filter(F.size("hits") > 0)
    tf = (
        cand.select("doc_id", F.explode("hits").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    qterms = F.broadcast(cf.crossJoin(ctot))
    scored = (
        cand.select("doc_id", "dl")
        .crossJoin(qterms)
        .join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            F.round(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0.0))
                        + F.lit(float(mu)) * F.col("cf") / F.col("c_total")
                    )
                    / (F.col("dl") + F.lit(float(mu)))
                ),
                9,
            ).alias("t"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("t").cast("decimal(30,10)")).cast("double"), 6
            ).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
    )


def postinglist_compression_plan(
    df: DataFrame,
    n_buckets: int = 10,
) -> DataFrame:
    """Index-engineering advisor: for the inverted index this corpus
    would build, estimate bits-per-posting under the three standard
    posting-list encodings — delta+varint (gap bit-lengths, 8 bits per
    7), Elias-Fano (≈⌈log₂(U/n)⌉+2 bits, here the integer bit-length of
    ⌊U/n⌋ plus 2 — documented approximation, integer-exact on both
    engines), and a plain bitmap (U/n bits per posting) — aggregated by
    document-frequency decile, with the cheapest encoding named.  Rare
    terms want varint, mid terms Elias-Fano, stop-word-dense terms a
    bitmap: the decile table shows exactly where the crossovers land on
    THIS corpus.

    Output per df-decile: ``(df_bucket, n_terms, n_postings,
    varint_bits, ef_bits, bitmap_bits, best_encoding)``.

    Plan / 100 TB: tokenize scan → (term, doc) presence grain → one lag
    window per term for gaps (term-partitioned, the inverted_index
    shape) → decile-grain aggregate.  All size math is integer bit
    lengths via ``bin()`` — no floating log whose last-ulp could flip a
    floor cross-engine.
    """
    from ..functions.text import tokens

    pres = (
        df.select(
            F.col("doc_id").alias("doc"),
            F.explode(F.array_distinct(tokens("text"))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    u = F.broadcast(
        df.agg((F.max(F.col("doc_id")) + 1).cast("long").alias("U"))
    )
    w = Window.partitionBy("term").orderBy("doc")
    gaps = pres.withColumn(
        "gap", F.col("doc") - F.coalesce(F.lag("doc").over(w), F.lit(-1))
    ).withColumn(
        "vbits",
        8 * F.ceil(F.length(F.bin(F.greatest(F.col("gap"), F.lit(1)))) / 7.0)
        .cast("long"),
    )
    terms = gaps.groupBy("term").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vbits").cast("long").alias("varint_total"),
    )
    ntile = F.ntile(int(n_buckets)).over(
        Window.orderBy(F.col("n").asc(), F.col("term").asc())
    )
    scored = (
        terms.withColumn("df_bucket", ntile)
        .crossJoin(u)
        .withColumn(
            "ef_bits_term",
            (
                F.length(F.bin(F.floor(F.col("U") / F.col("n")).cast("long")))
                + 2
            ).cast("long")
            * F.col("n"),
        )
        .withColumn(
            "bitmap_bits_term", F.col("U").cast("long")
        )
    )
    agg = scored.groupBy("df_bucket").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("n").cast("bigint").alias("n_postings"),
        F.round(
            F.sum("varint_total").cast("double") / F.sum("n"), 6
        ).alias("varint_bits"),
        F.round(
            F.sum("ef_bits_term").cast("double") / F.sum("n"), 6
        ).alias("ef_bits"),
        F.round(
            F.sum("bitmap_bits_term").cast("double") / F.sum("n"), 6
        ).alias("bitmap_bits"),
    )
    best = (
        F.when(
            (F.col("varint_bits") <= F.col("ef_bits"))
            & (F.col("varint_bits") <= F.col("bitmap_bits")),
            F.lit("varint"),
        )
        .when(F.col("ef_bits") <= F.col("bitmap_bits"), F.lit("elias_fano"))
        .otherwise(F.lit("bitmap"))
    )
    return agg.select(
        F.col("df_bucket").cast("bigint").alias("df_bucket"),
        "n_terms", "n_postings", "varint_bits", "ef_bits", "bitmap_bits",
        best.alias("best_encoding"),
    )


def rank_biased_overlap(
    a: DataFrame,
    b: DataFrame,
    depth: int = 20,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between two
    rankings of the same query, truncated at ``depth`` — the standard
    top-weighted answer to "do these two rankers agree?", used here to
    compare lexical rankers (e.g. BM25 vs Dirichlet query-likelihood)
    before fusing them:

        RBO@k = sum_{d=1..k} (1-p) * p^(d-1) * |A_1..d ∩ B_1..d| / d

    Persistence is FIXED at p = 1/2: every weight (1-p)p^(d-1) = 2^-d is
    then an exact power of two, computed as ``1.0 / (1 << d)`` — integer
    shift, never libm ``pow``, which differs across engines in the last
    ulp (the house pow() ban).  ``depth`` must be <= 62 for the shift.

    Ranks within each list are (score desc, id asc) so ties are
    deterministic.  Output is ONE row: ``(depth, n_common,
    agreement_at_k, rbo)`` — n_common and agreement at the full depth,
    plus the top-weighted RBO.

    Plan / 100 TB: both inputs are top-k rankings — MODEL-SIZED by
    construction (the expensive work lives in the upstream rankers) —
    so every step here (two <= depth-row windows, one outer join, a
    depth x pairs cross product of <= depth^2 rows) is broadcast-scale
    arithmetic.  Per-depth terms round to 9 dp and sum as DECIMAL, the
    standard exact-trajectory contract.
    """
    if depth > 62:
        raise ValueError(f"depth must be <= 62 for exact 2^-d weights, got {depth}")

    def ranked(df: DataFrame, side: str) -> DataFrame:
        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        return (
            df.select("doc_id", "score")
            .withColumn(side, F.row_number().over(w))
            .filter(F.col(side) <= depth)
            .select(F.col("doc_id").alias("id"), side)
        )

    pairs = ranked(a, "ra").join(ranked(b, "rb"), "id", "full_outer")
    depths = a.sparkSession.range(1, depth + 1).select(F.col("id").alias("d"))
    hit = (
        (F.col("ra").isNotNull() & F.col("rb").isNotNull())
        & (F.col("ra") <= F.col("d"))
        & (F.col("rb") <= F.col("d"))
    ).cast("long")
    per_depth = (
        depths.crossJoin(F.broadcast(pairs))
        .groupBy("d")
        .agg(F.sum(hit).cast("long").alias("inter"))
    )
    # PySpark's shiftleft() only takes a literal bit count; the SQL form
    # accepts a column, and the shift gives the EXACT 2^d the weight needs
    weight = F.lit(1.0) / F.expr(
        "cast(shiftleft(cast(1 as bigint), cast(d as int)) as double)"
    )
    term = F.round(
        F.col("inter").cast("double") / F.col("d").cast("double") * weight, 9
    )
    return per_depth.agg(
        F.max("d").cast("int").alias("depth"),
        F.max(F.when(F.col("d") == depth, F.col("inter"))).cast("bigint").alias("n_common"),
        F.round(
            F.max(F.when(F.col("d") == depth, F.col("inter"))).cast("double")
            / F.lit(float(depth)),
            6,
        ).alias("agreement_at_k"),
        F.round(
            F.sum(term.cast("decimal(30,10)")).cast("double"), 6
        ).alias("rbo"),
    )


def kendall_tau_rankings(
    a: DataFrame,
    b: DataFrame,
    depth: int = 20,
) -> DataFrame:
    """Kendall's τ between two rankings of the same query, truncated at
    ``depth`` — the PAIRWISE companion of :func:`rank_biased_overlap`
    (RBO asks "how much do the prefixes overlap"; τ asks "of the items
    both rankers retrieved, how often do they ORDER a pair the same
    way").  Computed over the intersection of the two top-``depth``
    lists; within-list ranks are distinct ((score desc, id asc)), so no
    tie correction is needed (τ-a):

        τ = (C − D) / (m·(m−1)/2)

    with m the intersection size and C/D the concordant/discordant pair
    counts.  Output is ONE row: ``(n_common, n_pairs, concordant,
    discordant, kendall_tau)`` — τ is NULL when m < 2 (no pairs).

    Plan / 100 TB: both inputs are top-k rankings — model-sized by
    construction — so the intersection join and the m·(m−1)/2 pair
    expansion are broadcast-scale arithmetic (≤ depth² rows); the
    corpus-scale work lives in the upstream rankers.

    Reference anchor: the reference serves one fixed scorer
    (src/utils/ats_matcher.py); this is the second-scorer agreement
    audit, like ``rank_biased_overlap``.
    """

    def ranked(df: DataFrame, side: str) -> DataFrame:
        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        return (
            df.select("doc_id", "score")
            .withColumn(side, F.row_number().over(w))
            .filter(F.col(side) <= depth)
            .select(F.col("doc_id").alias("id"), side)
        )

    joint = ranked(a, "ra").join(ranked(b, "rb"), "id")
    m = joint.agg(F.count("*").cast("bigint").alias("n_common"))
    l = joint.select(
        F.col("id").alias("i"), F.col("ra").alias("rai"), F.col("rb").alias("rbi")
    )
    r = joint.select(
        F.col("id").alias("j"), F.col("ra").alias("raj"), F.col("rb").alias("rbj")
    )
    prod = (F.col("rai") - F.col("raj")) * (F.col("rbi") - F.col("rbj"))
    pairs = l.join(r, F.col("i") < F.col("j")).select(
        (prod > 0).cast("long").alias("c"), (prod < 0).cast("long").alias("d")
    )
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("concordant"),
        F.coalesce(F.sum("d"), F.lit(0)).cast("bigint").alias("discordant"),
    )
    return m.crossJoin(F.broadcast(agg)).select(
        "n_common",
        "n_pairs",
        "concordant",
        "discordant",
        F.when(
            F.col("n_pairs") > 0,
            F.round(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ),
        ).alias("kendall_tau"),
    )


def query_clarity_score(
    df: DataFrame,
    query_terms: list[str],
    fb_docs: int = 10,
) -> DataFrame:
    """Query clarity (Cronen-Townsend, Zhou & Croft 2002) — the classic
    pre-retrieval-quality predictor: KL divergence between the language
    model of the top-``fb_docs`` retrieved documents and the corpus
    language model.  A HIGH clarity query pulls a topically coherent
    result set (its LM diverges sharply from the background); a low
    clarity query retrieves "the corpus in miniature" and its results
    are unlikely to be useful — the signal a retrieval pipeline uses to
    gate query expansion or re-ranking spend.

    Both models are MLE over word TRIGRAMS (the corpus's unigram
    vocabulary is too dense to carry signal, as in ``source_token_mutual_info``);
    the KL sum runs over the feedback set's trigram support, where both
    models are positive by construction.

    Output: ONE row — ``(n_fb_docs, fb_types, fb_tokens,
    clarity_nats)``.

    Plan / 100 TB: BM25's own plan produces the tiny feedback id set
    (broadcast semi-join slices the trigram stream); corpus counts are
    computed ONLY for feedback-support trigrams (broadcast semi-join
    BEFORE the count shuffle — the ``prf_query_expansion`` shape); the
    corpus total is one scalar aggregate.  Per-term products round to
    9 dp and sum as DECIMAL.
    """
    from .textstats import _ngram_rows

    fb = bm25_topk(
        df, query_terms, topk=fb_docs
    ).select("doc_id")
    tris = _ngram_rows(df, "doc_id", 3).select(
        "id", F.concat_ws(" ", "a", "b", "c").alias("tok")
    )
    fb_cnt = (
        tris.join(F.broadcast(fb), tris["id"] == fb["doc_id"])
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c_fb"))
        .localCheckpoint(eager=True)  # feedback-vocab-sized; 3 consumers
    )
    fb_tot = F.broadcast(
        fb_cnt.agg(
            F.sum("c_fb").cast("bigint").alias("fb_tokens"),
            F.count("*").cast("bigint").alias("fb_types"),
        )
    )
    corpus_cnt = (
        tris.join(F.broadcast(fb_cnt.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c_all"))
    )
    corpus_tot = F.broadcast(
        tris.agg(F.count("*").cast("bigint").alias("corpus_tokens"))
    )
    joined = (
        fb_cnt.join(corpus_cnt, "tok")
        .crossJoin(fb_tot)
        .crossJoin(corpus_tot)
    )
    term = F.round(
        (F.col("c_fb").cast("double") / F.col("fb_tokens").cast("double"))
        * F.log(
            (F.col("c_fb").cast("double") * F.col("corpus_tokens").cast("double"))
            / (F.col("fb_tokens").cast("double") * F.col("c_all").cast("double"))
        ),
        9,
    )
    return joined.agg(
        F.lit(int(fb_docs)).cast("bigint").alias("n_fb_docs"),
        F.max("fb_types").cast("bigint").alias("fb_types"),
        F.max("fb_tokens").cast("bigint").alias("fb_tokens"),
        F.round(
            F.sum(term.cast("decimal(30,10)")).cast("double"), 6
        ).alias("clarity_nats"),
    )


def retrieval_source_entropy(
    df: DataFrame,
    query_terms: list[str],
    topk: int = 20,
) -> DataFrame:
    """Source concentration of a query's top-k results: the Shannon
    entropy (nats) of the source distribution among the retrieved
    documents plus the majority source's share — the ambiguity
    companion to ``query_clarity_score`` (a query whose hits spray
    across every source is under-specified; one that concentrates in a
    single feed is answerable).

    Output: ONE row — ``(n_results, n_sources, majority_share,
    source_entropy_nats)``.

    Plan / 100 TB: the top-k id set broadcasts back onto the document
    table for its source labels; everything after is source-grain.
    """
    hits = bm25_topk(
        df, query_terms, topk=topk
    ).select("doc_id")
    labeled = df.select(
        F.col("doc_id"), F.col("source").alias("src")
    ).join(F.broadcast(hits), "doc_id")
    per_src = labeled.groupBy("src").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = F.broadcast(per_src.agg(F.sum("c").cast("bigint").alias("n")))
    hterm = F.round(
        -(F.col("c").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("c").cast("double") / F.col("n").cast("double")),
        9,
    )
    return per_src.crossJoin(tot).agg(
        F.max("n").cast("bigint").alias("n_results"),
        F.count("*").cast("bigint").alias("n_sources"),
        F.round(
            F.max("c").cast("double") / F.max("n").cast("double"), 6
        ).alias("majority_share"),
        F.round(
            F.sum(hterm.cast("decimal(30,10)")).cast("double"), 6
        ).alias("source_entropy_nats"),
    )


def _stub_cross_encoder(qterms_col, dtext_col):
    """Deterministic stand-in for a neural cross-encoder forward pass,
    vectorized over a pandas batch: interaction features between the
    ORDERED query term list and the document token stream —

        0.6 · term coverage (|matched distinct q terms| / |distinct q terms|)
      + 0.25 · query-bigram coverage (0 for single-term queries)
      + 0.15 · earliness (1 / first 1-based doc position of any q term; 0 if none)

    Raw double, rounded ENGINE-side (``F.round`` / DuckDB ``round``) so
    no Python banker's rounding leaks into oracle-compared output.  A
    real deployment replaces this with a model forward pass (e.g. a
    sentence-transformers CrossEncoder loaded once per executor inside
    the ``mapInPandas`` closure) — the batch shape, pair grain, and
    candidate-only cost profile are identical.
    """
    import numpy as np

    out = np.empty(len(dtext_col), dtype=np.float64)
    for i, (qterms, dtext) in enumerate(zip(qterms_col, dtext_col)):
        qt = list(qterms)
        dt = (dtext or "").strip().split()
        dset = set(dt)
        qset = dict.fromkeys(qt)  # distinct, order kept
        cov = sum(1 for t in qset if t in dset) / len(qset) if qset else 0.0
        qbi = dict.fromkeys(zip(qt, qt[1:]))
        if qbi:
            dbi = set(zip(dt, dt[1:]))
            big = sum(1 for g in qbi if g in dbi) / len(qbi)
        else:
            big = 0.0
        pos = next((j + 1 for j, t in enumerate(dt) if t in qset), 0)
        earl = 1.0 / pos if pos else 0.0
        out[i] = 0.6 * cov + 0.25 * big + 0.15 * earl
    return out


def cross_encoder_rerank(
    df: DataFrame,
    queries: dict[str, list[str]],
    k_first: int = 20,
    k_final: int = 5,
    scorer=None,
) -> DataFrame:
    """Two-stage retrieve-then-rerank — the production search/RAG serving
    shape: a cheap corpus-scale FIRST stage (BM25 here) nominates
    ``k_first`` candidates per query, and an expensive pairwise
    CROSS-ENCODER scores only those candidates before the final top-``k_final``.

    ``scorer`` is the cross-encoder: a callable
    ``(qterms: Sequence[list[str]], dtexts: Sequence[str]) -> ndarray``
    applied inside an Arrow ``mapInPandas`` pass over the candidate
    pairs.  The default :func:`_stub_cross_encoder` is a deterministic
    feature interaction (this container carries no model runtimes); a
    real model drops into the same closure — loaded once per executor,
    batched by Arrow, never per-row.

    Output per query: ``(query_id, doc_id, bm25_rank, ce_score, rank)``
    with ``rank`` by (ce_score desc, bm25_rank asc, doc_id asc).

    Plan / 100 TB: stage 1 is ``bm25_multi_topk`` (one corpus pass,
    broadcast query incidence, per-query top-k window).  The candidate
    list is MODEL-SIZED (``n_queries × k_first`` rows), so stage 2 —
    fetching candidate texts via a broadcast semi-join onto one corpus
    scan, then the Arrow scoring pass — moves nothing corpus-scale: the
    cross-encoder's cost is per candidate by construction, which is the
    entire reason rerankers exist.  The final window partitions by
    query over ≤ ``k_first`` rows.
    """
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(df.sparkSession)
    score_fn = scorer if scorer is not None else _stub_cross_encoder
    spark = df.sparkSession
    cand = bm25_multi_topk(
        df, queries, topk=k_first
    ).select("query_id", "doc_id", F.col("rnk").alias("bm25_rank"))
    qdf = spark.createDataFrame(
        [(q, list(ts)) for q, ts in queries.items()],
        "query_id string, qterms array<string>",
    )
    pairs = (
        df.select(F.col("doc_id"), F.col("text").alias("dtext"))
        .join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(qdf), "query_id")
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "doc_id": pdf["doc_id"],
                    "bm25_rank": pdf["bm25_rank"],
                    "ce_raw": score_fn(pdf["qterms"], pdf["dtext"]),
                }
            )

    scored = pairs.mapInPandas(
        score, "query_id string, doc_id long, bm25_rank int, ce_raw double"
    ).select(
        "query_id",
        "doc_id",
        "bm25_rank",
        F.round(F.col("ce_raw"), 6).alias("ce_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ce_score"), F.asc("bm25_rank"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_final)
        .select("query_id", "doc_id", "bm25_rank", "ce_score", "rank")
    )

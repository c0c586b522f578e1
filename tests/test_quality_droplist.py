"""Decision-layer operators: quality gate splits the corpus meaningfully,
drop list only ever drops toward a smaller canonical id."""

from conftest import SF_DIR

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.operators import dedup, textstats


def test_quality_filter_splits_and_names_reasons(spark):
    docs = td.load_table(spark, SF_DIR, "documents")
    rows = textstats.quality_filter(docs).collect()
    assert len(rows) == docs.count()
    kept = [r for r in rows if r.keep]
    dropped = [r for r in rows if not r.keep]
    assert kept and dropped  # non-degenerate gate on the synthetic corpus
    for r in kept:
        assert r.reasons == ""
    known = {"too_short", "too_much_punct", "low_stopword", "bad_lang"}
    for r in dropped:
        parts = r.reasons.split(";")
        assert parts and set(parts) <= known, r.reasons
        # non-English docs must carry the language reason
        if r.pred_lang != "en":
            assert "bad_lang" in parts


def test_repetition_ratio_flags_repeats(spark):
    rows = [
        (1, "buy now buy now buy now buy now buy now buy now"),
        (2, "a genuinely varied sentence with no repeated trigram content here"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in textstats.repetition_ratio(df).collect()}
    assert got[1].repetition > 0.7
    assert got[2].repetition == 0.0
    assert got[3].repetition == 0.0 and got[3].n_grams == 1  # blank → 1 empty gram


def test_drop_list_points_to_smaller_survivor(spark):
    docs = td.load_table(spark, SF_DIR, "documents").limit(200)
    from pyspark.sql import functions as F

    aug = docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.select((F.col("doc_id") + 10000).alias("id"), "text")
    )
    pairs = dedup.minhash_lsh_pairs(aug, id_col="id", text_col="text", n=3, threshold=0.25)
    drops = dedup.neardup_drop_list(pairs).collect()
    assert drops  # exact copies must be caught
    ids = [r.id for r in drops]
    assert len(ids) == len(set(ids))  # one verdict per dropped doc
    for r in drops:
        assert r.canonical_id < r.id
    # every duplicated doc maps back to its original
    orig_map = {r.id: r.canonical_id for r in drops}
    hits = sum(1 for i, c in orig_map.items() if i >= 10000 and c == i - 10000)
    assert hits >= 150  # minhash at threshold .25 catches identical text


def test_components_transitive_chain(spark):
    """A chain a-b, b-c, c-d must collapse to one component labeled by the
    smallest id — one-hop drop lists cannot see d's link to a."""
    from pyspark.sql import functions as F  # noqa: F811

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (11, 12)],
        ["id_a", "id_b"],
    )
    comp = {r.id: r.component_id for r in dedup.neardup_components(pairs).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_components_match_pair_reachability(spark):
    docs = td.load_table(spark, SF_DIR, "documents").limit(120)
    from pyspark.sql import functions as F

    aug = docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.select((F.col("doc_id") + 10000).alias("id"), "text")
    )
    pairs_df = dedup.minhash_lsh_pairs(aug, id_col="id", text_col="text", n=3, threshold=0.25)
    pairs = [(r.id_a, r.id_b) for r in pairs_df.collect()]
    comp = {r.id: r.component_id for r in dedup.neardup_components(pairs_df).collect()}

    # reference union-find over the same pairs
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    assert comp == expected


def test_unigram_logppl_ranks_odd_docs_higher(spark):
    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, common) for i in range(9)] + [(9, "zxqv wvut kjhg plmn qrst")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in textstats.unigram_logppl(df).collect()}
    # the out-of-distribution doc scores strictly higher than the common ones
    assert all(got[9].logppl > got[i].logppl for i in range(9))
    assert got[0].n_tokens == 12


def test_incremental_dedup_exact_drops_known_digests(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha  beta"),   # whitespace-variant of known doc → drop
            (11, "ALPHA BETA"),    # case-variant of known doc → drop
            (12, "epsilon zeta"),  # new → keep
            (13, "epsilon zeta"),  # in-batch dup of 12 → drop (keep min id)
        ],
        ["doc_id", "text"],
    )
    out = dedup.incremental_dedup_exact(corpus, batch)
    assert [(r.doc_id, r.text) for r in out.collect()] == [(12, "epsilon zeta")]

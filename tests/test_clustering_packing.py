"""Wave-10 operators: k-means Lloyd iterations, sequence packing, PMI."""

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from rss_feed_etl_spark.operators import clustering, packing, textstats


def _vec_df(spark):
    # two tight blobs far apart; seeds 0 and 1 land one in each blob
    rows = [Row(vec_id=0, embedding=[0.0, 0.1]), Row(vec_id=1, embedding=[10.0, 10.1])]
    rows += [Row(vec_id=i, embedding=[0.0 + i * 0.001, 0.0]) for i in range(2, 20)]
    rows += [Row(vec_id=i, embedding=[10.0 + (i - 20) * 0.001, 10.0]) for i in range(20, 40)]
    return spark.createDataFrame(rows)


def test_kmeans_separates_blobs_and_converges(spark):
    out = clustering.kmeans_lloyd(_vec_df(spark), k=2, iters=2).collect()
    by_cid = {r["cluster_id"]: r for r in out}
    assert set(by_cid) == {0, 1}
    assert by_cid[0]["n_members"] == 19 and by_cid[1]["n_members"] == 21
    # blobs are tight → tiny mean squared distance after 2 iterations
    assert all(r["mean_sqdist"] < 0.1 for r in out)


def test_kmeans_deterministic(spark):
    df = _vec_df(spark)
    a = sorted(map(tuple, clustering.kmeans_lloyd(df, k=2, iters=2).collect()))
    b = sorted(map(tuple, clustering.kmeans_lloyd(df, k=2, iters=2).collect()))
    assert a == b


def test_packing_layout_invariants(spark):
    df = spark.createDataFrame([Row(doc_id=i, n_tokens=100) for i in range(100)])
    out = packing.pack_sequences(df, token_col="n_tokens", seq_len=512).collect()
    assert len(out) == 100
    # every token position is covered exactly once: starts are the
    # 0,100,...,9900 progression in some order
    starts = sorted(r["seq_id"] * 512 + r["seq_offset"] for r in out)
    assert starts == [i * 100 for i in range(100)]
    # ~5.12 docs of 100 tokens per 512-token sequence
    assert max(r["seq_id"] for r in out) == (100 * 100 - 100) // 512


def test_packing_stable_under_repartition(spark):
    df = spark.createDataFrame([Row(doc_id=i, n_tokens=10 + i % 7) for i in range(500)])
    a = {r["doc_id"]: (r["seq_id"], r["seq_offset"]) for r in packing.pack_sequences(df, "n_tokens").collect()}
    b = {
        r["doc_id"]: (r["seq_id"], r["seq_offset"])
        for r in packing.pack_sequences(df.repartition(13), "n_tokens").collect()
    }
    assert a == b


@settings(max_examples=8, deadline=None)
@given(
    toks=st.lists(st.integers(min_value=0, max_value=300), min_size=0, max_size=40),
    n_buckets=st.sampled_from([1, 4, 16]),
)
def test_packing_prefix_sum_properties(spark, toks, n_buckets):
    """Distributed-prefix-sum invariants the single hash fixture can't lock:
    (1) the layout is contiguous — sorted by start position, every doc
    begins exactly where the previous one ended, for ANY token-count
    multiset and ANY bucket count; (2) the per-sequence assigned token sum
    never exceeds seq_len plus the worst straggler overhang; (3) the layout
    is a pure function of the keys — identical under repartitioning."""
    seq_len = 256
    df = spark.createDataFrame(
        list(enumerate(toks)), "doc_id long, n_tokens long"
    )
    out = packing.pack_sequences(
        df, token_col="n_tokens", seq_len=seq_len, n_buckets=n_buckets
    ).collect()
    assert len(out) == len(toks)

    recs = sorted(
        (r["seq_id"] * seq_len + r["seq_offset"], r["n_tokens"], r["doc_id"])
        for r in out
    )
    pos = 0
    for start, n, _ in recs:
        assert start == pos, f"gap/overlap at doc start {start}, expected {pos}"
        pos += n
    assert pos == sum(toks)

    # a doc belongs to the sequence where its FIRST token lands, so a seq
    # holds at most seq_len starts plus one straggler reaching over the
    # boundary: per-seq sum ≤ seq_len + (max doc - 1)
    per_seq: dict[int, int] = {}
    for start, n, _ in recs:
        per_seq[start // seq_len] = per_seq.get(start // seq_len, 0) + n
    straggler = max(max(toks, default=1) - 1, 0)
    assert all(tot <= seq_len + straggler for tot in per_seq.values())

    re_out = packing.pack_sequences(
        df.repartition(5), token_col="n_tokens", seq_len=seq_len, n_buckets=n_buckets
    ).collect()
    assert {r["doc_id"]: (r["seq_id"], r["seq_offset"]) for r in out} == {
        r["doc_id"]: (r["seq_id"], r["seq_offset"]) for r in re_out
    }


def test_pmi_ranks_perfect_collocation_first(spark):
    # 'aa bb' always co-occur; 'cc' co-occurs with them only half the time
    docs = [Row(doc_id=i, text="aa bb " + ("cc dd" if i % 2 else "ee ff")) for i in range(40)]
    df = spark.createDataFrame(docs)
    out = textstats.pmi_pairs(df, min_df=5, min_pair=5, top=10).collect()
    top = out[0]
    # the perfectly-coupled half-frequency pairs (cc,dd)/(ee,ff) have
    # pmi = ln(N·n_ab/df²) = ln(2) — higher than the always-present (aa,bb)
    assert {top["term_a"], top["term_b"]} in ({"cc", "dd"}, {"ee", "ff"})
    ab = [r for r in out if {r["term_a"], r["term_b"]} == {"aa", "bb"}][0]
    assert abs(ab["pmi"]) < 1e-9  # ln(1) — no information
    assert abs(top["pmi"] - 0.693147) < 1e-5

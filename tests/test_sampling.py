"""Sampling/splitting invariants: content-addressed assignment must be
stable under corpus growth and repartitioning — the property randomSplit
lacks."""

from conftest import SF_DIR
from pyspark.sql import functions as F

from rss_feed_etl_spark import testdata as td
from rss_feed_etl_spark.functions.text import redact_pii
from rss_feed_etl_spark.operators import sampling


def test_split_stable_under_growth_and_partitioning(spark):
    docs = td.load_table(spark, SF_DIR, "documents").select("doc_id")
    small = {
        r.doc_id: r.split
        for r in sampling.deterministic_split(docs.limit(40)).collect()
    }
    full = {
        r.doc_id: r.split
        for r in sampling.deterministic_split(docs.repartition(7)).collect()
    }
    for doc_id, split in small.items():
        assert full[doc_id] == split  # growth/partitioning moved a doc!


def test_split_weights_roughly_hold(spark):
    docs = td.load_table(spark, SF_DIR, "documents").select("doc_id")
    counts = {
        r.split: r.n
        for r in sampling.deterministic_split(docs)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n = sum(counts.values())
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] / n > 0.6  # 80% ± hash noise on a small table


def test_split_rejects_bad_weights(spark):
    docs = td.load_table(spark, SF_DIR, "documents")
    try:
        sampling.deterministic_split(docs, weights={"a": 50, "b": 40})
    except ValueError:
        return
    raise AssertionError("weights not summing to 100 must be rejected")


def test_quota_caps_every_group_deterministically(spark):
    docs = td.load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    out1 = sampling.quota_per_group(docs, "lang", quota=10)
    out2 = sampling.quota_per_group(docs.repartition(5), "lang", quota=10)
    sizes = {r.lang: r.n for r in out1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert sizes and all(n <= 10 for n in sizes.values())
    assert sorted((r.doc_id, r.lang) for r in out1.collect()) == sorted(
        (r.doc_id, r.lang) for r in out2.collect()
    )


def test_redact_pii_masks_all_three_kinds(spark):
    rows = [
        (1, "mail me at alice.smith+x@sub.example.org please"),
        (2, "call +1 (415) 555-0134 or 415-555-0134 today"),
        (3, "ssn is 078-05-1120 ok"),
        (4, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {r.id: r.out for r in df.select("id", redact_pii("t").alias("out")).collect()}
    assert got[1] == "mail me at [EMAIL] please"
    assert got[2] == "call [PHONE] or [PHONE] today"
    assert got[3] == "ssn is [SSN] ok"
    assert got[4] == "clean text with no pii at all"


def test_quota_salted_two_phase_identical_output(spark):
    docs = td.load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    plain = sampling.quota_per_group(docs, "lang", quota=12)
    salted = sampling.quota_per_group(docs, "lang", quota=12, salt_partitions=8)
    assert sorted((r.doc_id, r.lang) for r in plain.collect()) == sorted(
        (r.doc_id, r.lang) for r in salted.collect()
    )


def test_mixture_rate_increase_only_adds_documents(spark):
    docs = td.load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    low = sampling.mixture_sample(docs, "source", {"src0": 0.2}, default_rate=0.1)
    high = sampling.mixture_sample(docs, "source", {"src0": 0.6}, default_rate=0.1)
    kept_low = {r.doc_id for r in low.collect()}
    kept_high = {r.doc_id for r in high.collect()}
    assert kept_low < kept_high  # strict subset: nothing swapped out


def test_deterministic_shuffle_reproducible_and_partition_invariant(spark):
    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    a = sampling.deterministic_shuffle(docs, salt="e1").collect()
    b = sampling.deterministic_shuffle(docs.repartition(7), salt="e1").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # layout-invariant
    # per-shard positions are dense 1..n
    from collections import defaultdict
    by_shard = defaultdict(list)
    for r in a:
        by_shard[r.shard].append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different salt yields a different permutation
    c = sampling.deterministic_shuffle(docs, salt="e2").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_snapshot_diff_statuses(spark):
    from rss_feed_etl_spark.operators.joins import snapshot_diff

    old = spark.createDataFrame(
        [("k1", "v1", ""), ("k2", "v2", ""), ("k3", "v3", "")],
        ["link", "summary", "notes"],
    )
    new = spark.createDataFrame(
        [("k1", "v1", ""), ("k2", "v2-new", ""), ("k4", "v4", "")],
        ["link", "summary", "notes"],
    )
    got = {r.status: r.n for r in snapshot_diff(old, new).collect()}
    assert got == {"unchanged": 1, "changed": 1, "added": 1, "removed": 1}


def test_temperature_mixture_upsamples_rare_groups(spark):
    # groups: big=400 docs, mid=100, tiny=16 → rates 0.5, 0.5·√4=1.0, 1.0
    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "mid") for i in range(100)]
        + [(2000 + i, "tiny") for i in range(16)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.temperature_mixture_sample(
        df, group_col="source", base_rate=0.5, key_col="doc_id"
    )
    kept = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert kept["mid"] == 100 and kept["tiny"] == 16  # rate ≥ 1 → fully kept
    assert 120 <= kept["big"] <= 280  # ~0.5 of 400, hash noise
    # kept fraction ORDER follows 1/√n: big < mid
    assert kept["big"] / 400 < kept["mid"] / 100

    # raising base_rate only ADDS documents (subset property)
    bigger = sampling.temperature_mixture_sample(
        df, group_col="source", base_rate=0.8, key_col="doc_id"
    )
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in bigger.collect()}
    assert a <= b


def test_leakage_safe_split_keeps_clusters_together(spark):
    from rss_feed_etl_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(50)], "id long")
    # two clusters: {1,2,3} (transitive via 2) and {10, 40}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 40)], "id_a long, id_b long"
    )
    comp = dedup.neardup_components(pairs)
    out = {
        r.id: r.split
        for r in sampling.leakage_safe_split(docs, comp, key_col="id").collect()
    }
    assert len(out) == 50
    assert out[1] == out[2] == out[3]
    assert out[10] == out[40]
    # and the assignment is repartition-stable
    out2 = {
        r.id: r.split
        for r in sampling.leakage_safe_split(
            docs.repartition(7), comp, key_col="id"
        ).collect()
    }
    assert out == out2


def test_leakage_safe_split_coassignment_property(spark):
    """Property over random pair graphs: every connected component's members
    always share a split, whatever the graph shape (chains, stars, merges),
    verified against an independent union-find model."""
    import random

    from rss_feed_etl_spark.operators import dedup

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(25)
            )
            if a != b
        ]
        docs = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pairs = spark.createDataFrame(edges or [(0, 1)], "id_a long, id_b long")
        comp = dedup.neardup_components(pairs)
        out = {
            r.id: r.split
            for r in sampling.leakage_safe_split(docs, comp, key_col="id").collect()
        }

        # union-find reference model
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges or [(0, 1)]:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        groups = {}
        for i in range(n):
            groups.setdefault(find(i), []).append(i)
        for members in groups.values():
            splits = {out[m] for m in members}
            assert len(splits) == 1, f"trial {trial}: component {members} split {splits}"


def test_token_budget_selects_best_scores_exactly(spark):
    # 10 docs, scores 0.0..0.9, 100 tokens each, budget 350 → the three
    # highest-scoring docs fit (300 tokens); the fourth would cross 350
    rows = [(i, 100, i / 10.0) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, score double")
    out = sampling.select_by_token_budget(df, budget=350)
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [7, 8, 9]

    # ties broken by key: equal scores, budget admits first three by id
    ties = spark.createDataFrame(
        [(i, 100, 0.5) for i in range(6)], "doc_id long, n_tokens long, score double"
    )
    kept2 = sorted(r.doc_id for r in sampling.select_by_token_budget(ties, budget=300).collect())
    assert kept2 == [0, 1, 2]

    # repartition-stable (the grid prefix sum is layout-independent)
    kept3 = sorted(
        r.doc_id
        for r in sampling.select_by_token_budget(df.repartition(7), budget=350).collect()
    )
    assert kept3 == kept

"""Wave 50: grid-density clustering and T5 span corruption."""

from __future__ import annotations

from conftest import docs_frame

from rss_feed_etl_spark.operators import clustering, packing


def test_grid_clusters_separate_blobs(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    # blobs on dimension 0 only: the ±1 JL projection maps dim-0 mass to
    # ±x/sqrt(2), so blob A (x≈+20) and blob B (x≈-20) land in distant
    # cells regardless of the sign draw; tiny per-dim noise keeps each
    # blob inside one 4-wide cell neighborhood
    def blob(center, n):
        m = rng.normal(0.0, 0.05, size=(n, 64))
        m[:, 0] += center
        return m

    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(np.vstack([blob(20.0, 40), blob(-20.0, 40)]))
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = clustering.grid_density_clusters(
        df, cell_width=4.0, min_pts=5
    ).toPandas()
    clusters = out.groupby("cluster_id")["vec_id"].apply(set)
    blob_a = set(range(40))
    blob_b = set(range(40, 80))
    assert any(blob_a <= c for c in clusters)
    assert any(blob_b <= c for c in clusters)
    # and the blobs are in DIFFERENT clusters
    assert not any(blob_a <= c and blob_b <= c for c in clusters)


def test_grid_clusters_stable_under_repartition(spark):
    import numpy as np

    rng = np.random.default_rng(2)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=64) * 0.3])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    a = sorted(map(tuple, clustering.grid_density_clusters(df, min_pts=3).collect()))
    b = sorted(
        map(
            tuple,
            clustering.grid_density_clusters(df.repartition(7), min_pts=3).collect(),
        )
    )
    assert a == b


def test_span_corruption_structure(spark):
    toks = " ".join(f"w{i}" for i in range(30))
    out = packing.span_corruption(
        docs_frame(spark, [(1, toks)]), block=3, mask_pct=40
    ).collect()[0]
    corrupted, target = out["corrupted"], out["target"]
    n = out["n_spans"]
    # every sentinel 0..n-1 appears exactly once in input and target
    for k in range(n):
        assert corrupted.count(f"<extra_id_{k}>") == 1
        assert target.count(f"<extra_id_{k}>") == 1
    assert f"<extra_id_{n}>" not in corrupted
    # reconstruction: substituting each target span back yields the original
    rebuilt = corrupted
    spans = {}
    parts = target.split("<extra_id_")
    for p in parts[1:]:
        k, _, body = p.partition(">")
        spans[int(k)] = body.strip()
    for k, body in spans.items():
        rebuilt = rebuilt.replace(f"<extra_id_{k}>", body)
    assert rebuilt.split() == toks.split()


def test_span_corruption_deterministic(spark):
    rows = [(i, " ".join(f"t{i}_{j}" for j in range(25))) for i in range(20)]
    a = sorted(map(tuple, packing.span_corruption(docs_frame(spark, rows)).collect()))
    b = sorted(
        map(
            tuple,
            packing.span_corruption(docs_frame(spark, rows).repartition(5)).collect(),
        )
    )
    assert a == b


def test_span_corruption_masks_expected_fraction(spark):
    rows = [(i, " ".join(f"x{j}" for j in range(60))) for i in range(100)]
    out = packing.span_corruption(docs_frame(spark, rows), mask_pct=15).toPandas()
    # ~15% of tokens masked (block grain): measure via target token count
    total_target_tokens = sum(
        len([t for t in tg.split() if not t.startswith("<extra_id_")])
        for tg in out.target
    )
    frac = total_target_tokens / (100 * 60)
    assert 0.08 < frac < 0.25

"""Wave 64: z-order layout advisor and balanced shard assignment."""

from __future__ import annotations

from conftest import plan_text
from pyspark.sql import Row
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import layout


def _py_zkey(x: int, y: int, bits: int = 8) -> int:
    k = 0
    for i in range(bits):
        k |= ((x >> i) & 1) << (2 * i + 1)
        k |= ((y >> i) & 1) << (2 * i)
    return k


def test_zorder_key_matches_python_interleave(spark):
    rows = [Row(x=x, y=y) for x in (0, 1, 5, 170, 255) for y in (0, 3, 128, 255)]
    df = spark.createDataFrame(rows)
    out = df.select(
        "x", "y", layout.zorder_key(F.col("x"), F.col("y"), 8).alias("z")
    ).collect()
    for r in out:
        assert r["z"] == _py_zkey(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_key_preserves_locality_order(spark):
    # the defining property: close (x, y) points share high-order z bits
    assert _py_zkey(0, 0) < _py_zkey(0, 1) < _py_zkey(1, 1) < _py_zkey(2, 2)
    assert _py_zkey(127, 127) < _py_zkey(128, 128)


def test_advisor_zorder_beats_natural_on_both_dims(spark):
    # natural order clusters x only; z-order must trade a little x
    # locality for a lot of y locality — and beat natural on y while
    # keeping x far under the no-skip 1.0
    import random

    rnd = random.Random(7)
    rows = [
        Row(k=i, x=rnd.randrange(10_000), y=rnd.randrange(10_000))
        for i in range(20_000)
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["layout"]: r
        for r in layout.zorder_scan_advisor(
            df, "x", "y", "k", n_files=32, grid_bits=8
        ).collect()
    }
    nat, zo = out["natural"], out["zorder"]
    # natural: x, y random per row -> every file spans ~the full range
    assert nat["scan_frac_x"] > 0.9 and nat["scan_frac_y"] > 0.9
    # zorder: both dims cluster (sqrt locality)
    assert zo["scan_frac_x"] < 0.5 and zo["scan_frac_y"] < 0.5


def test_advisor_clustered_natural_keeps_x(spark):
    # when x follows the natural key, natural layout skips on x but not y
    rows = [Row(k=i, x=i, y=(i * 7919) % 10_000) for i in range(10_000)]
    df = spark.createDataFrame(rows)
    out = {
        r["layout"]: r
        for r in layout.zorder_scan_advisor(
            df, "x", "y", "k", n_files=32, grid_bits=8
        ).collect()
    }
    assert out["natural"]["scan_frac_x"] < 0.1
    assert out["natural"]["scan_frac_y"] > 0.9


def test_shard_assign_balances_skewed_weights(spark):
    # heavy-tailed weights: sorted round-robin keeps shards near-equal
    rows = [Row(doc_id=f"d{i:05d}", w=(i % 97) ** 2 + 1) for i in range(5_000)]
    df = spark.createDataFrame(rows)
    out = layout.shard_assign_balanced(df, "doc_id", F.col("w"), n_shards=8).collect()
    assert len(out) == 8
    totals = [r["tok_total"] for r in out]
    assert sum(r["n_docs"] for r in out) == 5_000
    assert max(totals) <= min(totals) * 1.05  # within 5% of each other
    # deterministic: same input -> same assignment
    out2 = layout.shard_assign_balanced(df, "doc_id", F.col("w"), n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_shard_assign_no_global_fact_window(spark):
    rows = [Row(doc_id=f"d{i}", w=i % 13) for i in range(100)]
    df = spark.createDataFrame(rows)
    s = plan_text(layout.shard_assign_balanced(df, "doc_id", F.col("w"), 8))
    # the tie-ranking window shuffles by weight value, never SinglePartition
    assert "windowspecdefinition(w" in s
    # facts reach the distinct-weight rank table via broadcast
    assert "BroadcastHashJoin" in s

"""Wave 69: MAD outliers and zlib compression-ratio signal."""

from __future__ import annotations

import zlib

from conftest import plan_text
from pyspark.sql import Row

from rss_feed_etl_spark.operators import profiling, textstats


def test_mad_flags_outlier_mean_z_would_miss_is_robust(spark):
    # 10 inliers at 10±2 plus TWO gross outliers: the outliers inflate a
    # mean/std gate (masking), but median/MAD stays anchored
    vals = [8.0, 9.0, 10.0, 10.0, 10.0, 10.0, 10.0, 11.0, 12.0, 10.0, 500.0, 510.0]
    rows = [Row(event_id=i, event_type="t", value=v) for i, v in enumerate(vals)]
    out = profiling.mad_outliers(spark.createDataFrame(rows)).collect()
    flagged = {r["event_id"] for r in out}
    assert flagged == {10, 11}
    # mean/std for comparison: std ~ 165, z of 500 ~ 2.6 -> a 3-sigma
    # mean gate would NOT have flagged either outlier
    m = sum(vals) / len(vals)
    std = (sum((v - m) ** 2 for v in vals) / len(vals)) ** 0.5
    assert max(abs(500.0 - m), abs(510.0 - m)) / std < 3.0


def test_mad_zero_mad_group_excluded(spark):
    # >50% identical values -> MAD 0 -> group excluded, not div-by-zero
    rows = [Row(event_id=i, event_type="k", value=5.0) for i in range(8)]
    rows.append(Row(event_id=99, event_type="k", value=1000.0))
    assert profiling.mad_outliers(spark.createDataFrame(rows)).count() == 0


def test_compression_ratio_golden_against_local_zlib(spark):
    texts = {
        1: "the quick brown fox jumps over the lazy dog " * 3,
        2: "ab" * 200,  # highly repetitive
        3: "k9$Qz!x7Rw@e3Tn%Um2Vp&Yc8Lb*Hd4Jf6Gs5Ka1Mq0Ne",  # high entropy
        4: "",
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    out = {r["doc_id"]: r for r in textstats.compression_ratio(df).collect()}
    for k, t in texts.items():
        raw = t.encode("utf-8")
        assert out[k]["n_bytes"] == len(raw)
        if raw:
            z = len(zlib.compress(raw, 6))
            assert out[k]["z_bytes"] == z
            assert abs(out[k]["ratio"] - round(z / len(raw), 6)) < 1e-9
    assert out[2]["flag_repetitive"] == 1 and out[2]["flag_incompressible"] == 0
    assert out[3]["flag_incompressible"] == 1
    assert out[1]["flag_repetitive"] == 0 and out[1]["flag_incompressible"] == 0
    assert out[4]["ratio"] is None
    assert out[4]["flag_repetitive"] == 0 and out[4]["flag_incompressible"] == 0


def test_compression_ratio_map_only_plan(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="abc")])
    s = plan_text(textstats.compression_ratio(df))
    assert "Exchange" not in s and "Join" not in s
    assert "MapInPandas" in s

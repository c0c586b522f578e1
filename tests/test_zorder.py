"""Z-order clustered writes: file-level min/max stats must become
selective on EVERY clustered dimension, which is what lets parquet
row-group pruning skip data for multi-dimension predicates."""

import glob

import pyarrow.parquet as pq
from conftest import plan_text
from pyspark.sql import functions as F

from rss_feed_etl_spark.sources import parquet as pio


def _file_ranges(path, col):
    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                    hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
        out.append((lo, hi))
    return out


def _hit_files(ranges, point):
    return sum(1 for lo, hi in ranges if lo is not None and lo <= point <= hi)


def test_zorder_value_interleaves_bits(spark):
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    z = df.select(pio.zorder_value(["a", "b"], bits=4).alias("z")).collect()[0]["z"]
    # a=0b0001 -> bits at positions 0,2,4,6 ; b=0b0010 -> positions 1,3,5,7
    # a contributes 1<<0, b contributes 1<<3
    assert z == (1 << 0) | (1 << 3)


def test_zordered_layout_prunes_both_dimensions(spark, tmp_path):
    # two independent uniform dims; 4096 rows, 8 files
    df = spark.range(4096).select(
        (F.col("id") * 2654435761 % 256).alias("a"),
        (F.col("id") * 40503 % 256).alias("b"),
        F.col("id").alias("payload"),
    )
    zpath = str(tmp_path / "zord")
    upath = str(tmp_path / "plain")
    pio.write_zordered(df, zpath, ["a", "b"], bits=8, n_files=8)
    df.repartition(8).write.mode("overwrite").parquet(upath)

    n_z_files = len(glob.glob(f"{zpath}/*.parquet"))
    assert n_z_files >= 4

    for col in ("a", "b"):
        zr = _file_ranges(zpath, col)
        ur = _file_ranges(upath, col)
        # a point predicate must touch fewer files under the z layout
        # than under hash partitioning (where every file spans the range)
        assert _hit_files(ur, 128) == len(ur)
        assert _hit_files(zr, 128) < len(zr), f"no pruning on {col}"

    # round-trip intact
    back = spark.read.parquet(zpath)
    assert back.count() == 4096
    assert back.agg(F.sum("payload")).collect()[0][0] == sum(range(4096))


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from rss_feed_etl_spark.sources import parquet as pq

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    path = str(tmp_path / "orc_out")
    pq.write_orc(df, path)
    back = pq.read_orc(spark, path)
    assert back.count() == 500
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # predicate reaches the ORC scan
    assert "PushedFilters" in plan_text(back.filter(F.col("k") == 3))

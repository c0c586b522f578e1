"""Wave-38: key-skew report, DQ assertion report, ordered CDC apply,
hashing-trick quality scorer — semantics plus the plan shapes that keep
them 100 TB-safe."""

from conftest import SF_DIR, plan_text
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import merges, profiling, textstats


# --- key skew ---------------------------------------------------------------


def test_key_skew_flags_hot_key(spark):
    # 90 rows on key 1, one row each on keys 2..11
    rows = [(1,)] * 90 + [(k,) for k in range(2, 12)]
    df = spark.createDataFrame(rows, "k long")
    r = profiling.key_skew_report(df, key_col="k").collect()[0]
    assert r["n_rows"] == 100 and r["n_keys"] == 11
    assert r["max_per_key"] == 90
    assert r["top10_share"] > 0.98  # top-10 keys hold 99/100 rows
    assert r["p50_per_key"] == 1.0


def test_key_skew_uniform_is_flat(spark):
    df = spark.createDataFrame([(i % 10,) for i in range(100)], "k long")
    r = profiling.key_skew_report(df, key_col="k").collect()[0]
    assert r["max_per_key"] == 10 and r["avg_per_key"] == 10.0
    assert r["top10_share"] == 1.0  # only 10 keys exist


def test_key_skew_single_count_shuffle(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    s = plan_text(profiling.key_skew_report(df, key_col="l_suppkey"))
    # the stats and top-k branches each aggregate the per-key counts
    # subtree (2 pruned scans total); neither globally sorts the facts
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", s)) <= 2
    assert "CartesianProduct" not in s
    assert "TakeOrderedAndProject" in s  # top-k share via TakeOrdered
    for li_schema in (l for l in s.splitlines() if "ReadSchema" in l):
        assert "l_extendedprice" not in li_schema  # only the key is read


# --- DQ assertions ----------------------------------------------------------


def test_dq_report_counts_violations(spark):
    df = spark.createDataFrame(
        [(5.0, 0.05, 10.0, "A", "O", "2024-01-01"),
         (None, 0.2, -1.0, "X", "O", None),
         (60.0, 0.05, 10.0, "N", "F", "2024-01-02")],
        "l_quantity double, l_discount double, l_extendedprice double,"
        " l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    out = {r["assertion"]: r for r in profiling.dq_assertion_report(df).collect()}
    assert out["l_quantity_not_null"]["n_violations"] == 1
    assert out["l_quantity_in_1_50"]["n_violations"] == 2  # null + 60
    assert out["l_discount_in_0_0.1"]["n_violations"] == 1
    assert out["l_extendedprice_positive"]["n_violations"] == 1
    assert out["l_returnflag_domain"]["n_violations"] == 1
    assert out["l_shipdate_not_null"]["n_violations"] == 1
    assert all(r["n_checked"] == 3 for r in out.values())


def test_dq_report_single_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    s = plan_text(profiling.dq_assertion_report(df))
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", s)) == 1  # one scan for all
    assert "partial_sum" in s  # assertions combine map-side


# --- CDC apply --------------------------------------------------------------


def test_cdc_last_op_wins_and_delete_removes(spark):
    log = spark.createDataFrame(
        [  # user 1: I then U -> survives with U's value
            (1, "2024-01-01 00:00:00", 1, "I", 1.0),
            (1, "2024-01-02 00:00:00", 2, "U", 2.0),
            # user 2: I then D -> gone
            (2, "2024-01-01 00:00:00", 3, "I", 9.0),
            (2, "2024-01-03 00:00:00", 4, "D", 0.0),
            # user 3: same ts, event_id breaks the tie -> op of id 6 wins
            (3, "2024-01-01 00:00:00", 5, "D", 0.0),
            (3, "2024-01-01 00:00:00", 6, "U", 7.0),
        ],
        "user_id long, ts string, event_id long, op string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["user_id"]: r for r in merges.cdc_apply_ordered(log, key="user_id").collect()}
    assert set(out) == {1, 3}
    assert out[1]["last_op"] == "U" and out[1]["last_value"] == 2.0
    assert out[1]["n_ops"] == 2
    assert out[3]["last_value"] == 7.0


def test_cdc_single_exchange(spark):
    log = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id", "ts", "event_id", F.lit("U").alias("op"), "value")
    )
    s = plan_text(merges.cdc_apply_ordered(log, key="user_id"))
    # both window functions share one hash partitioning on the key
    import re

    assert len(re.findall(r"\(\d+\) Exchange", s)) == 1
    assert "SortMergeJoin" not in s and "BroadcastHashJoin" not in s


# --- hashed quality scores --------------------------------------------------


def test_hashed_quality_deterministic_and_bounded(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zz yy xx ww")],
        "doc_id long, text string",
    )
    rows = textstats.hashed_quality_scores(docs).collect()
    by_id = {r["doc_id"]: r for r in rows}
    # identical text -> identical score; scores centered within [-0.5, 0.5)
    assert by_id[1]["hash_score"] == by_id[2]["hash_score"]
    for r in rows:
        assert -0.5 <= r["hash_score"] < 0.5
        assert r["keep"] == (r["hash_score"] >= 0.0)
    assert by_id[3]["n_tokens"] == 4


def test_hashed_quality_is_map_only(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s = plan_text(textstats.hashed_quality_scores(docs))
    assert "Exchange" not in s  # scan + project, nothing else
    assert "Generate" not in s  # no explode: higher-order funcs in-row
    li_schema = next(l for l in s.splitlines() if "ReadSchema" in l)
    assert "lang" not in li_schema and "source" not in li_schema

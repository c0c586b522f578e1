"""asof_join semantics: backward inclusive match, no-match nulls,
tolerance cutoff, per-key isolation (pandas merge_asof parity)."""

from conftest import ts

from rss_feed_etl_spark.operators.joins import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, 1, ts("2024-01-10 00:00:00")),  # after both orders of key 1
            (2, 1, ts("2024-01-05 00:00:00")),  # exactly at order B (inclusive)
            (3, 1, ts("2024-01-01 00:00:00")),  # before any order
            (4, 2, ts("2024-01-10 00:00:00")),  # key 2 sees only its own orders
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, ts("2024-01-03 00:00:00"), 100),
            (1, ts("2024-01-05 00:00:00"), 200),
            (2, ts("2024-01-04 00:00:00"), 300),
        ],
        "user_id long, odate timestamp, oval int",
    )
    return left, right


def test_backward_inclusive_and_nulls(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="odate")
    got = {r.event_id: r.oval for r in out.collect()}
    assert got == {1: 200, 2: 200, 3: None, 4: 300}


def test_tolerance_drops_stale_matches(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="odate", tolerance="3 DAYS"
    )
    got = {r.event_id: r.oval for r in out.collect()}
    # event 1 at 01-10 is 5 days past its latest order (01-05) → dropped;
    # event 4 at 01-10 is 6 days past 01-04 → dropped
    assert got == {1: None, 2: 200, 3: None, 4: None}


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized parity against pandas merge_asof (backward, inclusive) —
    the independent reference implementation of as-of semantics."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    left_pd = pd.DataFrame(
        {
            "user_id": rng.integers(0, 5, 60),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10_000, 60), unit="m"),
            "event_id": np.arange(60),
        }
    )
    right_pd = pd.DataFrame(
        {
            "user_id": rng.integers(0, 5, 25),
            "odate": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10_000, 25), unit="m"),
            "oval": np.arange(25) * 10,
        }
    ).drop_duplicates(["user_id", "odate"])  # unique (key, ts) per contract

    expected = pd.merge_asof(
        left_pd.sort_values("ts"),
        right_pd.sort_values("odate"),
        left_on="ts",
        right_on="odate",
        by="user_id",
        direction="backward",
        allow_exact_matches=True,
    )
    exp = {
        int(r.event_id): (None if pd.isna(r.oval) else int(r.oval))
        for r in expected.itertuples()
    }

    out = asof_join(
        spark.createDataFrame(left_pd),
        spark.createDataFrame(right_pd),
        on="user_id",
        left_ts="ts",
        right_ts="odate",
        right_cols=["oval"],
    )
    got = {r.event_id: r.oval for r in out.collect()}
    assert got == exp

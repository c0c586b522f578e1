"""Watermarked stream-stream joins — the Structured Streaming join surface
(§2.9 extension; the reference's cron-loop analog would be "join this run's
clicks to purchases fetched a little later", which it never implements).

Spark executes a stream-stream inner join by buffering both sides in state;
the watermark + time-range condition is what BOUNDS that state — without
both, state grows forever.  The range condition here mirrors the batch
``operators.joins.interval_join`` semantics exactly, so the streamed result
is provably the batch result once all data has arrived (asserted in
``tests/test_sources_streaming.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_delta_s: float,
) -> DataFrame:
    """Inner stream-stream join: rows with equal ``on`` keys where
    ``0 <= right_ts − left_ts <= max_delta_s`` (e.g. click → purchase
    within the attribution window).

    Both sides carry a one-hour watermark; together with the
    range condition Spark can expire left-state older than
    watermark + max_delta and right-state older than watermark — bounded
    state regardless of stream length, the non-negotiable property of a
    production stream join.  Column names must be disjoint apart from
    ``on``.
    """
    lw = left.withWatermark(left_ts, "3600 seconds")
    rw = right.withWatermark(right_ts, "3600 seconds")
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {int(max_delta_s)} SECONDS"))
    )
    return lw.join(rw, cond, "inner").drop(rw[on])

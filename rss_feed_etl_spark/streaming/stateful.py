"""Custom stateful streaming operators (``applyInPandasWithState``).

The reference's "state" is its history table, which ``incremental.py``
models with ``foreachBatch`` merges.  This module covers the other shape a
feed pipeline needs: per-key state that is NOT a merge target — session
windows over the event stream.  Sessionization cannot be expressed with
tumbling ``window()`` aggregates (a session's end depends on the data), so
it uses Spark's arbitrary-stateful-processing API: one state row per key,
Arrow-batched, timeout-driven eviction.

Scale notes: state lives in the state store partitioned by the grouping
key (one shuffle per micro-batch); state size is O(distinct active keys) —
bytes per key here, so hundreds of millions of concurrent sessions fit.
``GroupStateTimeout.ProcessingTimeTimeout`` evicts idle keys so state
doesn't grow unboundedly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("session_id", T.LongType()),
    ]
)

# state: (last event epoch-micros, running session counter)
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("session_id", T.LongType()),
    ]
)


def sessionize_stream(
    stream: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign gap-based session ids to a stream, continuing sessions ACROSS
    micro-batches (the stateful analog of the batch ``sessionize`` query in
    driver_queries_wave3 — same semantics, state-store-resident last-seen
    timestamps instead of a lag window).
    """
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(stream.sparkSession)
    gap_us = gap_minutes * 60_000_000

    def assign(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            state.remove()
            return
        last_us, session_id = state.get if state.exists else (None, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # micro-batch rows arrive unordered within the group
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        out_sessions = []
        for t in batch["ts"]:
            t_us = int(t.value // 1_000)  # pandas Timestamp nanos → micros
            if last_us is None or t_us - last_us > gap_us:
                session_id += 1
            last_us = t_us
            out_sessions.append(session_id)
        state.update((last_us, session_id))
        state.setTimeoutDuration(120 * 60_000)
        yield pd.DataFrame(
            {
                "user_id": batch["user_id"].astype("int64"),
                "event_id": batch["event_id"].astype("int64"),
                "ts": batch["ts"],
                "session_id": out_sessions,
            }
        )

    return (
        stream.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            assign,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def running_user_totals(
    stream: DataFrame,
) -> DataFrame:
    """Cross-batch running per-user lifetime stats (event count, value
    total, last event id) via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API (SPARK-49564 "transformWithState"), the
    successor to ``applyInPandasWithState`` used by ``sessionize_stream``:
    named typed state handles, explicit update-mode emission.

    Each micro-batch emits ONE updated row per touched key, so a sink in
    update mode maintains a live user-profile table without re-reading
    history — the streaming twin of ``sketches.combine_aggregates``.

    Scale shape: state is O(distinct users) at a few bytes per key,
    partitioned by the grouping key in the state store; each micro-batch
    shuffles only its own rows (one exchange) and touches only the state
    of keys present in the batch.

    Environment notes:
    - the transformWithState Python state server speaks protobuf in BOTH
      the driver and worker processes; a working ``google.protobuf`` must
      be importable (raises ImportError here at plan time otherwise — the
      declared dependency, not a stub).  On machines without a protobuf
      wheel, ``tools/pbshim`` (exported on PYTHONPATH so spawned workers
      see it too) wires in a vendored runtime — that path is what the
      integration test runs in this container.
    - the state store must support multiple column families: set
      ``spark.sql.streaming.stateStore.providerClass`` to
      ``...state.RocksDBStateStoreProvider`` before starting the query
      (the default HDFS-backed provider rejects transformWithState).
    ``sessionize_stream`` above covers the same stateful ground on the
    older protobuf-free API.
    """
    from google.protobuf import descriptor  # noqa: F401 — fail fast, clearly
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(stream.sparkSession)

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n BIGINT, total DOUBLE, last_id BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._stats.exists():
                n, total, last_id = self._stats.get()
            else:
                n, total, last_id = 0, 0.0, -1
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                last_id = max(last_id, int(pdf["event_id"].max()))
            self._stats.update((n, total, last_id))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "last_event_id": [last_id],
                }
            )

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "value", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=(
                "user_id BIGINT, n_events BIGINT, total_value DOUBLE, "
                "last_event_id BIGINT"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )

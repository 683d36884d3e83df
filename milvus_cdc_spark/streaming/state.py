"""Stateful streaming operators (SURVEY §2.9):

- ``channel_ts_tracker`` (T1/W5): per-vchannel high-water mark and
  regression counts, ``applyInPandasWithState`` without a timeout;
- ``timetick_stream`` (T1): the time-tick heartbeat, the same operator
  with a processing-time timeout that fires on idle channels;
- ``barrier_stream`` (T3; reference core/reader/data_barrier.go:27-59
  count-to-N + restart-safe ready-set core/api/task_msg.go:44-56).

The barrier is ``groupBy(object).agg(collect_set(vchannel))`` in update
mode. Structured Streaming keeps the per-object set in the state store
(backed by the checkpoint → restart-safe exactly like the reference's
persisted ReplicateMeta). A foreachBatch consumer releases objects whose
set reached the expected channel count. An applyInPandasWithState variant
is deliberately NOT used there: the built-in streaming aggregate covers
the semantics with less code and JVM-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def channel_ts_tracker(ops: DataFrame) -> DataFrame:
    """Per-vchannel TS-manager state as a custom stateful operator
    (SURVEY §2.9 T1/W5: ts_manager.go:129-148 CollectTS keeps per-channel
    max; :338-366 tracks last-sent).

    Implemented with ``applyInPandasWithState`` — the Arrow-batched
    custom-state extension point (SURVEY §2.10) — to exercise the path
    the built-in aggregates can't express (arbitrary per-key Python
    state transitions). Each trigger emits the running (max_ts, n_packs,
    n_regressions) per vchannel; n_regressions counts arrivals whose
    batch-max fell below the stored high-water mark (the condition that
    triggers the reference's monotonic rebase, T2).

    State is one tiny tuple per vchannel in the checkpointed state
    store — bounded by channel cardinality, not data volume.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        max_ts, n_packs, n_regr = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            batch_max = int(pdf["ts"].max())
            if batch_max < max_ts:
                n_regr += 1
            max_ts = max(max_ts, batch_max)
            n_packs += len(pdf)
        state.update((max_ts, n_packs, n_regr))
        yield pd.DataFrame(
            {
                "vchannel": [key[0]],
                "max_ts": [max_ts],
                "n_packs": [n_packs],
                "n_regressions": [n_regr],
            }
        )

    return (
        ops.select("vchannel", "ts")
        .groupBy("vchannel")
        .applyInPandasWithState(
            update,
            outputStructType="vchannel string, max_ts long, n_packs long, n_regressions long",
            stateStructType="max_ts long, n_packs long, n_regressions long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def timetick_stream(ops: DataFrame, tt_interval_ms: int = 500) -> DataFrame:
    """Time-tick heartbeat as a timer-driven stateful operator (SURVEY §2.9
    T1: emit a TT msg when a pack has data OR the TTInterval elapsed —
    UnsafeShouldSendTSMsg ts_manager.go:324-336, 500 ms default
    core/model/reader.go:63).

    ``applyInPandasWithState`` with a *processing-time timeout*: a data
    arrival updates the per-channel high-water mark and emits a data tick;
    when a channel goes idle the group times out and emits a heartbeat
    tick carrying the last mark, re-arming itself.

    State per key: (max_ts, n_msgs) — bounded by channel cardinality.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        max_ts, n_msgs = state.get if state.exists else (0, 0)
        if state.hasTimedOut:
            # idle channel: heartbeat with the last high-water mark, re-arm
            state.setTimeoutDuration(tt_interval_ms)
            yield pd.DataFrame(
                {
                    "vchannel": [key[0]],
                    "tick_ts": [max_ts],
                    "n_msgs": [0],
                    "is_heartbeat": [True],
                }
            )
            return
        n = 0
        for pdf in pdfs:
            if len(pdf):
                max_ts = max(max_ts, int(pdf["ts"].max()))
                n += len(pdf)
        state.update((max_ts, n_msgs + n))
        state.setTimeoutDuration(tt_interval_ms)
        yield pd.DataFrame(
            {
                "vchannel": [key[0]],
                "tick_ts": [max_ts],
                "n_msgs": [n],
                "is_heartbeat": [False],
            }
        )

    return (
        ops.select("vchannel", "ts")
        .groupBy("vchannel")
        .applyInPandasWithState(
            update,
            outputStructType="vchannel string, tick_ts long, n_msgs long, is_heartbeat boolean",
            stateStructType="max_ts long, n_msgs long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def barrier_stream(drops: DataFrame, expected: int) -> DataFrame:
    """Streaming barrier aggregate over a stream of drop signals.

    ``drops`` is a *streaming* DataFrame with (object_id, vchannel).
    Returns a streaming aggregate with is_ready per object; run it in
    update mode and act on rows where is_ready becomes true.
    """
    agg = drops.groupBy("object_id").agg(
        F.array_sort(F.collect_set("vchannel")).alias("ready_channels")
    )
    return agg.withColumn("n_ready", F.size("ready_channels")).withColumn(
        "is_ready", F.col("n_ready") >= F.lit(expected)
    )

"""Monotonic-timestamp repair (SURVEY §2.9 T2).

Reference semantics (replicate_channel_manager.go:1764-1790 + 1846-1875):
if an incoming pack's timestamps are <= the channel's running max-ts,
rebase the whole pack to base = max-ts, preserving intra-pack order by the
dense rank of each msg's BeginTs.

Spark shape: a pure function of the batch and the per-channel max-ts. The
max-ts is control-sized state (one row per channel), so the pipeline keeps
it as ``[vchannel, max_ts]`` rows in its state manifest and folds each
batch's repaired max into them at the commit point: the rebase base moves
exactly when its batch commits. The rebase itself is the batch window
expression (operators.windows.monotonic_rebase): one shuffle on vchannel,
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from milvus_cdc_spark.operators import windows


def repair_batch(batch: DataFrame, channel_max: list) -> DataFrame:
    """Rebase rows whose channel regressed below its max-ts.

    ``channel_max`` is ``[vchannel, max_ts]`` rows; a channel without a
    row (a null vchannel included) has base 0. Returns the batch with a
    ``repaired_ts`` column: untouched where the channel is monotonic,
    rebased (max_ts + dense_rank) where it regressed.
    """
    pairs = [
        x for v, ts in channel_max if v is not None
        for x in (F.lit(v), F.lit(ts).cast("bigint"))
    ]
    base = F.lit(0)
    if pairs:
        base = F.coalesce(F.create_map(*pairs)[F.col("vchannel")], base)
    rebased = windows.monotonic_rebase(
        batch.withColumn("base", base), ["vchannel"], "ts", "base"
    )
    return rebased.withColumn(
        "repaired_ts",
        F.when(F.col("ts") > F.col("base"), F.col("ts")).otherwise(F.col("rebased_ts")),
    ).drop("rebased_ts", "base")

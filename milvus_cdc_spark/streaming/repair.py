"""Monotonic-timestamp repair (SURVEY §2.9 T2).

Reference semantics (replicate_channel_manager.go:1764-1790 + 1846-1875):
if an incoming pack's timestamps are <= the channel's running max-ts,
rebase the whole pack to base = max-ts, preserving intra-pack order by the
dense rank of each msg's BeginTs.

Spark shape: a foreachBatch stage. Per-channel max-ts is tiny keyed state
(one row per channel) — kept in a versioned parquet table exactly like the
apply state. The rebase itself is the batch window expression
(operators.windows.monotonic_rebase): one shuffle on vchannel, no Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark.operators import windows


def repair_batch(batch: DataFrame, channel_max: DataFrame) -> DataFrame:
    """Rebase rows whose channel regressed below the stored max-ts.

    Returns the batch with a ``repaired_ts`` column: untouched where the
    channel is monotonic, rebased (max_ts + dense_rank) where it regressed.
    """
    joined = batch.join(F.broadcast(channel_max), "vchannel", "left").withColumn(
        "base", F.coalesce(F.col("max_ts"), F.lit(0))
    )
    rebased = windows.monotonic_rebase(joined, ["vchannel"], "ts", "base")
    return rebased.withColumn(
        "repaired_ts",
        F.when(F.col("ts") > F.col("base"), F.col("ts")).otherwise(F.col("rebased_ts")),
    ).drop("rebased_ts", "base", "max_ts")


def next_channel_max(batch_repaired: DataFrame, channel_max: DataFrame) -> DataFrame:
    """Fold this batch's repaired timestamps into the per-channel max."""
    update = batch_repaired.groupBy("vchannel").agg(F.max("repaired_ts").alias("max_ts"))
    return (
        channel_max.unionByName(update)
        .groupBy("vchannel")
        .agg(F.max("max_ts").alias("max_ts"))
    )


class MonotonicRepairStage:
    """foreachBatch wrapper owning the per-channel max-ts state table."""

    def __init__(self, spark: SparkSession, work_dir: str):
        self.spark = spark
        self.state_dir = os.path.join(work_dir, "channel_max")
        # restart recovery: resume from the latest version on disk — a new
        # process over an existing work_dir must not restart at v0 (the
        # streaming checkpoint will skip already-read files, so losing the
        # channel-max state here would silently break T2 monotonicity)
        self._version = self._latest_version_on_disk()

    def _latest_version_on_disk(self) -> int:
        if not os.path.isdir(self.state_dir):
            return 0
        versions = [
            int(d[1:])
            for d in os.listdir(self.state_dir)
            if d.startswith("v") and d[1:].isdigit()
        ]
        return max(versions, default=0)

    def read_channel_max(self) -> DataFrame:
        if self._version == 0:
            from milvus_cdc_spark.catalog import local_frame

            return local_frame(self.spark, [], "vchannel string, max_ts bigint")
        return self.spark.read.parquet(os.path.join(self.state_dir, f"v{self._version}"))

    def process(self, batch: DataFrame) -> DataFrame:
        channel_max = self.read_channel_max()
        repaired = repair_batch(batch, channel_max)
        new_max = next_channel_max(repaired, channel_max)
        self._version += 1
        new_max.write.mode("overwrite").parquet(
            os.path.join(self.state_dir, f"v{self._version}")
        )
        return repaired

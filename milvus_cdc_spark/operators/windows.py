"""Window/ordering operators (SURVEY §2.6).

- W1 in-pack stable sort (delete-before-insert tie-break)
- W2 latest-version-of-name dedupe
- W3 monotonic timestamp rebase (dense_rank within pack)
- W5 lag-style last-sent tracking

All are single-shuffle window functions: one exchange on the partition key,
then sorted evaluation within partitions — exactly the plan you want at
scale (no driver involvement, AQE can coalesce the post-shuffle partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import CacheRegistry


def pack_sort_keys(ts_col: str = "ts", op_col: str = "op_type") -> list:
    """W1: sort msgs by BeginTs with Delete before Insert on equal ts
    (replicate_channel_manager.go:1450-1454)."""
    return [
        F.col(ts_col).asc(),
        F.when(F.col(op_col) == "delete", F.lit(0)).otherwise(F.lit(1)).asc(),
    ]


def latest_version_dedupe(df: DataFrame, partition_keys: list[str], order_col: str) -> DataFrame:
    """W2: repeated collection names keep only the max-CreateTime instance
    (core/reader/collection_reader.go:203-238). row_number desc = 1."""
    w = Window.partitionBy(*partition_keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def monotonic_rebase(
    df: DataFrame,
    partition_keys: list[str],
    ts_col: str,
    base_col: str,
) -> DataFrame:
    """W3/T2: if a pack's timestamps regressed below the channel's max-ts, the
    reference rebases the whole pack onto a new base, preserving intra-pack
    order via the dense rank of each msg's BeginTs
    (replicate_channel_manager.go:1846-1875). Column math + one window."""
    w = Window.partitionBy(*partition_keys).orderBy(F.col(ts_col).asc())
    return df.withColumn(
        "rebased_ts", (F.col(base_col) + F.dense_rank().over(w)).cast("bigint")
    )


# Cached range-ranked frames from distributed_ntile / distributed_row_number.
# The cache is load-bearing for correctness, not just speed: the driver-side
# offsets are computed from the SAME materialized range partitioning the
# result reads, and an unpersisted recompute could re-sample different range
# bounds and silently mis-rank. Callers therefore own the release point —
# call release_rank_caches() once returned frames have been materialized
# (collected / written), which long-lived sessions should do between queries.
_RANK_CACHES = CacheRegistry("rank_caches")


def release_rank_caches() -> None:
    """Unpersist intermediates cached by prior distributed_ntile /
    distributed_row_number calls. Safe once their returned DataFrames have
    been materialized; re-executing an old returned frame AFTER release
    recomputes the range shuffle and may mis-rank — treat released results
    as consumed."""
    _RANK_CACHES.release()


def _range_ranked(df: DataFrame, order_cols: list, n_partitions: int):
    """Shared core of the exact distributed global-rank pattern: returns
    ``(local, rank_expr, total)`` where ``local`` is the persisted
    range-partitioned frame carrying ``_pid``/``_lrank`` helper columns and
    ``rank_expr`` evaluates to the exact 1-based global rank.

    1. ``repartitionByRange(order_cols)`` — rows land range-ordered across
       ``n_partitions`` tasks (one parallel shuffle);
    2. per-partition ``row_number`` gives a local rank;
    3. per-partition counts (tiny: one row per partition) turn into
       cumulative offsets, folded back as a literal map:
       global rank = offset[pid] + local rank.

    ``order_cols`` must be a total order (include a unique tie-break key),
    otherwise boundary rows could land in either range partition.
    """
    ranged = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = ranged.withColumn(
        "_lrank", F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols))
    ).persist()
    _RANK_CACHES.append(local)
    # per-partition counts → driver-side offsets, the zipWithIndex pattern:
    # ONE row per range partition (control-sized like the pipeline's
    # touched-bucket list), folded back as a literal map so the plan has
    # no SinglePartition exchange and no second pass over the data
    counts = {
        r._pid: r._cnt
        for r in local.groupBy("_pid").agg(F.count("*").alias("_cnt")).collect()
    }
    total = sum(counts.values())
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:  # empty input: keep the literal map well-formed
        offsets = {0: 0}
    off_map = F.create_map(
        *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
    )
    rk = F.col("_lrank") + F.coalesce(off_map[F.col("_pid")], F.lit(0))
    return local, rk, total


def distributed_row_number(df: DataFrame, order_cols: list,
                           n_partitions: int = 32,
                           rank_col: str = "rank") -> DataFrame:
    """Exact global ``row_number()`` (1-based) without a single-task global
    sort — the `Exchange SinglePartition` an unpartitioned window would
    force. Used for vocabulary token-id assignment, where a 100 TB corpus
    has 10^7-10^8 distinct terms. Same offsets pattern as
    ``distributed_ntile``; see ``_range_ranked`` for the plan shape and
    ``release_rank_caches`` for cache lifetime."""
    local, rk, _ = _range_ranked(df, order_cols, n_partitions)
    return local.withColumn(rank_col, rk.cast("bigint")).drop("_pid", "_lrank")


def distributed_ntile(df: DataFrame, n: int, order_cols: list[str],
                      n_partitions: int = 32,
                      tile_col: str = "tile") -> DataFrame:
    """Exact global ``ntile(n)`` without a single-task global sort.

    ``ntile`` over an unpartitioned window funnels every row through ONE
    task's sort (Exchange SinglePartition) — the shape that dies at 100 TB.
    Same answer, distributed plan: the ``_range_ranked`` offsets pattern,
    then the tile is pure arithmetic on (rank, N): the first ``N % n``
    tiles hold ``ceil(N/n)`` rows, the rest ``floor(N/n)`` — SQL ntile's
    exact fill rule.

    ``order_cols`` must be a total order (include a unique tie-break key).
    Cache lifetime: see ``release_rank_caches``.
    """
    local, rk, total = _range_ranked(df, order_cols, n_partitions)
    base, rem = total // n, total % n  # first N%n tiles take one extra row
    fat = rem * (base + 1)             # rows covered by the fat tiles
    if base == 0:
        tile = rk
    else:
        tile = F.when(rk <= fat, F.ceil(rk / (base + 1))).otherwise(
            rem + F.ceil((rk - fat) / base)
        )
    return local.withColumn(tile_col, tile.cast("int")).drop("_pid", "_lrank")


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    n_partitions: int = 32,
    out_col: str = "cum",
    inclusive: bool = True,
) -> DataFrame:
    """Exact global running sum of ``value_col`` in ``order_cols`` order
    without a single-task global sort.

    An unpartitioned ``sum().over(Window.orderBy(...))`` funnels every row
    through ONE task (Exchange SinglePartition) — the shape that dies at
    100 TB. Distributed plan, same answer:

    1. ``repartitionByRange(order_cols)`` — one parallel range shuffle;
    2. per-partition running sum (window partitioned by ``_pid``);
    3. per-partition TOTALS (one row per partition) become driver-side
       cumulative offsets folded back as a literal map — the same
       zipWithIndex pattern as ``distributed_row_number``.

    ``inclusive=False`` returns the sum of strictly-preceding rows (the
    ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING`` frame), which is
    what rank-statistic algebra (Mann-Whitney AUC, CDF remaps) wants.

    ``order_cols`` must be a total order (include a unique tie-break key)
    and ``value_col`` must already be exact (integer/decimal) — a float
    running sum is order-sensitive and breaks the repo's portable-math
    contract. Cache lifetime: see ``release_rank_caches``.
    """
    ranged = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    frame_end = 0 if inclusive else -1
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    local = ranged.withColumn(
        "_lsum", F.coalesce(F.sum(F.col(value_col)).over(w), F.lit(0))
    ).persist()
    _RANK_CACHES.append(local)
    totals = {
        r._pid: r._tot
        for r in local.groupBy("_pid")
        .agg(F.sum(F.col(value_col)).alias("_tot"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    if not offsets:
        offsets = {0: 0}
    off_map = F.create_map(
        *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
    )
    out = F.col("_lsum") + F.coalesce(off_map[F.col("_pid")], F.lit(0))
    return local.withColumn(out_col, out.cast("bigint")).drop("_pid", "_lsum")


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 3600,
) -> DataFrame:
    """Gap-based sessionization: assign every event a per-user
    ``session_id`` that increments whenever the gap to the previous
    event exceeds ``gap_seconds`` — the per-EVENT twin of Spark's
    ``session_window`` aggregate (which can only aggregate, not label
    the rows for downstream per-event work).

    Gaps compare in integer MICROSECONDS (``unix_micros``), never in
    truncated seconds or float epochs — the sub-second boundary events
    would otherwise classify differently across engines.

    Plan: one ``lag`` + one running-sum window over the same
    (user, ts) partitioning — a single user-keyed shuffle, each task
    handling complete users; at 100 TB this is the canonical
    partition-parallel window (skewed power users are bounded by any
    single user's event count, not the corpus).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    new_sess = (
        prev_us.isNull()
        | ((F.unix_micros(F.col(ts_col)) - prev_us) > gap_seconds * 1_000_000)
    ).cast("int")
    sid = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return events.withColumn("session_id", sid)

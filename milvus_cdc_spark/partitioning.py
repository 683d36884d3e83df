"""Scan-parallelism guard for CPU-heavy work over small local fixtures.

Spark sizes input splits by BYTES, and a parquet file is only splittable
at row-group boundaries — the test fixtures are single-row-group files,
so every scan of them is ONE task regardless of
``spark.sql.files.maxPartitionBytes``. Any operator whose per-row work
is expensive relative to its input bytes (md5 coin-flip derivations,
vector math, shingling) then serializes its whole pipelined stage on one
core with 31 idle. SCALE.md §5p measured this for row-EXPANDING
operators (the crossJoin scorer of ``similarity.brute_force_topk``); the
r14 stage profiles show the same trap for expression-DENSE projections:
the oplog derivation's md5/concat/timestamp chain plus the map-side
partial aggregate of the downstream groupBy all run inside the
single-split scan stage (measured 1.3-3.7 s single-threaded at sf0.1
across the CDC replay / consistency-read family).

``widen_small_scan`` repartitions the frame up to the session's default
parallelism ONLY when its current plan carries fewer partitions. At real
scale a 100 TB table arrives with thousands of splits, so the helper
reduces to the partition probe.

Boundary for the expanding case (SCALE.md §5p, measured, do not widen):
a quadratic scorer's work is |corpus| x |queries| while its input is
|corpus|-sized, and widening pays ONLY where that expansion factor is
large — brute_force_topk's |queries|-way crossJoin (hundreds of pairs
per input row; interleaved A/B at sf0.1, knn shape: 1.83 -> 0.83 s
median). Widening ahead of ``similarity.nearest`` (ivf_train, pq_train,
pq_encode, ivf_pq_build) or ``ivf_assign`` was a wash-to-regression in
an interleaved on/off A/B at sf0.1 (semdedup_prune +12%): their
k<=16-way expansions with map-side combine do too little work per input
row to repay the extra shuffle plus the plan->RDD probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Partition-probe memo keyed by (SparkContext id, input file set, plan
#: semantic hash): ``df.rdd.getNumPartitions()`` forces a full plan→RDD
#: conversion on the driver for EVERY widened query (r14 verdict #4 —
#: measured as 0.1-0.2 s of the "probe + exchange" cost in the losers
#: table, and at 100 TB an extra physical-planning pass per query). For
#: a fixed plan shape over a fixed file set the count is a
#: session-stable function of the (static) split and shuffle confs, so
#: it is memoized per (session, files, shape). The semantic hash is
#: stable across re-reads of the same table and differs between a scan
#: and, say, that scan repartitioned or aggregated, so one file set's
#: frames of different shapes never share a count. Frames with no input
#: files (in-memory ranges, local frames) skip the memo and probe
#: directly.
_PROBE_CACHE: dict[tuple[int, tuple[str, ...], int], int] = {}


def _plan_partitions(df: DataFrame) -> int:
    """The frame's physical partition count (plan→RDD probe) — the
    expensive call the memo in ``widen_small_scan`` exists to amortize;
    a seam for tests."""
    return df.rdd.getNumPartitions()


def widen_small_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ``df`` up to defaultParallelism when its plan has
    fewer partitions — no-op on well-split inputs.

    With ``key_cols`` the exchange is HASH partitioning on those columns
    — preferred when a high-cardinality deterministic key exists,
    because a keyless ``repartition(n)`` first pays a LOCAL SORT of its
    input (``spark.sql.execution.sortBeforeRepartition``, needed so task
    retries reproduce the round-robin assignment; guide §2.5) and on a
    single-split scan that sort runs on the one task this helper exists
    to relieve. Hash partitioning is deterministic per row, so it needs
    no such sort. Without ``key_cols`` (``similarity.brute_force_topk``'s
    row-expanding scorer input) it is the round-robin
    ``repartition(n)``.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        files = ()
    if files:
        key = (id(sc), files, df.semanticHash())
        n = _PROBE_CACHE.get(key)
        if n is None:
            n = _plan_partitions(df)
            _PROBE_CACHE[key] = n
    else:
        n = _plan_partitions(df)
    if n < target:
        if key_cols:
            from pyspark.sql import functions as F

            return df.repartition(target, *[F.col(c) for c in key_cols])
        return df.repartition(target)
    return df

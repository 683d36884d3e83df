"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the config choices are the ones that matter
on a real cluster too: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for any pandas-UDF path, UTC session timezone so event-time
semantics are unambiguous, and a shuffle-partition count sized to the
parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """The ``spark.driver.memory`` default when ``SPARK_DRIVER_MEMORY`` is
    unset: 24g, or half the host's physical memory when that is smaller,
    so a few sessions side by side (a test run beside a plan sweep) stay
    inside the host's RAM."""
    try:
        half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    except (AttributeError, ValueError, OSError):  # a platform without these sysconf names
        return "24g"
    return "24g" if half_mb >= 24 * 1024 else f"{half_mb}m"


def get_spark(app_name: str = "milvus_cdc_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet TIMESTAMP(NANOS) is unreadable by Spark natively; read the
        # raw int64 and let the catalog convert (truncate) to microseconds.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Input-split sizing must match the data scale (SURVEY §6 / the
        # 100 TB brief): the default 128 MB leaves the ≤11 MB single-file
        # test tables as one-split scans that serialize 32 cores. 4 MB
        # spreads the local fixtures across the machine; a cluster run at
        # real scale overrides it via SPARK_GRAFT_EXTRA_CONF (128 MB+).
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # AQE coalesces post-shuffle partitions by BYTES, and the default
        # 1 MB floor under-parallelizes expression-dense stages whose
        # array payloads arrive via broadcast joins (the candidate-verify
        # frames of the dedup/vector families measured 2-task stages with
        # 30 cores idle). 64 KB lets AQE keep CPU-heavy small-byte stages
        # wide; interleaved on/off A/Bs over 22 queries at sf0.1 were
        # uniformly flat-to-better (banded_cosine −58 %, near_dup_clusters
        # −36 %, zero regressions, values identical — SCALE.md §5q). At
        # real scale post-shuffle partitions dwarf both floors and the
        # 64 MB advisory target governs; the floor binds exactly when
        # bytes underestimate work.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Generated-class cache sized to hold a query MIX. One pass of
        # perfbench's analytics mix (q1_pricing_summary,
        # cdc_replay_summary, bm25_topk, kmeans_silhouette) compiles
        # ~140 classes, over the 100-entry default, so each query's
        # classes are evicted before it runs again and every pass pays
        # Janino compilation and JIT warm-up again. At 1000 entries a
        # repeat pass compiles 0-2 classes. A static conf cannot change
        # inside one JVM, so its A/B is interleaved fresh-process runs:
        # analytics_mix seeds 11-14 (local[4], 4-core host), 100 vs 1000
        # entries, median ops_per_cpu_s 0.248 -> 0.297, op_cpu_s 3.37 ->
        # 2.84 s, median pass wall 5.18 -> 4.14 s; every seed better.
        # The r14 refutation (OPTIMIZATION_r14.md) repeated ONE query,
        # ivf_pq_recall, alone and timed its wall steady state, where
        # nothing evicts its classes; it never measured a mix or CPU.
        # SPARK_GRAFT_EXTRA_CONF can still override the size.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # Generic conf passthrough for A/B measurement and cluster overrides:
    # semicolon-separated key=value pairs, applied last so they win over
    # the defaults above. Static SQL confs (the codegen cache size above,
    # say) only take effect when set before the session's context starts,
    # which is why this hook lives in the session factory rather than in
    # per-query code.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in extra.split(";"):
        pair = pair.strip()
        if not pair or "=" not in pair:
            continue
        key, _, value = pair.partition("=")
        builder = builder.config(key.strip(), value.strip())
    return builder.getOrCreate()

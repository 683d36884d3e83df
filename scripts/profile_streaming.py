"""Phase-level wall-clock profile of the three real-streaming heavies
(`streaming_cdc_apply`, `streaming_positions`, `streaming_stream_join`)
— the only registered queries above 4 s anywhere in BCOV_r12. The r12
verdict asked for a breakdown into fixed Structured-Streaming machinery
vs per-microbatch manifest/positions/state cost (task #4), so each run
reports:

  fixture   — staging the source files (test setup, not pipeline cost,
              but included in every bench draw of these queries)
  stream    — the streaming query wall time MINUS the sum of foreachBatch
              bodies = source listing + checkpoint commits + trigger
              scheduling (the irreducible machinery)
  batches   — per-batch phase_timings from CdcApplyPipeline
  final     — the converged-state read + aggregate the suite returns

Usage: python scripts/profile_streaming.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from milvus_cdc_spark.session import get_spark  # noqa: E402


def _count_files(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def profile_cdc_apply(spark, sf_dir: str, positions_only: bool = False) -> dict:
    """streaming_cdc_apply / streaming_positions share the pipeline; only
    the final read differs (suite.py:1984,2018)."""
    from milvus_cdc_spark.streaming.pipeline import CdcApplyPipeline
    from milvus_cdc_spark.suite import _write_oplog_files

    tmp = tempfile.mkdtemp(prefix="prof_cdc_")
    out: dict = {}
    t0 = time.time()
    _write_oplog_files(spark, sf_dir, f"{tmp}/oplog")
    out["fixture"] = round(time.time() - t0, 3)

    pipe = CdcApplyPipeline(spark, f"{tmp}/oplog", f"{tmp}/work")
    t1 = time.time()
    pipe.run_available_now()
    stream_total = time.time() - t1
    batch_total = sum(sum(v for k, v in b.items() if k != "batch_id")
                      for b in pipe.phase_timings)
    out["stream_total"] = round(stream_total, 3)
    out["batch_bodies"] = round(batch_total, 3)
    out["machinery"] = round(stream_total - batch_total, 3)
    out["batches"] = pipe.phase_timings
    out["state_files"] = _count_files(pipe.state_dir)

    t2 = time.time()
    if positions_only:
        n = pipe.positions().orderBy("vchannel").count()
    else:
        n = (
            pipe.alive()
            .groupBy("collection")
            .agg(F.count("*").alias("alive_pks"),
                 F.sum("n_inserts").alias("total_inserts"))
            .orderBy("collection")
            .count()
        )
    out["final_read"] = round(time.time() - t2, 3)
    out["rows"] = n
    out["total"] = round(time.time() - t0, 3)
    return out


def profile_stream_join(spark, sf_dir: str) -> dict:
    """streaming_stream_join phases (suite_streaming_ext.py:65)."""
    from milvus_cdc_spark.streaming.joins import interval_attribution_join
    from milvus_cdc_spark.suite_streaming_ext import _run_to_memory, _stage_events

    out: dict = {}
    t0 = time.time()
    stage, ev = _stage_events(spark, sf_dir)
    out["fixture"] = round(time.time() - t0, 3)
    t1 = time.time()
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    clicks = stream.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    pairs = interval_attribution_join(
        clicks, buys, key="user_id", max_gap="1 hour", watermark="31 days"
    )
    joined = _run_to_memory(pairs, "append", state_partitions=8)
    out["stream_total"] = round(time.time() - t1, 3)
    t2 = time.time()
    out["rows"] = (
        joined.groupBy(F.to_date(F.date_trunc("day", "l_ts")).alias("click_day"))
        .agg(F.count("*").alias("n_attributed"),
             F.round(F.sum("r_value"), 2).alias("attributed_value"))
        .count()
    )
    out["final_read"] = round(time.time() - t2, 3)
    out["total"] = round(time.time() - t0, 3)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    which = sys.argv[2:] or ["cdc_apply", "positions", "stream_join"]
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    # JVM warm-up at the smallest SF (same discipline as bench.py)
    from milvus_cdc_spark import suite
    suite.QUERIES["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()
    report = {}
    for name in which:
        if name == "cdc_apply":
            report[name] = profile_cdc_apply(spark, sf_dir)
        elif name == "positions":
            report[name] = profile_cdc_apply(spark, sf_dir, positions_only=True)
        elif name == "stream_join":
            report[name] = profile_stream_join(spark, sf_dir)
        spark.catalog.clearCache()
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

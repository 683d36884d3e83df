"""Offline reconciliation tool — PK-level diff of two op-log replays.

Reference: server/tool/data_diff/main.go:77-174 — fetch PK→{insert ts[],
delete ts[]} from both clusters, report A∖B, B∖A, and liveness
mismatches (alive iff max(insert_ts) >= max(delete_ts), main.go:160-174).

Spark shape: replay each side to per-pk state (one shuffle per side,
map-side combine), full-outer join on (collection, pk), flag rows.
Scales with live-pk cardinality; nothing collects except the printed
summary and the optional mismatch sample.

Usage:
  python scripts/data_diff.py SOURCE_OPLOG_DIR TARGET_OPLOG_DIR [--sample N]

Each dir holds op-event parquet rows in the canonical schema
(milvus_cdc_spark.oplog). Exit 0 = in sync, 1 = differences found.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sample_n = 10
    for a in sys.argv[1:]:
        if a.startswith("--sample"):
            sample_n = int(a.split("=", 1)[1]) if "=" in a else 10
    if len(args) != 2:
        print(__doc__)
        sys.exit(2)
    src_dir, dst_dir = args

    from pyspark.sql import functions as F

    from milvus_cdc_spark.operators.apply import is_alive
    from milvus_cdc_spark.session import get_spark
    from milvus_cdc_spark.streaming.pipeline import OPLOG_SCHEMA, batch_to_state

    spark = get_spark("data_diff")
    spark.sparkContext.setLogLevel("ERROR")

    def side(path: str):
        ops = spark.read.schema(OPLOG_SCHEMA).parquet(path)
        return batch_to_state(ops).withColumn("alive", is_alive()).select(
            "collection", "pk", "alive", "last_insert_ts"
        )

    a = side(src_dir)
    b = side(dst_dir)
    joined = a.alias("a").join(
        b.alias("b"), ["collection", "pk"], "full_outer"
    ).select(
        "collection",
        "pk",
        F.col("a.alive").alias("a_alive"),
        F.col("b.alive").alias("b_alive"),
    )
    flagged = joined.withColumn(
        "status",
        F.when(F.col("a_alive").isNull(), F.lit("only_in_target"))
        .when(F.col("b_alive").isNull(), F.lit("only_in_source"))
        .when(F.col("a_alive") != F.col("b_alive"), F.lit("liveness_mismatch"))
        .otherwise(F.lit("in_sync")),
    )
    counts = {
        r.status: r.n
        for r in flagged.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    total_diff = sum(v for k, v in counts.items() if k != "in_sync")
    print(f"in_sync:            {counts.get('in_sync', 0)}")
    print(f"only_in_source:     {counts.get('only_in_source', 0)}")
    print(f"only_in_target:     {counts.get('only_in_target', 0)}")
    print(f"liveness_mismatch:  {counts.get('liveness_mismatch', 0)}")
    if total_diff:
        print(f"\nfirst {sample_n} differing pks:")
        for r in (
            flagged.filter(F.col("status") != "in_sync")
            .orderBy("collection", "pk")
            .limit(sample_n)
            .collect()
        ):
            print(f"  {r.collection}/{r.pk}: {r.status}")
    spark.stop()
    sys.exit(1 if total_diff else 0)


if __name__ == "__main__":
    main()

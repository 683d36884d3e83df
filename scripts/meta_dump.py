"""Metadata snapshot dump tool — the etcd_meta analog.

Reference: server/tool/etcd_meta.go — connect to etcd and print the
collection metadata the replication tasks see (collection ids, names,
database, schema fields, dynamic-field flag). The engine's metadata
snapshot is the hydrated-catalog frame (suite.schema_hydration — the S1
etcd snapshot + S3 hydration path, etcd_op.go:630-693), so the tool is a
thin driver over it: one broadcast-join plan, one control-sized collect,
JSON lines out — the same operational answer ("what collections does
replication know about, with which fields?") without an etcd endpoint.

Usage:
  python scripts/meta_dump.py [SF_DIR] [--include-dropped]

One JSON object per line per collection; exit 0 always (reporting tool).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = "/root/testdata/sf0.001"
    include_dropped = False
    for a in sys.argv[1:]:
        if a == "--include-dropped":
            include_dropped = True
        elif not a.startswith("--"):
            sf_dir = a

    from pyspark.sql import functions as F

    from milvus_cdc_spark import suite
    from milvus_cdc_spark.session import get_spark

    spark = get_spark("meta_dump")
    spark.sparkContext.setLogLevel("ERROR")

    hydrated = suite.schema_hydration(spark, sf_dir)
    if include_dropped:
        # the hydration path hides dropped collections (state filter);
        # surface them too, fields unreported — mirrors the raw etcd
        # listing showing tombstoned keys
        all_colls = suite._meta_collections(spark, sf_dir).select(
            "coll_id", "coll_name", "state"
        )
        live_ids = hydrated.select("coll_id")
        dropped = all_colls.join(live_ids, "coll_id", "left_anti").filter(
            F.col("state") == "dropped"
        )
        for r in dropped.orderBy("coll_id").collect():
            print(
                json.dumps(
                    {
                        "coll_id": r.coll_id,
                        "coll_name": r.coll_name,
                        "state": "dropped",
                    }
                )
            )
    for r in hydrated.orderBy("coll_id").collect():
        print(
            json.dumps(
                {
                    "coll_id": r.coll_id,
                    "coll_name": r.coll_name,
                    "db_name": r.db_name,
                    "fields": json.loads(r.fields_json),
                    "enable_dynamic": bool(r.enable_dynamic),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()

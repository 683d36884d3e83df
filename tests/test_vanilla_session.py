"""Vanilla-session contract: the driver harness builds a SparkSession with
NONE of session.get_spark's confs. Everything the suite needs must therefore
be self-contained at the point of use (catalog.load_table sets the
runtime-settable confs itself).

Round-1 regressions this guards: (1) events.parquet is TIMESTAMP(NANOS) at
every SF; without spark.sql.legacy.parquet.nanosAsLong=true a vanilla
session throws PARQUET_TYPE_ILLEGAL on read — killed 8 graded queries.
(2) The driver compares results THROUGH PANDAS, where DuckDB integer sums
(HUGEINT → float64 → "15153.0") drift from Spark longs ("15153") — killed
7 more. (3) array-typed output columns crash the driver's canonicalizer.

A vanilla session cannot be built inside the shared pytest JVM (getOrCreate
reuses the configured context), so the whole check runs in a subprocess.
"""

from __future__ import annotations

import os
import subprocess
import sys

SCRIPT = r"""
import glob
import os
import shutil
import sys
import tempfile
sys.path.insert(0, sys.argv[1])  # the checkout under test
sys.path.insert(0, os.path.join(sys.argv[1], "scripts"))
import duckdb
from pyspark.sql import SparkSession
from verify_local import compare_frames

SF_DIR = "/root/testdata/sf0.001"

spark = (
    SparkSession.builder.master("local[2]")
    .appName("vanilla_contract")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
# Prove this really is a vanilla session (conf absent → default false)
assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"
assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "100"

from milvus_cdc_spark import suite
from milvus_cdc_spark.catalog import SCRATCH_PREFIX, TABLES, load_table

# a private temp root, so the layout check below sees only this run's
# pipeline work dirs
tempfile.tempdir = tempfile.mkdtemp(prefix="vanilla_contract_")

# (1) TIMESTAMP(NANOS) readable via load_table on a vanilla session
ev = load_table(spark, SF_DIR, "events")
assert dict(ev.dtypes)["ts"] == "timestamp", ev.dtypes
assert ev.count() > 0

# (2)+(3) round-1 casualties, compared through pandas (the driver's path)
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
for name in (
    "tumbling_window",          # bug 1: nanos read
    "cdc_replay_summary",       # bug 2: integer-sum dtype drift
    "metrics_counters",         # bug 2
    "ready_set_equality",       # bug 3: array columns
    "partition_drop_replay",    # r15: local_frame NULL bigint, Arrow off
    "kmeans_silhouette",        # long-form Lloyd step, no codegen conf
    "streaming_cdc_apply",      # CDC merge at 200 shuffle partitions
    "streaming_positions",      # manifest positions via local_frame, Arrow off
    "multimodal_features",      # mapInPandas closure on workers without the checkout
):
    spec = suite.QUERIES[name]
    spdf = spec.fn(spark, SF_DIR).toPandas()
    opdf = con.execute(spec.oracle).df()
    problems = compare_frames(spdf, opdf)
    assert not problems, (name, problems)

# the CDC merge keeps one file per touched bucket per state version even
# at the default 200 shuffle partitions
bucket_dirs = glob.glob(os.path.join(tempfile.gettempdir(), SCRATCH_PREFIX + "*",
                                     "cdc_*", "state", "v*", "bucket=*"))
assert bucket_dirs
for d in bucket_dirs:
    n = sum(f.endswith(".parquet") for f in os.listdir(d))
    assert n <= 1, (d, n)

print("VANILLA_CONTRACT_OK")
spark.stop()
shutil.rmtree(tempfile.tempdir, ignore_errors=True)
"""


def test_vanilla_session_contract(tmp_path):
    # run outside the checkout: the driver has it on sys.path, the Python
    # workers do not, so a UDF closure that names an engine module fails
    # to unpickle there
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT,
         os.path.dirname(os.path.dirname(os.path.abspath(__file__)))],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "VANILLA_CONTRACT_OK" in out.stdout

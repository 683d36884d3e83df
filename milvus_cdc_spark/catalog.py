"""Catalog: table loading + metadata registry.

Replaces the reference's etcd-backed metadata plane
(core/reader/etcd_op.go:562-628 GetAllCollection snapshot;
etcd_op.go:187-303 watch) with plain Spark tables: at scale each
"collection" is a parquet/Delta table; metadata lives in small dimension
tables that get broadcast-joined against streams.

For the test harness the catalog simply loads the driver-generated
TPC-H-ish parquet tables for a given scale-factor directory.
"""

from __future__ import annotations

import atexit
import hashlib
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Embeddings vector width — constant 64 across every driver-generated
#: scale factor (verified against the data by
#: tests/test_driver_contract.py::test_embeddings_fixture_width, which is
#: the tripwire if a future fixture changes width). Reading it from data
#: would cost a Spark job per query invocation (a driver round-trip just
#: to learn a constant).
EMB_DIM = 64

#: Every staged fixture and per-call work dir of the process lives under
#: one root, ``<tempdir>/SCRATCH_PREFIX<8 chars>``, made on first use and
#: removed at exit (a SIGKILLed process leaks it). Process-scoped, not
#: query-scoped: a frame a query returns reads its files lazily.
SCRATCH_PREFIX = "milvus_cdc_spark_"
_root: str | None = None
_seq = itertools.count()
_staged: set[tuple[str, str, int]] = set()


def _scratch_root() -> str:
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix=SCRATCH_PREFIX)
        atexit.register(shutil.rmtree, _root, ignore_errors=True)
    return _root


def scratch_dir(prefix: str) -> str:
    """A fresh, empty directory under the scratch root; names count up, so
    the same calls in a fresh process differ only in the root."""
    path = os.path.join(_scratch_root(), f"{prefix}{next(_seq)}")
    os.makedirs(path)
    return path


def staged(key: tuple[str, str, int], write: Callable[[str], None]) -> str:
    """The directory of a deterministic fixture ``key = (name, sf_dir,
    n_files)``, written by ``write(dir)`` once per process (again only if
    the directory has gone); callers never mutate it. Its name is a
    function of the key, so only the scratch root differs by process."""
    name, sf_dir, n_files = key
    key = (name, os.path.abspath(sf_dir), n_files)
    digest = hashlib.sha1(key[1].encode()).hexdigest()[:8]
    path = os.path.join(_scratch_root(), f"{name}_{n_files}_{digest}")
    if key not in _staged or not os.path.isdir(path):
        # a write that failed part-way leaves no memo entry; start clean
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        _staged.add(key)
    return path


@lru_cache(maxsize=None)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Column names stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    raw int64 (nanosAsLong) and we convert to microsecond timestamps, the
    same truncation DuckDB applies. Footer-only read, driver-side, cached."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return tuple(f.name for f in schema if str(f.type) == "timestamp[ns]")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Parquet scan → Catalyst gets column pruning +
    predicate pushdown for free; callers should select/filter early so the
    pushdown reaches the scan.

    Normalizations (UTC session timezone makes these lossless):
    - TIMESTAMP(NANOS) parquet → int64 → microsecond TIMESTAMP;
    - TIMESTAMP_NTZ → TIMESTAMP so epoch functions (unix_millis, window)
      apply directly.
    """
    path = f"{sf_dir}/{name}.parquet"
    # Self-contained on ANY session (a vanilla driver harness session has
    # none of session.get_spark's confs). Both are runtime-settable:
    # nanosAsLong makes TIMESTAMP(NANOS) parquet readable (raw int64),
    # UTC pins event-time semantics regardless of host timezone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for col in _nanos_columns(path):
        # integer division: ns epoch values overflow double's exact range
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all tables as temp views so spark.sql() queries can run
    against the same names the DuckDB oracle uses."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-local rows → DataFrame through the ARROW path, not the
    Python-parallelize path.

    ``spark.createDataFrame(list, schema)`` backs the frame with a
    pickled Python RDD, so EVERY downstream action pays a Python-worker
    roundtrip — measured 0.44-3.3 s per action for a 500-row frame vs
    0.20-0.28 s via a pandas/Arrow-backed local table (r13; the same
    mechanism measured 4.6 s/batch in the streaming positions A/B,
    SCALE.md §5t). Control-plane dims (drop cutoffs, union-find results,
    name mappings) are built once and joined repeatedly, so the backing
    matters. Rows are materialized into a pandas frame column-wise; the
    explicit DDL schema pins types exactly as before (including empty
    input).

    Every column is built with OBJECT dtype, so the original Python
    values (exact ints, real ``None``) reach Spark under the DDL schema
    on either conversion path. A plain ``pd.DataFrame`` would coerce a
    bigint column holding a NULL to float64, corrupting values above
    2^53 (ADVICE r13); pandas nullable ``Int64`` avoids that under Arrow,
    but with ``spark.sql.execution.arrow.pyspark.enabled=false`` (a
    vanilla session) its NULL arrives as ``nan`` and the LongType check
    throws.
    """
    import pandas as pd

    names = T.StructType.fromDDL(schema).fieldNames()
    data = [tuple(r) for r in rows]
    cols = {
        name: pd.Series([r[i] for r in data], dtype=object)
        for i, name in enumerate(names)
    }
    pdf = pd.DataFrame(cols, columns=names)
    return spark.createDataFrame(pdf, schema)

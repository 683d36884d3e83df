"""Local stand-in for the driver's correctness gate.

Runs every suite query on Spark and its oracle on DuckDB over the same
scale-factor directory, then compares row count, schema width, and an
order-insensitive value hash with columns sorted by name — mirroring the
driver's comparison so mismatches surface before a round ends.

The comparison is deliberately run THROUGH PANDAS with column-wise
``astype(str)`` canonicalization, because that is the observed driver
behavior (CORRECTNESS_r01 evidence):

- DuckDB integer ``sum()`` promotes to HUGEINT → pandas float64 →
  ``"15153.0"``, while Spark's long stays ``"15153"`` (7 round-1 hash
  fails). A fetchall()/collect() comparison of native Python ints would
  NOT see this.
- pandas renders an all-midnight datetime64 column date-only
  (``"2024-03-01"``), which is why DATE-typed outputs (Spark
  ``datetime.date`` objects vs DuckDB ``datetime64`` at midnight) DID
  hash-match in round 1 (``calendar_agg``).
- array-typed cells crash the driver's sort ("unhashable type: list"),
  so they are a hard FAIL here.

Usage: python scripts/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def array_typed_columns(pdf):
    """Column names holding list/ndarray cells — the driver's canonicalizer
    crashes on these (unhashable in sort), so they are a hard FAIL here."""
    import numpy as np

    bad = []
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object and len(col):
            v = col.iloc[0]
            if isinstance(v, (list, tuple, np.ndarray)):
                bad.append(c)
    return bad


def canon_lines(pdf):
    """pandas DataFrame → sorted list of canonical row strings.

    Columns sorted by name, each column stringified column-wise with
    ``astype(str)`` (the driver-faithful step: dtype drift like int64 vs
    float64 or datetime64 vs date shows up — or normalizes away — exactly
    as it does in the driver), rows sorted for order-insensitivity.
    """
    cols = sorted(pdf.columns)
    s = pdf[cols].astype(str)
    return sorted("|".join(t) for t in s.itertuples(index=False, name=None))


def pandas_hash(pdf):
    h = hashlib.sha256()
    for line in canon_lines(pdf):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare_frames(spdf, opdf):
    """Driver-style comparison of a Spark-result and oracle-result pandas
    frame. Returns a list of problem strings (empty = match)."""
    problems = []
    bad_arrays = array_typed_columns(spdf) + array_typed_columns(opdf)
    if bad_arrays:
        problems.append(
            f"array-typed output columns {sorted(set(bad_arrays))} "
            "(driver canonicalizer would crash)"
        )
    if len(spdf) != len(opdf):
        problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
    scols = sorted(c.lower() for c in spdf.columns)
    ocols = sorted(c.lower() for c in opdf.columns)
    if scols != ocols:
        problems.append(f"schema spark={scols} oracle={ocols}")
    if not problems and pandas_hash(spdf) != pandas_hash(opdf):
        problems.append("value-hash mismatch")
        for a, b in zip(canon_lines(spdf), canon_lines(opdf)):
            if a != b:
                problems.append(f"  spark : {a[:200]}")
                problems.append(f"  oracle: {b[:200]}")
                break
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from milvus_cdc_spark import suite
    from milvus_cdc_spark.catalog import TABLES
    from milvus_cdc_spark.session import get_spark

    spark = get_spark("verify_local")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, spec in suite.QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            spdf = sdf.toPandas()
            # drop query-lifetime persists (shingle/posting caches):
            # a 160+-query session would otherwise accumulate them all
            spark.catalog.clearCache()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(
                f"ROWS  {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]"
            )
            n_rows_only += 1
            continue
        try:
            opdf = con.execute(spec.oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare_frames(spdf, opdf)
        if problems:
            print(
                f"FAIL  {name}: " + "; ".join(problems[:1]) + f" [{time.time()-t0:.1f}s]"
            )
            for p in problems[1:]:
                print("      " + p)
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

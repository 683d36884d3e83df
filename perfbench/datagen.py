"""Deterministic input tables for the benchmark.

The engine reads TPC-H-ish parquet tables from a scale-factor directory
(``catalog.load_table``). The benchmark cannot assume any such directory
exists where it runs, so it writes its own: the four tables its workloads
read (``lineitem``, ``orders``, ``documents``, ``embeddings``), with the
schemas and value shapes of the engine's fixture tables.

Table contents depend only on the scale factor (``DATA_SEED`` is fixed),
so every workload seed runs over the same rows and the oracle answers are
comparable across seeds. The workload seed drives what the workloads vary:
file names, arrival order and query order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01


def _rows(sf: float, base: int) -> int:
    return max(1, int(round(base * sf)))


def _dates(rng, n: int, lo_day: int, hi_day: int) -> pa.Array:
    days = rng.integers(lo_day, hi_day, n)
    return pa.array(_EPOCH_1995_US + days * _DAY_US, pa.timestamp("us"))


def lineitem(rng, sf: float) -> pa.Table:
    n = _rows(sf, 6_000_000)
    n_orders, n_parts, n_supp = _rows(sf, 1_500_000), _rows(sf, 200_000), _rows(sf, 10_000)
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = np.round(rng.uniform(18.0, 2_100.0, n), 2)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * unit, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": _dates(rng, n, 1, 2_499),
    })


def orders(rng, sf: float) -> pa.Table:
    n = _rows(sf, 1_500_000)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, _rows(sf, 150_000), n),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n), 2),
        "o_orderdate": _dates(rng, n, 0, 2_404),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        )),
    })


def documents(rng, sf: float) -> pa.Table:
    """Random-word documents; one in twenty copies an earlier document
    with a ``dup`` suffix, so the near-duplicate queries have work."""
    n = max(500, _rows(sf, 50_000))
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, sf: float) -> pa.Table:
    """Unit-norm float32 vectors with a 0..9 label."""
    n = max(500, _rows(sf, 20_000))
    m = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(m.reshape(-1), pa.float32()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


GENERATORS = {
    "lineitem": lineitem,
    "orders": orders,
    "documents": documents,
    "embeddings": embeddings,
}


def write_tables(sf_dir: str, sf: float, names=tuple(GENERATORS)) -> str:
    """Write ``<sf_dir>/<name>.parquet`` for each requested table."""
    os.makedirs(sf_dir, exist_ok=True)
    for name in names:
        rng = np.random.default_rng([DATA_SEED, sorted(GENERATORS).index(name)])
        pq.write_table(GENERATORS[name](rng, sf), os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir


if __name__ == "__main__":
    import sys

    write_tables(sys.argv[1], float(sys.argv[2]), tuple(sys.argv[3:]) or tuple(GENERATORS))

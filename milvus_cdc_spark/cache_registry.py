"""The query-scoped persist ledger.

Several operators persist expensive intermediates (shingle frames, IVF/PQ
build outputs, BM25 postings, range-ranked frames) whose returned
DataFrames the CALLER consumes lazily after the build function returns,
so a build cannot unpersist at exit. Instead it persists through
:func:`cache`, which records the frame in this thread's ledger, and the
registry dispatch (``suite.QuerySpec.fn``) calls :func:`release` before
it builds the next query. A query's frames therefore stay cached until
this thread dispatches another query (or ``spark.catalog.clearCache()``
runs), and a long-lived session holds at most one query's frames.

The ledger is ``threading.local()``: concurrent queries on one
SparkSession run on separate driver threads (the documented Spark pattern
for concurrent job submission), so a dispatch on one thread never drains
another thread's in-flight frames. Frames cached by a thread that never
dispatches again (a short-lived worker thread) stay cached until
``clearCache()`` or session teardown.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCAL = threading.local()


def _ledger() -> list[DataFrame]:
    frames = getattr(_LOCAL, "frames", None)
    if frames is None:
        frames = _LOCAL.frames = []
    return frames


def cache(df: DataFrame) -> DataFrame:
    """Persist ``df``, record it in this thread's ledger and return it."""
    cached = df.persist()
    _ledger().append(cached)
    return cached


def release() -> None:
    """Unpersist every frame this thread recorded, newest first."""
    frames = _ledger()
    while frames:
        frames.pop().unpersist(False)

"""DuckDB oracle gate: the registry oracles over the benchmark's tables,
compared with the canonicalization of ``scripts/verify_local.py``.

Runs outside every timed section.
"""

from __future__ import annotations

import importlib.util
import os
import sys


def _compare_frames(root: str):
    path = os.path.join(root, "scripts", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    module = importlib.util.module_from_spec(spec)
    # verify_local edits sys.path at import; keep the benchmark's own
    saved = list(sys.path)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module.compare_frames


class Oracle:
    def __init__(self, root: str, sf_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        self._answers: dict[str, object] = {}
        self._compare = _compare_frames(root)

    def answer(self, query: str):
        """The oracle result of a registry query (memoized)."""
        if query not in self._answers:
            from milvus_cdc_spark import suite

            self._answers[query] = self.con.execute(suite.QUERIES[query].oracle).df()
        return self._answers[query]

    def problems(self, query: str, result_pdf) -> list[str]:
        """Mismatches between an engine result and the oracle of
        ``query`` (empty list = match)."""
        return self._compare(result_pdf, self.answer(query))

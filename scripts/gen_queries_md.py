"""Regenerate QUERIES.md from the live registry.

Usage: python scripts/gen_queries_md.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADER = """# QUERIES — the oracle-checked suite index

{n} queries; every entry is a `(spark, sf_dir) -> DataFrame`
callable in `__spark_entry__.queries()` paired with a DuckDB oracle in
`oracle_sql()`. Generated by `scripts/gen_queries_md.py`. **Order
matters**: the driver's correctness harness checks the FIRST 50
entries, so the front is the curated `suite.PRIORITY` window. The
cumulative driver ledger has been ever-green since round 2 (the only
red rows ever recorded were 16 round-1 rows, all green since); the
window runs a deterministic FRESHNESS rotation — each round checks the
2 regression anchors plus the 48 rows whose latest driver check is
oldest, by (latest driver round, name) ascending, with a
never-driver-checked query sorting as round 0 so new registrations
lead their first window. The next round's window is always pre-staged
as a comment above PRIORITY in suite.py. Every behind-window query has
a green driver row AND is scripts/verify_local.py-green at sf0.01
(recorded full sweeps).

**Registry discipline (round-5 freeze, amended r11)**: against a
50-slot driver window, additions dilute evidence — the registry grows
only by a handful of reviewed entries per round (r11: 1, r12: 2), each
oracle-verified at two scale factors before registration and placed at
the head of the next rotation window for its first driver check.

| # | query | tags | oracle | summary |
|---|---|---|---|---|
"""


def main() -> None:
    from milvus_cdc_spark import suite

    rows = []
    names = [n for n in suite.PRIORITY if n in suite.QUERIES]
    names += [n for n in suite.QUERIES if n not in set(names)]
    for i, name in enumerate(names, 1):
        spec = suite.QUERIES[name]
        doc = (spec.fn.__doc__ or "").strip().splitlines()
        summary = doc[0].strip() if doc else ""
        if len(summary) > 72:
            summary = summary[:72].rstrip()
        rows.append(
            f"| {i} | `{name}` | {', '.join(spec.tags)} | "
            f"{'yes' if spec.oracle else 'ROWS-ONLY'} | {summary} |"
        )
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write(HEADER.format(n=len(names)))
        f.write("\n".join(rows) + "\n")
    print(f"wrote QUERIES.md with {len(names)} queries")


if __name__ == "__main__":
    main()

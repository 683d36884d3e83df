"""Full-registry plan-gate sweep: every registered query through all
five structural audits (BNLJ build sides, SinglePartition exchanges,
broadcast provenance, forced-broadcast hints, condition-less crosses).

PLANS.md's 104-plan showcase carries full dumped plans for review; this
sweep trades the dumps for COVERAGE — all ~254 queries, gates only. The
round-12 first run caught three data-sized SinglePartition funnels in
the never-dumped half (watermark_ts, error_spike_detection,
histogram_quantile_sketch), each fixed the same day. Writes a summary
to GATES.json and exits 1 on any failing verdict.

Usage: python scripts/gate_sweep.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from milvus_cdc_spark import suite
    from milvus_cdc_spark.plans import audit
    from milvus_cdc_spark.session import get_spark

    spark = get_spark("gate_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    # static plans for stable classification (same choice as dump_plans)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    fails: list[tuple[str, list]] = []
    errs: list[tuple[str, str]] = []
    counts = {"bnlj": 0, "sp": 0, "bex": 0, "hints": 0, "crosses": 0}
    t0 = time.time()
    names = list(suite.QUERIES)
    for i, name in enumerate(names):
        try:
            df = suite.QUERIES[name].fn(spark, sf_dir)
            plan = audit.formatted_plan(df)
            logical = audit.optimized_logical_plan(df)
        except Exception as e:  # a query that cannot even plan is a fail
            errs.append((name, repr(e)[:200]))
            spark.catalog.clearCache()
            continue
        bad: list = []
        b = audit.bnlj_build_audit(plan)
        counts["bnlj"] += len(b)
        bad += [r for r in b if r["verdict"] != "bounded"]
        sp = audit.single_partition_audit(plan)
        counts["sp"] += len(sp)
        bad += [r for r in sp if r["verdict"] != "benign"]
        # fresh + reused-broadcast counted together: Reused-vs-fresh is
        # JVM-nondeterministic (r13: 410 vs 411 on the same tree); only
        # the combined count is reproducible across sweeps
        counts["bex"] += len(
            audit.broadcast_provenance_audit(plan)
        ) + audit.reused_broadcast_count(plan)
        h = audit.broadcast_hint_audit(logical)
        counts["hints"] += len(h)
        bad += [r for r in h if r["verdict"] == "data_sized"]
        cx = audit.cartesian_audit(plan)
        counts["crosses"] += len(cx)
        failing = {"unbounded"} | (
            set() if name in audit.KEYED_CROSS_ALLOWED else {"keyed_multiplied"}
        )
        bad += [r for r in cx if r["verdict"] in failing]
        if bad:
            fails.append((name, bad))
        spark.catalog.clearCache()
        if (i + 1) % 50 == 0:
            print(f"{i + 1}/{len(names)} in {time.time() - t0:.0f}s",
                  file=sys.stderr)
    summary = {
        "n_queries": len(names),
        "n_planned": len(names) - len(errs),
        "node_counts": counts,
        "plan_errors": errs,
        "gate_fails": [
            {"query": n, "records": bad} for n, bad in fails
        ],
    }
    with open(os.path.join(ROOT, "GATES.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True, default=str)
    print(json.dumps({k: v for k, v in summary.items()
                      if k != "gate_fails"}, default=str))
    spark.stop()
    if fails or errs:
        for n, bad in fails:
            print(f"gate fail in {n}: {bad}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()

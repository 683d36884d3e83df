"""Interleaved fresh-JVM A/B bench for the optimization rounds.

The shared VM's weather (stalls, invisible tenant load) makes single
draws useless: this harness interleaves the two arms (B A A B B A A B …)
across fresh JVMs, carries the per-JVM q1 canary of each draw, and
reports per-arm medians — the measurement discipline BENCH_NORMALIZED.md
established for cross-round reads, applied to an in-round A/B.

Usage:
  python scripts/ab_bench.py --names q1,q2,... --arm-a "" \
      --arm-b "spark.sql.codegen.cache.maxEntries=8192" [--reps 3]
      [--sf-dir /root/testdata/sf0.1]

Arms are SPARK_GRAFT_EXTRA_CONF values (semicolon-separated key=value);
an empty string is the current session defaults. Each draw is a fresh
``bench.py --segment ab NAMES`` process (the real bench's warm-up and
cache-clear discipline and its JSON line). This is the A/B for what
``scripts/ab_inproc.py`` cannot swap inside one JVM: static Spark confs
and JVM flags.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def main() -> None:
    args = sys.argv[1:]
    opts: dict[str, str] = {}
    i = 0
    while i < len(args):
        if args[i].startswith("--"):
            opts[args[i][2:]] = args[i + 1] if i + 1 < len(args) else ""
            i += 2
        else:
            i += 1
    names = opts["names"]
    arm_a = opts.get("arm-a", "")
    arm_b = opts.get("arm-b", "")
    reps = int(opts.get("reps", "3"))
    sf_dir = opts.get("sf-dir", "/root/testdata/sf0.1")

    # balanced interleave: B A A B B A A B ... (first-draw JVM effects
    # land on both arms equally)
    order: list[str] = []
    for r in range(reps):
        order += ["b", "a"] if r % 2 == 0 else ["a", "b"]

    results: dict[str, list[dict]] = {"a": [], "b": []}
    for arm in order:
        conf = arm_a if arm == "a" else arm_b
        # entries starting with "spark." are Spark confs (routed through
        # SPARK_GRAFT_EXTRA_CONF); anything else is an env assignment
        spark_pairs, env_pairs = [], {}
        for pair in conf.split(";"):
            pair = pair.strip()
            if not pair:
                continue
            if pair.startswith("spark."):
                spark_pairs.append(pair)
            elif "=" in pair:
                k, _, v = pair.partition("=")
                env_pairs[k.strip()] = v.strip()
        env = {**os.environ, **env_pairs,
               "SPARK_GRAFT_EXTRA_CONF": ";".join(spark_pairs),
               "SPARK_GRAFT_SF_DIR": sf_dir}
        proc = subprocess.run(
            [sys.executable, BENCH, "--segment", "ab", names],
            capture_output=True, text=True, timeout=3600, env=env,
        )
        line = next(
            (ln for ln in reversed(proc.stdout.strip().splitlines())
             if ln.strip().startswith("{")),
            None,
        )
        if line is None:
            print(f"arm {arm} draw failed: {proc.stderr[-500:]}", file=sys.stderr)
            continue
        d = json.loads(line)
        results[arm].append(d)
        print(f"arm={arm} value={d['value']} canary={d['canary_sec']}")

    summary: dict[str, dict] = {}
    for arm, rows in results.items():
        if not rows:
            continue
        vals = [r["value"] for r in rows]
        cans = [r["canary_sec"] for r in rows if r["canary_sec"]]
        per_q: dict[str, float] = {}
        for name in rows[0]["queries"]:
            per_q[name] = round(
                statistics.median(r["queries"].get(name, float("nan")) for r in rows), 3
            )
        summary[arm] = {
            "median_total": round(statistics.median(vals), 3),
            "totals": vals,
            "median_canary": round(statistics.median(cans), 3) if cans else None,
            "median_queries": per_q,
        }
    print(json.dumps(summary, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()

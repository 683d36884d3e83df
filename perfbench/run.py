"""Benchmark entry point: runs one workload in this process.

    python3 perfbench/run.py --workload cdc_bulk_drain --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. A traced run also writes its spans to
``.perfbench_traces/``. ``--smoke`` runs every workload at a tiny scale,
traced and untraced, and checks that every metric is printed with its unit
and that no operation failed.

Everything the run writes goes under ``.perfbench_work/`` in the checkout,
which is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Scale factor of the generated tables per workload.
SCALES = {"cdc_bulk_drain": 0.05, "cdc_trickle": 0.01, "analytics_mix": 0.01}
TINY_SCALE = 0.001
#: Stagings per set-up; ``setup_s`` counts their median.
STAGE_REPS = 3


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pin_environment(work: str) -> dict:
    """Session settings fitted to the machine, and every scratch path
    under the run's work dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_mb = max(1024, min(2048, mem_kb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        ]),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus its JVM."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            return int(next(line for line in f if line.startswith("VmHWM")).split()[1])

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024


def steal_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the host's vCPUs so far, from /proc/stat:
    the time the hypervisor ran something else while this machine's
    CPUs had work."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def layer_metrics(names, workload, res, tracer, extra) -> dict:
    """Per-layer metrics of a traced run, per timed operation; 0 for a
    layer the workload does not exercise."""
    from tracing import CATALYST_PHASES, SPARK_COUNTERS

    out = dict.fromkeys(names, 0.0)
    out.update(extra)
    out.update(res.layers)
    timed = workload.timed_spans()
    n = max(1, res.n_ops)
    total = lambda k: sum(s.counters.get(k, 0) for s in timed)  # noqa: E731
    for c in SPARK_COUNTERS:
        out[c] = total(c) / n
    for p in CATALYST_PHASES:
        out[f"catalyst.{p}_s"] = total(f"catalyst.{p}_s") / n
    run_s = total("spark.executor_run_s")
    out["spark.cpu_share"] = total("spark.executor_cpu_s") / run_s if run_s else 0.0
    out["wall.latency_s"] = res.latency_s
    out["wall.ops_per_s"] = res.ops_per_s
    unknown = sorted(set(out) - set(names))
    if unknown:
        print("layer counters not in BENCHMARK.json:", unknown, file=sys.stderr)
    return {k: out[k] for k in names}


def run_workload(args, spec: dict) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "milvus_cdc_spark")):
        raise SystemExit(f"engine package milvus_cdc_spark not found under {ROOT}")
    from workloads import WORKLOADS, cpu_s, median

    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        env = pin_environment(work)
        sf = TINY_SCALE if args.tiny else SCALES[args.workload]
        sf_dir = os.path.join(work, "tables")
        # generated in a child process: the driver's peak RSS stays the engine's
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), sf_dir, str(sf), *cls.tables],
            check=True,
        )

        t_setup = time.perf_counter()
        sys.path.insert(0, ROOT)
        from milvus_cdc_spark.session import get_spark
        from tracing import Tracer

        tracer = Tracer(bool(args.trace), f"{args.workload}-seed{args.seed}-{os.getpid()}")
        workload = cls(args.seed, args.seconds, work, sf_dir, tracer)
        with tracer.span("session.start"):
            spark = get_spark(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            tracer.spark = spark
        session_s = time.perf_counter() - t_setup
        stage_s = []
        for _ in range(STAGE_REPS):
            t = time.perf_counter()
            with tracer.span("oplog.stage"):
                workload.stage(spark)
            stage_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("warm_up"):
            workload.warm_up(spark)
        setup_s = session_s + median(stage_s) + time.perf_counter() - t

        steal0, all0 = steal_jiffies()
        py0, cpu0 = time.process_time(), cpu_s(spark)
        wall0, hook0 = time.perf_counter(), tracer.overhead_s
        res = workload.run(spark)
        timed_s = time.perf_counter() - wall0
        py_s, timed_cpu_s = time.process_time() - py0, cpu_s(spark) - cpu0
        steal1, all1 = steal_jiffies()
        hook_s = tracer.overhead_s - hook0
        rss = peak_rss_mb(spark)

        from oracle import Oracle

        checked, mismatched = workload.check(Oracle(ROOT, sf_dir, cls.tables))
        res.failed += mismatched
        correct = res.failed == 0 and checked > 0

        n = max(1, res.n_ops)
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            values = layer_metrics(names, workload, res, tracer, {
                "driver.peak_rss_mb": rss,
                "session.start_s": session_s,
                "oplog.stage_s": median(stage_s),
                "driver.py_cpu_s": py_s / n,
                "trace.overhead_s": hook_s / n,
                "trace.overhead_share": hook_s / timed_s,
                "traced.op_cpu_s": res.op_cpu_s,
                "traced.ops_per_cpu_s": res.work / timed_cpu_s,
            })
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
            path = os.path.join(ROOT, ".perfbench_traces", f"{tracer.run_id}.jsonl")
            tracer.write(path)
            self_s = sorted(tracer.self_times().items(), key=lambda kv: -kv[1])
            print("self time by span:", ", ".join(f"{k}={v:.3f}s" for k, v in self_s[:12]),
                  file=sys.stderr)
            print(f"spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
            print("catalyst.planning_s reads near zero: with AQE on, stages are planned "
                  "during execution", file=sys.stderr)
        else:
            values = {
                "setup_s": setup_s,
                "op_cpu_s": res.op_cpu_s,
                "ops_per_cpu_s": res.work / timed_cpu_s,
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        notes = dict(res.notes, latency_s=round(res.latency_s, 4),
                     ops_per_s=round(res.ops_per_s, 4),
                     peak_rss_mb=round(rss, 1), session_s=round(session_s, 3),
                     stage_s=[round(s, 3) for s in stage_s], timed_s=round(timed_s, 3),
                     timed_cpu_s=round(timed_cpu_s, 2),
                     steal_share=round((steal1 - steal0) / max(1, all1 - all0), 4),
                     scale_factor=sf, env={k: env[k] for k in (
                         "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")})
        print("notes", json.dumps(notes), flush=True)
        return {
            "correct": correct,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def smoke(spec: dict) -> int:
    """Every workload at a tiny scale, traced and untraced: every metric
    printed with its unit, no failed operation."""
    bad = 0
    from workloads import WORKLOADS

    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", "1", "--seconds", "2", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                ok = (proc.returncode == 0 and got == want and out["failed"] == 0
                      and out["correct"] and out["attempted"] >= 1)
            except (IndexError, ValueError, KeyError):
                ok = False
            print(f"{'ok  ' if ok else 'FAIL'} {name} trace={trace}", flush=True)
            bad += not ok
    return 1 if bad else 0


def main() -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from workloads import WORKLOADS

    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="scale factor 0.001 (smoke runs)")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke(spec)
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not args.workload:
        ap.error("--workload is required")
    out = run_workload(args, spec)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

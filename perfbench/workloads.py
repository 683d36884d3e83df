"""The three benchmark workloads.

Each drives the engine only through its public entry points
(``CdcApplyPipeline``, ``TaskRegistry``, ``suite.QUERIES[...].fn``) and
keeps the engine's outputs for the oracle gate, which runs after the timed
section. A workload has four steps:

- ``stage``: make engine-ready inputs in a fresh directory; repeatable,
  it is part of set-up;
- ``warm_up``: one untimed operation, so the timed ones start warm;
- ``run``: the timed section, sized by ``seconds``;
- ``check``: compare the kept outputs with the oracle.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import threading
import time

import numpy as np

perf = time.perf_counter

#: Queries of ``analytics_mix``: execution-heavy scans/aggregates and
#: top-k beside a construction-heavy iterative build (Lloyd k-means) whose
#: ``spec.fn`` fires eager jobs. ``cosine_topk`` and
#: ``pagerank_trade_graph`` are left out to keep a run within its time
#: budget: ``bm25_topk`` already runs the top-k path, and the Lloyd loop is
#: the construction layer ROADMAP direction 2 targets.
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "cdc_replay_summary",
    "bm25_topk",
    "kmeans_silhouette",
)
#: Seconds of ``--seconds`` per timed ``analytics_mix`` pass. The pass
#: count follows from ``--seconds`` alone, not from how fast the host runs,
#: so every run takes the same number of samples of each query (two at the
#: benchmark's 12 s).
ANALYTICS_PASS_S = 6.0

#: ``cdc_trickle`` arrival rate (files per second) and trigger interval
#: (seconds): the task runs start() + position() at each tick that has new
#: files, like a processing-time trigger. Ticks fall half an arrival gap
#: between landings, so the wait for a tick is fixed by the schedule and
#: the run-to-run spread of freshness is the spread of the engine's work.
#: On 4 cores a warm start() of 4 small files (one microbatch; every batch
#: rewrites all 16 state buckets) took ~1.5-2 s: a tick's work fills about
#: half of it, and a 2x slowdown still fits before ticks overrun (an
#: overrunning tick starts the next one at once).
TRICKLE_RATE = 1.0
TRICKLE_TICK = 4.0
#: Ticks between alive-summary reads, which run beside the writes.
TRICKLE_READ_EVERY = 2
#: Files applied one per untimed start() before the schedule begins: after
#: two warm-up starts the timed starts still used 5-11 CPU seconds each
#: (JIT), after four a steady 5-6.
TRICKLE_WARM_FILES = 4


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_s(spark) -> float:
    """CPU seconds used so far by this Python driver plus its JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return time.process_time() + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tail(xs) -> tuple[int, float]:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it
    (nearest rank); (0, max) when there are too few samples."""
    s = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        if len(s) * (100 - p) / 100 >= 10:
            return p, s[max(0, math.ceil(len(s) * p / 100) - 1)]
    return 0, s[-1] if s else 0.0


class Result:
    """What a timed section produced: its wall-time and CPU figures, the
    operation counts, and per-operation layer counters (traced run)."""

    def __init__(self):
        self.latency_s = 0.0
        self.ops_per_s = 0.0
        self.op_cpu_s = 0.0
        self.work = 0  # units ``ops_per_cpu_s`` counts: CDC ops, or queries
        self.n_ops = 0
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.notes: dict[str, object] = {}


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, seed: int, seconds: float, run_dir: str, sf_dir: str, tracer):
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.tracer = tracer
        self._staged = 0
        self.mark = 0

    def stage(self, spark) -> None:
        pass

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark) -> Result:
        """The timed section, sized by ``seconds``."""
        raise NotImplementedError

    def check(self, oracle) -> tuple[int, int]:
        """(comparisons, mismatches) against the oracle."""
        raise NotImplementedError

    def _median_s(self, name: str) -> float:
        return median([s.duration for s in self.timed_spans(name)])

    def timed_spans(self, name: str | None = None) -> list:
        """Spans recorded since ``run`` began, optionally of one name."""
        spans = self.tracer.spans[self.mark:]
        return [s for s in spans if name is None or s.name == name]


# ---------------------------------------------------------------------------
# CDC helpers
# ---------------------------------------------------------------------------


def stage_oplog(spark, sf_dir: str, out_dir: str, n_files: int, rng) -> list[str]:
    """Write the op-log derived from ``lineitem`` as ``n_files`` parquet
    files named in a seed-permuted order (their modification times follow
    the names, so the file source reads them in that order). Returns the
    names in that order."""
    from milvus_cdc_spark import suite

    tmp = out_dir + ".tmp"
    suite._write_oplog_files(spark, sf_dir, tmp, n_files)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
    os.makedirs(out_dir)
    names = [f"ops-{k:04d}.parquet" for k in rng.permutation(len(parts))]
    base = time.time() - len(parts)
    for part, name in zip(parts, names):
        path = os.path.join(out_dir, name)
        os.rename(part, path)
    for rank, name in enumerate(sorted(names)):
        path = os.path.join(out_dir, name)
        os.utime(path, (base + rank, base + rank))
    shutil.rmtree(tmp)
    return sorted(names)


def alive_summary(pipe):
    from pyspark.sql import functions as F

    return (
        pipe.alive()
        .groupBy("collection")
        .agg(F.count("*").alias("alive_pks"), F.sum("n_inserts").alias("total_inserts"))
        .orderBy("collection")
    )


def _files(root: str, pattern: str = "*.parquet") -> list[str]:
    return glob.glob(os.path.join(root, "**", pattern), recursive=True)


def drain_counters(pipe, first_batch: int, wall: float) -> dict:
    """Layer counters of the batches one drain applied, read from
    ``phase_timings``, ``last_observed`` and the state dirs on disk.
    ``positions_write`` in phase_timings is only the join on the
    overlapped positions thread, so it is reported as a wait."""
    timings = [t for t in pipe.phase_timings if t["batch_id"] >= first_batch]
    phases = {
        "control_collect": "pipeline.control_collect_s",
        "state_merge_write": "pipeline.state_merge_write_s",
        "positions_write": "pipeline.positions_wait_s",
        "commit_gc": "pipeline.commit_gc_s",
    }
    out = {name: sum(t[k] for t in timings) for k, name in phases.items()}
    body = sum(out.values())
    touched = written = 0
    for t in timings:
        vdir = os.path.join(pipe.state_dir, f"v{t['batch_id']}")
        touched += len(glob.glob(os.path.join(vdir, "bucket=*")))
        written += sum(os.path.getsize(f) for f in _files(vdir))
    out.update({
        "pipeline.machinery_s": wall - body,
        "pipeline.batches": len(timings),
        "pipeline.ops": sum(o.get("ops", 0) for o in getattr(pipe, "last_observed", [])),
        "pipeline.touched_buckets": touched,
        "pipeline.state_bytes_written": written,
        "pipeline.state_files": len(_files(pipe.state_dir)),
        "pipeline.positions_files": len(_files(pipe.positions_dir)),
    })
    return out


def committed_files(pipe) -> set[str]:
    """Names of the source files the pipeline's streaming query has
    committed, from the file-source log in its checkpoint (``sources/0``:
    one file per batch, folded into ``<n>.compact`` every few batches)."""
    names = set()
    for path in glob.glob(os.path.join(pipe.checkpoint_dir, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


def _per_batch(spans) -> dict:
    """Pipeline layer metrics over drain spans (one drain = one
    ``run_available_now``)."""
    if not spans:
        return {}
    c = lambda k: sum(s.counters.get(k, 0) for s in spans)  # noqa: E731
    batches = max(1, c("pipeline.batches"))
    out = {
        k: c(k) / batches
        for k in (
            "pipeline.control_collect_s", "pipeline.state_merge_write_s",
            "pipeline.positions_wait_s", "pipeline.commit_gc_s",
        )
    }
    out.update({
        "pipeline.machinery_s": median([s.counters["pipeline.machinery_s"] for s in spans]),
        "pipeline.batches": c("pipeline.batches") / len(spans),
        "pipeline.ops_per_batch": c("pipeline.ops") / batches,
        "pipeline.touched_buckets_per_batch": c("pipeline.touched_buckets") / batches,
        "pipeline.state_bytes_written_per_op": (
            c("pipeline.state_bytes_written") / max(1, c("pipeline.ops"))
        ),
        "pipeline.state_files": spans[-1].counters["pipeline.state_files"],
        "pipeline.positions_files": spans[-1].counters["pipeline.positions_files"],
    })
    return out


class CdcBulkDrain(Workload):
    """Closed loop, one caller: drain the whole staged op-log into a fresh
    work dir, then read the alive summary and the positions."""

    name = "cdc_bulk_drain"
    tables = ("lineitem",)
    n_files = 8

    def stage(self, spark) -> None:
        self.src = os.path.join(self.run_dir, f"oplog{self._staged}")
        self._staged += 1
        stage_oplog(spark, self.sf_dir, self.src, self.n_files, self.rng)

    def _drain(self, spark, k: int):
        from milvus_cdc_spark.streaming.pipeline import CdcApplyPipeline

        tr = self.tracer
        work = os.path.join(self.run_dir, f"drain{k}")
        pipe = CdcApplyPipeline(spark, self.src, work)
        with tr.span("pipeline.drain", spark=True) as sp:
            t = perf()
            pipe.run_available_now()
            wall = perf() - t
        if tr.enabled:
            h = perf()
            sp.set(**drain_counters(pipe, 0, wall))
            tr.overhead_s += perf() - h
        with tr.span("pipeline.alive_read", spark=True) as sp:
            df = alive_summary(pipe)
            summary = df.toPandas()
            tr.catalyst(sp, df)
        with tr.span("pipeline.positions_read", spark=True) as sp:
            df = pipe.positions().orderBy("vchannel")
            positions = df.toPandas()
            tr.catalyst(sp, df)
        shutil.rmtree(work)
        return wall, summary, positions

    def warm_up(self, spark) -> None:
        self._drain(spark, -1)

    def run(self, spark) -> Result:
        import pyarrow.parquet as pq

        res = Result()
        n_ops = sum(
            pq.ParquetFile(f).metadata.num_rows for f in _files(self.src)
        )
        self.outputs = []
        walls, cpus = [], []
        self.mark = len(self.tracer.spans)
        end = perf() + self.seconds
        while not walls or perf() < end:
            res.attempted += 1
            with self.tracer.span("bulk.op"):
                try:
                    c = cpu_s(spark)
                    wall, summary, positions = self._drain(spark, len(walls))
                    cpus.append(cpu_s(spark) - c)
                except Exception as e:  # counted, reported, not retried
                    print(f"drain failed: {e}", flush=True)
                    res.failed += 1
                    break
            walls.append(wall)
            self.outputs.append((summary, positions))
        res.n_ops = len(walls)
        res.latency_s = median(walls)
        res.ops_per_s = n_ops / res.latency_s if walls else 0.0
        res.op_cpu_s = median(cpus)
        res.work = n_ops * len(walls)
        res.notes = {"ops_per_drain": n_ops, "drain_s": [round(w, 3) for w in walls]}
        if self.tracer.enabled:
            res.layers = _per_batch(self.timed_spans("pipeline.drain"))
            res.layers["pipeline.alive_read_s"] = self._median_s("pipeline.alive_read")
            res.layers["pipeline.positions_read_s"] = self._median_s("pipeline.positions_read")
        return res

    def check(self, oracle) -> tuple[int, int]:
        bad = 0
        for summary, positions in self.outputs:
            problems = oracle.problems("streaming_cdc_apply", summary)
            problems += oracle.problems("streaming_positions", positions)
            if problems:
                print("bulk drain mismatch:", "; ".join(problems[:3]), flush=True)
                bad += 1
        return len(self.outputs), bad


class _Lander(threading.Thread):
    """Open-loop generator: lands staged files into the source dir on a
    fixed schedule, each as a dot-named copy renamed into place (the file
    source skips dot-files, so a drain never lists a half-written one)."""

    def __init__(self, names, stage_dir, src_dir, rate, t0):
        super().__init__(daemon=True)
        self.names, self.stage_dir, self.src_dir = names, stage_dir, src_dir
        self.rate, self.t0 = rate, t0
        self.due = [t0 + i / rate for i in range(len(names))]
        self.landed: list[float] = []
        self.stop = threading.Event()

    def run(self) -> None:
        for name, due in zip(self.names, self.due):
            if self.stop.wait(max(0.0, due - perf())):
                return
            tmp = os.path.join(self.src_dir, "." + name)
            shutil.copyfile(os.path.join(self.stage_dir, name), tmp)
            os.rename(tmp, os.path.join(self.src_dir, name))
            self.landed.append(perf())


class CdcTrickle(Workload):
    """Open loop at a fixed arrival rate: small op-log files land in
    seed-permuted order while one ``TaskRegistry`` task applies them on a
    fixed trigger interval."""

    name = "cdc_trickle"
    tables = ("lineitem",)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_files = TRICKLE_WARM_FILES + max(2, round(TRICKLE_RATE * self.seconds))

    def stage(self, spark) -> None:
        self.stage_dir = os.path.join(self.run_dir, f"slices{self._staged}")
        self._staged += 1
        names = stage_oplog(spark, self.sf_dir, self.stage_dir, self.n_files, self.rng)
        # arrival order is a second, independent permutation
        self.arrivals = [names[i] for i in self.rng.permutation(len(names))]

    def _read(self, pipe, res):
        tr = self.tracer
        with tr.span("pipeline.alive_read", spark=True) as sp:
            df = alive_summary(pipe)
            df.collect()
            tr.catalyst(sp, df)
        res.attempted += 1

    def warm_up(self, spark) -> None:
        from milvus_cdc_spark.control.tasks import TaskRegistry

        self.src = os.path.join(self.run_dir, "source")
        os.makedirs(self.src)
        self.registry = TaskRegistry(spark, os.path.join(self.run_dir, "tasks"))
        self.task = self.registry.create(self.src).task_id
        for name in self.arrivals[:TRICKLE_WARM_FILES]:
            _Lander([name], self.stage_dir, self.src, TRICKLE_RATE, perf()).run()
            self.registry.start(self.task)
            self.registry.position(self.task)
            self._read(self.registry.pipelines[self.task], Result())

    def run(self, spark) -> Result:
        import pyarrow.parquet as pq

        tr, res = self.tracer, Result()
        pipe = self.registry.pipelines[self.task]
        timed = self.arrivals[TRICKLE_WARM_FILES:]
        rows = {n: pq.ParquetFile(os.path.join(self.stage_dir, n)).metadata.num_rows
                for n in timed}
        res.attempted += 2  # the final alive summary and positions, checked later
        t0 = perf()
        lander = _Lander(timed, self.stage_dir, self.src, TRICKLE_RATE, t0 + 0.5 / TRICKLE_RATE)
        starts: list[tuple[float, float, int]] = []  # begin, end, ops committed
        # file -> return of the start() that committed it. A start() lists
        # the source only once its query runs, so it may also take a file
        # that landed after its tick: the checkpoint says which it took.
        applied: dict[str, float] = {}
        start_cpu: list[float] = []
        known = committed_files(pipe)
        ticks = 0
        deadline = t0 + self.seconds + 120.0
        self.mark = len(tr.spans)
        lander.start()
        try:
            while len(applied) < len(timed) and perf() < deadline:
                ticks += 1
                time.sleep(max(0.0, t0 + ticks * TRICKLE_TICK - perf()))
                if len(lander.landed) == len(applied):
                    continue
                res.attempted += 2
                first_batch = pipe.last_batch_id + 1
                with tr.span("control.start", spark=True) as sp:
                    c, begin = cpu_s(spark), perf()
                    self.registry.start(self.task)
                    end = perf()
                    start_cpu.append(cpu_s(spark) - c)
                if tr.enabled:
                    h = perf()
                    sp.set(**drain_counters(pipe, first_batch, end - begin))
                    tr.overhead_s += perf() - h
                new = committed_files(pipe) - known
                known |= new
                applied.update(dict.fromkeys(new & rows.keys(), end))
                starts.append((begin, end, sum(rows.get(n, 0) for n in new)))
                with tr.span("control.position"):
                    self.registry.position(self.task)
                if len(starts) % TRICKLE_READ_EVERY == 0:
                    self._read(pipe, res)
        except Exception as e:  # counted, reported, not retried
            print(f"trickle failed: {e}", flush=True)
            res.failed += 1
        finally:
            lander.stop.set()
            lander.join()
        fresh = [applied[n] - due for n, due in zip(timed, lander.due) if n in applied]
        if len(fresh) < len(timed) and not res.failed:
            res.failed += 1  # a landed file was never applied
        p_tail, v_tail = tail(fresh)
        lateness = max((a - d for a, d in zip(lander.landed, lander.due)), default=0.0)
        res.n_ops = len(starts)
        res.latency_s = median(fresh)
        busy = sum(e - b for b, e, _ in starts)
        res.work = sum(ops for *_, ops in starts)
        res.ops_per_s = res.work / busy if busy else 0.0
        res.op_cpu_s = median(start_cpu)
        res.notes = {
            "rate_files_per_s": TRICKLE_RATE,
            "tick_s": TRICKLE_TICK,
            "files": len(timed),
            "freshness_samples": len(fresh),
            f"freshness_s_p{p_tail}": round(v_tail, 4),
            "generator_lateness_max_s": round(lateness, 4),
            "start_s": [round(e - b, 3) for b, e, _ in starts],
            "start_cpu_s": [round(c, 3) for c in start_cpu],
        }
        if tr.enabled:
            res.layers = _per_batch(self.timed_spans("control.start"))
            res.layers.update({
                "pipeline.alive_read_s": self._median_s("pipeline.alive_read"),
                "control.start_s": self._median_s("control.start"),
                "control.position_s": self._median_s("control.position"),
                # position() is a positions() read on live state and a collect
                "pipeline.positions_read_s": self._median_s("control.position"),
                "control.drains": len(timed) / max(1, len(starts)),
                "freshness.tail_s": v_tail,
                "freshness.tail_pct": p_tail,
                "freshness.samples": len(fresh),
                "generator.lateness_max_s": lateness,
            })
        return res

    def check(self, oracle) -> tuple[int, int]:
        pipe = self.registry.pipelines[self.task]
        summary = alive_summary(pipe).toPandas()
        positions = pipe.positions().orderBy("vchannel").toPandas()
        bad = 0
        for query, pdf in (("streaming_cdc_apply", summary), ("streaming_positions", positions)):
            problems = oracle.problems(query, pdf)
            if problems:
                print(f"trickle {query} mismatch:", "; ".join(problems[:3]), flush=True)
                bad += 1
        return 2, bad


class AnalyticsMix(Workload):
    """Closed loop, one client: passes over ``ANALYTICS_QUERIES`` in a
    seed-permuted order per pass; each query is ``spec.fn`` (construction)
    then ``toPandas`` (execution and fetch)."""

    name = "analytics_mix"
    tables = ("lineitem", "orders", "documents", "embeddings")

    def _pass(self, spark, res: Result, samples: dict, keep: dict) -> float:
        """One pass; appends each query's latency and its construct and
        execute parts to ``samples``, keeps each query's first result."""
        from milvus_cdc_spark import suite

        tr = self.tracer
        order = [ANALYTICS_QUERIES[i] for i in self.rng.permutation(len(ANALYTICS_QUERIES))]
        t0 = perf()
        with tr.span("suite.pass"):
            for q in order:
                res.attempted += 1
                try:
                    with tr.span(f"suite.{q}.construct", spark=True):
                        c, t = cpu_s(spark), perf()
                        df = suite.QUERIES[q].fn(spark, self.sf_dir)
                        built = perf()
                    with tr.span(f"suite.{q}.execute", spark=True) as sp:
                        pdf = df.toPandas()
                        done = perf()
                        used = cpu_s(spark) - c
                        tr.catalyst(sp, df)
                except Exception as e:  # counted, reported, not retried
                    print(f"{q} failed: {e}", flush=True)
                    res.failed += 1
                    continue
                finally:
                    spark.catalog.clearCache()
                keep.setdefault(q, pdf)
                for key, value in ((q, done - t), (f"cpu.{q}", used),
                                   (f"suite.{q}.construct_s", built - t),
                                   (f"suite.{q}.execute_s", done - built)):
                    samples.setdefault(key, []).append(value)
        return perf() - t0

    def warm_up(self, spark) -> None:
        self._pass(spark, Result(), {}, {})

    def run(self, spark) -> Result:
        res = Result()
        samples: dict[str, list[float]] = {}
        self.outputs: dict[str, object] = {}
        self.mark = len(self.tracer.spans)
        n_passes = max(1, round(self.seconds / ANALYTICS_PASS_S))
        passes = [self._pass(spark, res, samples, self.outputs) for _ in range(n_passes)]
        res.n_ops = len(passes)
        times = {q: samples[q] for q in ANALYTICS_QUERIES if q in samples}
        medians = [median(v) for v in times.values()]
        res.latency_s = math.exp(sum(map(math.log, medians)) / len(medians)) if medians else 0.0
        # queries per second of a pass made of the per-query medians
        res.ops_per_s = len(medians) / sum(medians) if medians else 0.0
        cpu = [median(samples[f"cpu.{q}"]) for q in times]
        res.op_cpu_s = math.exp(sum(map(math.log, cpu)) / len(cpu)) if cpu else 0.0
        res.work = sum(len(v) for v in times.values())
        res.notes = {
            "passes": len(passes),
            "pass_s": [round(p, 3) for p in passes],
            "query_s": {q: round(median(v), 3) for q, v in sorted(times.items())},
            "query_cpu_s": {q: round(median(samples[f"cpu.{q}"]), 3) for q in sorted(times)},
        }
        if self.tracer.enabled:
            for s in self.timed_spans():
                if s.name.endswith(".construct"):
                    samples.setdefault(f"{s.name}_stages", []).append(s.counters["spark.stages"])
            res.layers = {k: median(v) for k, v in samples.items() if k.startswith("suite.")}
        return res

    def check(self, oracle) -> tuple[int, int]:
        bad = 0
        for q in ANALYTICS_QUERIES:
            if q not in self.outputs:
                continue
            problems = oracle.problems(q, self.outputs[q])
            if problems:
                print(f"{q} mismatch:", "; ".join(problems[:3]), flush=True)
                bad += 1
        return len(self.outputs), bad


WORKLOADS = {w.name: w for w in (CdcBulkDrain, CdcTrickle, AnalyticsMix)}

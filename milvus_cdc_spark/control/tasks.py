"""Task control plane (SURVEY §2.11).

Reference surface: POST /cdc with request_type ∈ {create, delete, pause,
resume, get, position, list, maintenance} (server/model/request/base.go:
26-35, server/handle_map.go), task state machine Initial→Running→Paused
(server/model/meta/task.go:29-42), duplicate-collection guard across tasks
(server/cdc_impl.go:328-406), max task count (cdc_impl.go:461-463), reload
on boot (cdc_impl.go:183-216).

Spark shape: a task-registry table + a wrapper around per-task
CdcApplyPipeline instances. The registry is a plain dict persisted as JSON
(driver-side control metadata — inherently small; the reference likewise
keeps it in etcd/MySQL, not the dataflow). The HTTP façade is a thin
json-over-stdlib layer (``serve()``) so no web framework is needed.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession

from milvus_cdc_spark.control.quarantine import ErrorQuarantine
from milvus_cdc_spark.operators import filters
from milvus_cdc_spark.streaming.pipeline import (
    CdcApplyPipeline, batch_records, committed_manifest, committed_positions,
)

STATE_INITIAL = "initial"
STATE_RUNNING = "running"
STATE_PAUSED = "paused"

DEFAULT_MAX_TASKS = 100  # reference maxTaskNum, server/configs/cdc.yaml:2


#: Credential keys scrubbed from get/list responses
#: (server/model/request/base.go:59-74 masks password/token on read).
_SECRET_KEYS = ("password", "token", "secret")


@dataclass
class TaskSpec:
    task_id: str
    source_dir: str
    work_dir: str
    collections: list[str] = field(default_factory=lambda: ["*"])
    exclude: list[str] = field(default_factory=list)
    state: str = STATE_INITIAL
    reason: str = ""
    # connection parameters for remote sources/sinks (kafka bootstrap,
    # auth, ...); persisted verbatim, scrubbed on read-out
    connect_params: dict = field(default_factory=dict)
    # per-database collection scoping (TaskInfo.DBCollections,
    # server/model/meta/task.go:67): {db: [collection, ...]}, '*' allowed
    # on either level
    db_collections: dict = field(default_factory=dict)
    # NameMapping entries (server/model/common.go:83-87): each
    # {"source_db", "target_db", "collections": {src: dst}}; empty
    # collections dict = db-level wildcard mapping
    name_mapping: list = field(default_factory=list)
    # UseStartPosition seek points (CollectionInfo.Positions,
    # common.go:63-67): {collection: {vchannel: last_consumed_ts}}
    start_positions: dict = field(default_factory=dict)

    def full_names(self) -> list[str]:
        """Every captured name in full ``db.collection`` form
        (GetCollectionNamesFromTaskInfo, cdc_impl.go:260-275)."""
        names = [filters.full_name(n) for n in self.collections]
        for db, colls in (self.db_collections or {}).items():
            names += [filters.full_name(c, db) for c in colls]
        return names


def _scrub(spec_dict: dict) -> dict:
    params = dict(spec_dict.get("connect_params") or {})
    for k in list(params):
        if any(s in k.lower() for s in _SECRET_KEYS):
            params[k] = "******"
    spec_dict["connect_params"] = params
    return spec_dict


class DuplicateCollectionError(ValueError):
    pass


class TaskRegistry:
    """CRUD + state machine over persisted task specs."""

    def __init__(self, spark: SparkSession, root_dir: str,
                 max_tasks: int = DEFAULT_MAX_TASKS):
        self.spark = spark
        self.root_dir = root_dir
        self.max_tasks = max_tasks
        self.meta_path = os.path.join(root_dir, "tasks.json")
        self.tasks: dict[str, TaskSpec] = {}
        self.pipelines: dict[str, CdcApplyPipeline] = {}
        self.quarantines: dict[str, ErrorQuarantine] = {}
        # tasks start concurrently, one thread each, and every start ends
        # in _persist: its fixed temp name must have one writer at a time
        self._persist_lock = threading.Lock()
        os.makedirs(root_dir, exist_ok=True)
        self._reload()

    # -- persistence (reference: etcd/MySQL meta store) -------------------
    def _persist(self) -> None:
        """Write-then-rename, like the state manifest's commit: a failure
        mid-write leaves the previous ``tasks.json`` whole."""
        tmp = self.meta_path + ".tmp"
        with self._persist_lock:
            with open(tmp, "w") as f:
                json.dump(
                    {tid: asdict(t) for tid, t in self.tasks.items()}, f, indent=2
                )
            os.replace(tmp, self.meta_path)

    def _reload(self) -> None:
        """ReloadTask semantics (cdc_impl.go:183-216): tasks survive restart;
        running tasks resume from their checkpoints when started again."""
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                for tid, d in json.load(f).items():
                    self.tasks[tid] = TaskSpec(**d)

    # -- request handlers -------------------------------------------------
    def create(self, source_dir: str, collections: list[str] | None = None,
               exclude: list[str] | None = None,
               connect_params: dict | None = None,
               db_collections: dict[str, list[str]] | None = None,
               name_mapping: list[dict] | None = None,
               start_positions: dict[str, dict[str, int]] | None = None) -> TaskSpec:
        if len(self.tasks) >= self.max_tasks:
            raise ValueError(f"max task number {self.max_tasks} reached")
        if not collections and not db_collections:
            collections = ["*"]
        spec = TaskSpec(
            task_id=uuid.uuid4().hex[:12],
            source_dir=source_dir,
            work_dir="",
            collections=collections or [],
            exclude=[filters.full_name(n) for n in (exclude or [])],
            connect_params=connect_params or {},
            db_collections=db_collections or {},
            name_mapping=name_mapping or [],
            start_positions=start_positions or {},
        )
        spec.work_dir = os.path.join(self.root_dir, spec.task_id)
        # auto-exclusions: existing explicit names a new wildcard swallows
        # are carved OUT of this task (cdc_impl.go:385-393 appends them to
        # excludeData and stores them as the task's ExcludeCollections)
        spec.exclude += self._check_duplicate(spec.full_names())
        self.tasks[spec.task_id] = spec
        self._persist()
        return spec

    def _check_duplicate(self, new_names: list[str]) -> list[str]:
        """Duplicate-collection guard (cdc_impl.go:328-406) over full
        ``db.collection`` names: an exact re-capture always raises; a
        wildcard overlap raises ONLY when the overlapping name is not in
        the accumulated exclusion set (the reference allows a ``*`` task
        alongside an explicit task by excluding the explicit names from
        the wildcard, cdc_impl.go:352 consults excludeData). A new ``*.*``
        task skips the wildcard test entirely (cdc_impl.go:347-349).
        Returns the auto-exclusion list for the new task: every existing
        name one of the new (wildcard) names matches."""
        existing = [n for t in self.tasks.values() for n in t.full_names()]
        excluded = {n for t in self.tasks.values() for n in t.exclude}
        for new in new_names:
            if new in existing:
                raise DuplicateCollectionError(
                    f"collection {new} already captured by another task"
                )
            if filters.split_full_name(new) == (filters.ALL, filters.ALL):
                continue
            for name in existing:
                match, contain_any = filters.match_collection_name(name, new)
                if match and contain_any and new not in excluded:
                    raise DuplicateCollectionError(
                        f"collection {new} overlaps wildcard capture {name}"
                    )
        return [
            name
            for name in existing
            if any(
                filters.match_collection_name(new, name)[0] for new in new_names
            )
        ]

    def start(self, task_id: str) -> None:
        spec = self.tasks[task_id]
        pipeline = self.pipelines.get(task_id)
        if pipeline is None:
            include = spec.full_names()
            if any(
                filters.split_full_name(n) == (filters.ALL, filters.ALL)
                for n in include
            ):
                include = None
            pipeline = CdcApplyPipeline(
                self.spark, spec.source_dir, spec.work_dir,
                collections=include, exclude=spec.exclude or None,
                name_mapping=spec.name_mapping or None,
                start_positions=spec.start_positions or None,
            )
            self.pipelines[task_id] = pipeline
        quarantine = self.quarantines.setdefault(task_id, ErrorQuarantine())
        try:
            pipeline.run_available_now()
        except Exception as e:  # T10 fail_protect: count, auto-pause on trip
            quarantine.record(str(e))
            if quarantine.tripped():
                self.pause(task_id, reason=f"error quarantine: {e}")
            raise
        spec.state = STATE_RUNNING
        self._persist()

    def pause(self, task_id: str, reason: str = "user request") -> None:
        spec = self.tasks[task_id]
        spec.state = STATE_PAUSED
        spec.reason = reason
        self._persist()

    def resume(self, task_id: str) -> None:
        """Resume = restart from checkpoint: the streaming query reuses
        checkpointLocation, so only unseen files are processed (T7)."""
        spec = self.tasks[task_id]
        if spec.state != STATE_PAUSED:
            raise ValueError(f"task {task_id} not paused")
        spec.state = STATE_RUNNING
        spec.reason = ""
        self._persist()
        self.start(task_id)

    def delete(self, task_id: str) -> None:
        self.tasks.pop(task_id)
        self.pipelines.pop(task_id, None)
        self._persist()

    def get(self, task_id: str) -> dict:
        """The spec plus ``batches``, its work dir's committed per-batch
        records (the reference's per-task replicate counters)."""
        spec = self.tasks[task_id]
        batches = batch_records(committed_manifest(spec.work_dir))
        return {**_scrub(asdict(spec)), "batches": batches}

    def list(self) -> list[dict]:
        return [_scrub(asdict(t)) for t in self.tasks.values()]

    def position(self, task_id: str) -> list[dict]:
        """Per-vchannel positions of a task (GetPosition semantics,
        cdc_impl.go:1503-1561) — base64-encoded like the reference. Read
        from the committed manifest, the live pipeline's or, after a
        registry restart, the work dir's, as the reference reads its meta
        store; no DataFrame is built."""
        import base64

        pipeline = self.pipelines.get(task_id)
        rows = (
            pipeline.manifest["positions"] if pipeline is not None
            else committed_positions(self.tasks[task_id].work_dir)
        )
        return [
            {
                "vchannel": v,
                "position_ts": ts,
                "encoded": base64.b64encode(f"{v}:{ts}".encode()).decode(),
            }
            for v, ts, _ in rows
        ]

    def handle(self, request: dict) -> dict:
        """Single-endpoint dispatch, mirroring POST /cdc request_type
        routing (server/server.go:121-146, handle_map.go)."""
        rt = request.get("request_type")
        data = request.get("request_data", {})
        if rt == "create":
            spec = self.create(
                data["source_dir"], data.get("collections"), data.get("exclude"),
                data.get("connect_params"),
                db_collections=data.get("db_collections"),
                name_mapping=data.get("name_mapping"),
                start_positions=data.get("start_positions"),
            )
            return {"task_id": spec.task_id}
        if rt == "delete":
            self.delete(data["task_id"])
            return {"ok": True}
        if rt == "pause":
            self.pause(data["task_id"])
            return {"ok": True}
        if rt == "resume":
            self.resume(data["task_id"])
            return {"ok": True}
        if rt == "get":
            return self.get(data["task_id"])
        if rt == "list":
            return {"tasks": self.list()}
        if rt == "position":
            return {"positions": self.position(data["task_id"])}
        if rt == "maintenance":
            return self.maintenance(data)
        raise ValueError(f"unknown request_type {rt!r}")

    def maintenance(self, data: dict) -> dict:
        """Maintenance ops (server/maintenance/maintenance.go:27-35):
        set log level / force a log message. Spark mapping: JVM log4j
        level via sparkContext plus the driver-side Python logger."""
        import logging

        log = logging.getLogger("milvus_cdc_spark")
        op = data.get("operation")
        if op == "set_log_level":
            level = data["level"].upper()
            self.spark.sparkContext.setLogLevel(level)
            log.setLevel(getattr(logging, level, logging.INFO))
            return {"ok": True, "level": level}
        if op == "force_log":
            log.warning("forced log message: %s", data.get("message", ""))
            return {"ok": True}
        if op == "compact_state":
            # state-table version-sprawl control (bucket dirs fold into one
            # compaction epoch; logical content unchanged); one task or all
            tids = [data["task_id"]] if data.get("task_id") else list(self.pipelines)
            for tid in tids:
                self.pipelines[tid].compact_state()
            return {"ok": True, "compacted": tids}
        raise ValueError(f"unknown maintenance operation {op!r}")


def serve(registry: TaskRegistry, port: int = 8444):
    """Thin HTTP façade: POST /cdc with the reference's request envelope
    (doc/cdc-usage.md:102-117 — single endpoint, request_type dispatch).
    Returns the live ``HTTPServer``; call ``.serve_forever()`` to block or
    drive it from a thread in tests."""
    import http.server

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 (stdlib naming)
            if self.path != "/cdc":
                self.send_error(404)
                return
            length = int(self.headers.get("Content-Length", 0))
            try:
                request = json.loads(self.rfile.read(length) or b"{}")
                body = json.dumps({"code": 200, "data": registry.handle(request)})
                status = 200
            except Exception as e:  # reference returns error envelope
                body = json.dumps({"code": 500, "error": str(e)})
                status = 500
            payload = body.encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *args):  # quiet in tests
            pass

    return http.server.HTTPServer(("127.0.0.1", port), Handler)

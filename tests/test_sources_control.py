"""Kafka source/sink builders + error quarantine."""

from __future__ import annotations

import json
import os

import pytest

from milvus_cdc_spark.control.quarantine import ErrorQuarantine
from milvus_cdc_spark.sources import kafka

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)


def test_starting_offsets_seek_vs_latest():
    assert kafka.starting_offsets_json("t", None) == "latest"
    s = kafka.starting_offsets_json("t", {0: 42, 1: 7})
    assert json.loads(s) == {"t": {"0": 42, "1": 7}}


def test_kafka_source_options_backpressure():
    opts = kafka.kafka_source_options("broker:9092", "oplog", None, 1000)
    assert opts["maxOffsetsPerTrigger"] == "1000"
    assert opts["subscribe"] == "oplog"


def test_oplog_kafka_roundtrip(spark):
    """oplog → kafka value JSON → parsed oplog must be lossless."""
    ops = spark.createDataFrame(
        [(1, "insert", "db", "c", "_default", "ch_0", 10, 1, 0)],
        kafka.OPLOG_SCHEMA,
    )
    encoded = kafka.oplog_to_kafka_value(ops)
    assert encoded.columns == ["key", "value"]
    decoded = kafka.parse_oplog_json(encoded.selectExpr("CAST(value AS BINARY) AS value"))
    assert [tuple(r) for r in decoded.collect()] == [tuple(r) for r in ops.collect()]


def test_pulsar_message_id_codec_roundtrip():
    """MessageIdData protobuf codec: encode/decode are inverse, defaults
    (-1 partition/batch) are omitted on the wire like Pulsar's encoder,
    and multi-byte varints survive."""
    from milvus_cdc_spark.sources import pulsar

    for lid, eid, part, bidx in [
        (0, 0, -1, -1),
        (8, 11, -1, -1),
        (300, 2, 4, -1),          # ledgerId needs a 2-byte varint
        (2**40, 2**21, 65, 300),  # big ids, batch index present
    ]:
        data = pulsar.encode_message_id(lid, eid, part, bidx)
        got = pulsar.decode_message_id(data)
        assert got == {
            "ledger_id": lid, "entry_id": eid,
            "partition": part, "batch_index": bidx,
        }
    # canonical small id: field tags 1..2, single-byte varints
    assert pulsar.encode_message_id(8, 11) == b"\x08\x08\x10\x0b"


def test_pulsar_starting_offsets_seek_vs_latest():
    from milvus_cdc_spark.sources import pulsar

    assert pulsar.starting_message_ids_json("t", None) == "latest"
    mid = pulsar.encode_message_id(8, 11)
    s = json.loads(pulsar.starting_message_ids_json("persistent://a/b/t", mid))
    assert s == {"persistent://a/b/t": [8, 8, 16, 11]}
    # bytes above 127 encode as signed (java byte[] wire form)
    mid2 = pulsar.encode_message_id(300, 2)
    vals = json.loads(pulsar.starting_message_ids_json("t", mid2))["t"]
    assert vals[1] == -84 and all(-128 <= v <= 127 for v in vals)


def test_pulsar_source_options_cdc_yaml_parity():
    """Option builder mirrors cdc.yaml's pulsar block (address,
    webAddress, tenant/namespace, maxMessageSize, auth)."""
    from milvus_cdc_spark.sources import pulsar

    opts = pulsar.pulsar_source_options(
        "pulsar://localhost:6650",
        "by-dev-rootcoord-dml_0",
        admin_url="http://localhost:80",
        tenant="public",
        namespace="default",
        max_message_size=5242880,
        auth_plugin="org.apache.pulsar.client.impl.auth.AuthenticationToken",
        auth_params="token:xxx",
        receiver_queue_size=4,
    )
    assert opts["service.url"] == "pulsar://localhost:6650"
    assert opts["admin.url"] == "http://localhost:80"
    assert opts["topic"] == "persistent://public/default/by-dev-rootcoord-dml_0"
    assert opts["startingOffsets"] == "latest"
    assert opts["pulsar.client.maxMessageSize"] == "5242880"
    assert opts["pulsar.client.authPluginClassName"].endswith("AuthenticationToken")
    assert opts["pulsar.consumer.receiverQueueSize"] == "4"
    # a seek position lands as the per-topic offsets JSON
    seek = pulsar.pulsar_source_options(
        "pulsar://h:6650", "t", message_id=pulsar.encode_message_id(8, 11)
    )
    assert json.loads(seek["startingOffsets"]) == {
        "persistent://public/default/t": [8, 8, 16, 11]
    }


def test_mq_dispatch_picks_exactly_one_broker():
    """Shared dispatch: exactly one of pulsar/kafka must be configured
    (cdc.yaml mq block); wrong shapes raise before any stream is built."""
    import pytest

    from milvus_cdc_spark.sources import mq

    with pytest.raises(ValueError):
        mq.read_oplog_stream(None, {}, "t")
    with pytest.raises(ValueError):
        mq.read_oplog_stream(
            None, {"pulsar": {"address": "p"}, "kafka": {"address": "k"}}, "t"
        )


class _RecordingReader:
    """Stands in for spark.readStream: records format + options, returns
    a prepared batch frame from load() so the shared JSON envelope parse
    runs for real downstream of the connector surface."""

    def __init__(self, result_df=None):
        self.fmt = None
        self.opts: dict[str, str] = {}
        self._result = result_df

    def format(self, f):
        self.fmt = f
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def load(self):
        return self._result


class _FakeSession:
    def __init__(self, reader):
        self._reader = reader

    @property
    def readStream(self):
        return self._reader


def _envelope_df(spark):
    from pyspark.sql import functions as F

    ops = spark.createDataFrame(
        [(1, "insert", "db", "c", "_default", "ch_0", 10, 1, 0)],
        kafka.OPLOG_SCHEMA,
    )
    return kafka.oplog_to_kafka_value(ops).select(
        F.col("value").cast("binary").alias("value")
    )


def test_kafka_broker_contract_three_seek_modes(spark):
    """The exact option dict format('kafka') receives, per seek mode
    (stream_creator.go:49-98 seek-vs-latest; T9 backpressure): no
    checkpoint → latest; checkpointed positions → per-partition offsets
    JSON; explicit start position + maxOffsetsPerTrigger pass through.
    Connector regressions surface here without a broker."""
    from milvus_cdc_spark.sources import mq

    # mode 1: no checkpoint → subscribe at latest
    r = _RecordingReader(_envelope_df(spark))
    out = mq.read_oplog_stream(
        _FakeSession(r), {"kafka": {"address": "b1:9092,b2:9092"}}, "oplog"
    )
    assert r.fmt == "kafka"
    assert r.opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "oplog",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
    }
    assert out.collect()[0].collection == "c"  # envelope parse is wired in

    # mode 2: checkpointed positions → exact per-partition offsets JSON
    r = _RecordingReader(_envelope_df(spark))
    mq.read_oplog_stream(
        _FakeSession(r), {"kafka": {"address": "b:9092"}}, "oplog",
        positions={0: 42, 1: 7},
    )
    assert json.loads(r.opts["startingOffsets"]) == {"oplog": {"0": 42, "1": 7}}

    # mode 3: explicit start position + backpressure bound
    r = _RecordingReader(_envelope_df(spark))
    mq.read_oplog_stream(
        _FakeSession(r), {"kafka": {"address": "b:9092"}}, "oplog",
        positions={0: 1}, max_offsets_per_trigger=1000,
    )
    assert r.opts["maxOffsetsPerTrigger"] == "1000"
    assert json.loads(r.opts["startingOffsets"]) == {"oplog": {"0": 1}}


def test_pulsar_broker_contract_three_seek_modes(spark):
    """format('pulsar') option parity across the same three modes, with
    the cdc.yaml block (webAddress/tenant/namespace/auth/maxMessageSize)
    folded through mq dispatch (cdc.yaml:36-44)."""
    from milvus_cdc_spark.sources import mq, pulsar

    cfg = {
        "address": "pulsar://h:6650",
        "webAddress": "http://h:8080",
        "tenant": "tn",
        "namespace": "ns",
    }

    # mode 1: no checkpoint → latest, topic fully qualified
    r = _RecordingReader(_envelope_df(spark))
    out = mq.read_oplog_stream(_FakeSession(r), {"pulsar": cfg}, "ch")
    assert r.fmt == "pulsar"
    assert r.opts == {
        "service.url": "pulsar://h:6650",
        "admin.url": "http://h:8080",
        "topic": "persistent://tn/ns/ch",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
    }
    assert out.collect()[0].collection == "c"

    # mode 2: checkpointed MessageId → per-topic serialized MessageIdData
    r = _RecordingReader(_envelope_df(spark))
    mq.read_oplog_stream(
        _FakeSession(r), {"pulsar": cfg}, "ch",
        message_id=pulsar.encode_message_id(8, 11),
    )
    assert json.loads(r.opts["startingOffsets"]) == {
        "persistent://tn/ns/ch": [8, 8, 16, 11]
    }

    # mode 3: start position + auth + size + backpressure pass-through
    r = _RecordingReader(_envelope_df(spark))
    mq.read_oplog_stream(
        _FakeSession(r),
        {"pulsar": {**cfg, "maxMessageSize": 5242880,
                    "authPlugin": "AuthToken", "authParams": "token:x"}},
        "ch",
        message_id=pulsar.encode_message_id(300, 2, 4),
        receiver_queue_size=8,
    )
    assert r.opts["pulsar.client.maxMessageSize"] == "5242880"
    assert r.opts["pulsar.client.authPluginClassName"] == "AuthToken"
    assert r.opts["pulsar.client.authParams"] == "token:x"
    assert r.opts["pulsar.consumer.receiverQueueSize"] == "8"
    mid = json.loads(r.opts["startingOffsets"])["persistent://tn/ns/ch"]
    decoded = pulsar.decode_message_id(
        bytes(b if b >= 0 else b + 256 for b in mid)
    )
    assert decoded == {
        "ledger_id": 300, "entry_id": 2, "partition": 4, "batch_index": -1
    }


def test_error_quarantine_trips_in_window():
    q = ErrorQuarantine(max_errors=3, window_sec=60)
    q.record("e1", now=0.0)
    q.record("e2", now=1.0)
    assert not q.tripped(now=1.0)
    q.record("e3", now=2.0)
    assert q.tripped(now=2.0)
    # outside the window the counter decays
    assert not q.tripped(now=100.0)
    assert q.last_reason == "e3"


def test_credentials_scrubbed_on_read(spark, tmp_path):
    """get/list mask secret-bearing connect params (base.go:59-74) while
    the persisted spec keeps them for restart."""
    import json

    from milvus_cdc_spark.control.tasks import TaskRegistry

    reg = TaskRegistry(spark, str(tmp_path))
    spec = reg.create(
        "/dev/null", ["c_scrub"],
        connect_params={"bootstrap": "k:9092", "sasl.password": "hunter2"},
    )
    got = reg.get(spec.task_id)
    assert got["connect_params"]["sasl.password"] == "******"
    assert got["connect_params"]["bootstrap"] == "k:9092"
    assert reg.list()[0]["connect_params"]["sasl.password"] == "******"
    # persisted meta retains the real value for resume
    with open(reg.meta_path) as f:
        assert json.load(f)[spec.task_id]["connect_params"]["sasl.password"] == "hunter2"


def test_position_tool_roundtrips(tmp_path):
    """position_tool: native position and MessageIdData roundtrips, and
    the per-channel listing of a work dir's manifest positions."""
    import json
    import subprocess
    import sys as _sys

    def run(*args):
        out = subprocess.run(
            [_sys.executable, os.path.join(SCRIPTS, "position_tool.py"), *args],
            capture_output=True, text=True, check=True,
        )
        return [json.loads(line) for line in out.stdout.strip().splitlines()]

    ts = 1700000000000 << 18 | 5
    [enc] = run("encode", "chan-a", str(ts))
    [dec] = run("decode", enc["position"])
    assert dec["channel"] == "chan-a" and dec["ts"] == ts and dec["logical"] == 5
    assert dec["physical_time"].startswith("2023-11-14")

    [mid] = run("encode-msgid", "9", "77", "2")
    [mdec] = run("decode-msgid", mid["msgid"])
    assert mdec == {"ledger_id": 9, "entry_id": 77, "partition": 2, "batch_index": -1}

    state = tmp_path / "work" / "state"
    state.mkdir(parents=True)
    (state / "MANIFEST.json").write_text(json.dumps({
        "last_batch_id": 2,
        "format_version": 3,
        "positions": [["ch-0", 200 << 18, 5], ["ch-1", 150 << 18, 7]],
    }))
    rows = run("list", str(tmp_path / "work"))
    assert [(r["vchannel"], r["position_ts"], r["n_msgs"]) for r in rows] == [
        ("ch-0", 200 << 18, 5),
        ("ch-1", 150 << 18, 7),
    ]
    assert rows[0]["physical_time"].startswith("1970-01-01T00:00:00.2")


def test_file_broker_executes_envelope_and_seek(spark, tmp_path):
    """The file-broker arm of the S5 dispatch EXECUTES the shared
    envelope parse end-to-end: ops serialized with the Kafka sink
    projection, streamed back through mq.read_oplog_stream({'file':..}),
    equal to the originals; start_ts seeks strictly past the position."""
    from pyspark.sql import functions as F

    from milvus_cdc_spark import catalog, oplog
    from milvus_cdc_spark.sources import mq
    from milvus_cdc_spark.sources.kafka import oplog_to_kafka_value

    ops = oplog.derive_oplog(
        catalog.load_table(spark, "/root/testdata/sf0.001", "lineitem")
    ).limit(200)
    topic = tmp_path / "broker" / "oplog-topic"
    topic.mkdir(parents=True)
    vals = oplog_to_kafka_value(ops).select("value")
    vals.coalesce(2).write.mode("overwrite").text(str(topic))

    def drain(params):
        stream = mq.read_oplog_stream(spark, params, "oplog-topic")
        import uuid

        sink = f"fb_{uuid.uuid4().hex[:8]}"
        q = (
            stream.writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.table(sink)

    got = drain({"file": {"root": str(tmp_path / "broker")}})
    assert got.count() == ops.count()
    orig = {tuple(r) for r in ops.select("collection", "pk", "ts", "op_type").collect()}
    back = {tuple(r) for r in got.select("collection", "pk", "ts", "op_type").collect()}
    assert orig == back

    mid_ts = ops.approxQuantile("ts", [0.5], 0.0)[0]
    seeked = drain({"file": {"root": str(tmp_path / "broker"), "start_ts": int(mid_ts)}})
    expect = ops.filter(F.col("ts") > int(mid_ts)).count()
    assert seeked.count() == expect

    import pytest

    with pytest.raises(ValueError):
        mq.read_oplog_stream(spark, {}, "t")
    with pytest.raises(ValueError):
        mq.read_oplog_stream(
            spark, {"file": {"root": "x"}, "kafka": {"address": "y"}}, "t"
        )


def test_stream_tail_parquet_and_jsonlines(spark, tmp_path):
    """stream_tail: last-n-per-channel over both the parquet op-log and
    a file-broker JSON-line topic, newest first, channel scoping."""
    import json as _json
    import subprocess
    import sys as _sys

    from milvus_cdc_spark import catalog, oplog
    from milvus_cdc_spark.sources.kafka import oplog_to_kafka_value

    ops = oplog.derive_oplog(
        catalog.load_table(spark, "/root/testdata/sf0.001", "lineitem")
    ).limit(100)
    pq = tmp_path / "oplog_pq"
    ops.coalesce(1).write.mode("overwrite").parquet(str(pq))
    topic = tmp_path / "topic"
    topic.mkdir()
    oplog_to_kafka_value(ops).select("value").coalesce(1).write.mode(
        "overwrite"
    ).text(str(topic))

    def run(*args):
        out = subprocess.run(
            [_sys.executable, os.path.join(SCRIPTS, "stream_tail.py"), *args],
            capture_output=True, text=True, check=True,
        )
        return [_json.loads(l) for l in out.stdout.strip().splitlines()]

    rows = run(str(pq), "--n=3")
    per_ch: dict = {}
    for r in rows:
        per_ch.setdefault(r["vchannel"], []).append(r["ts"])
    assert all(len(v) <= 3 for v in per_ch.values())
    assert all(v == sorted(v, reverse=True) for v in per_ch.values())

    jrows = run(str(topic), "--json", "--n=3")
    assert {(r["vchannel"], r["ts"]) for r in jrows} == {
        (r["vchannel"], r["ts"]) for r in rows
    }

    one = run(str(pq), "--n=2", f"--channel={rows[0]['vchannel']}")
    assert {r["vchannel"] for r in one} == {rows[0]["vchannel"]}
    assert len(one) <= 2


def test_meta_dump_tool_lists_live_and_dropped(spark, sf_dir):
    """meta_dump: JSON per collection; dropped collections appear only
    with --include-dropped; live entries carry hydrated fields."""
    import json
    import subprocess
    import sys as _sys

    def run(*args):
        out = subprocess.run(
            [_sys.executable, os.path.join(SCRIPTS, "meta_dump.py"), *args],
            capture_output=True, text=True, check=True,
        )
        return [json.loads(line) for line in out.stdout.strip().splitlines()]

    live = run(sf_dir)
    assert live and all("fields" in r and r["fields"] for r in live)
    assert all(r.get("state") != "dropped" for r in live)
    both = run(sf_dir, "--include-dropped")
    dropped = [r for r in both if r.get("state") == "dropped"]
    assert dropped and len(both) == len(live) + len(dropped)
    ids = [r["coll_id"] for r in both]
    assert len(set(ids)) == len(ids)


def test_load_cdc_yaml_pulsar_and_kafka(tmp_path):
    """cdc.yaml loader: reference field names map onto the engine's
    config + source option builders; exactly-one-broker enforced."""
    from milvus_cdc_spark.config import load_cdc_yaml, reader_options

    y = tmp_path / "cdc.yaml"
    y.write_text(
        """
address: 0.0.0.0:8444
maxTaskNum: 100
metaStoreConfig:
  storeType: etcd
  rootPath: cdc-by-dev
sourceConfig:
  etcd:
    address:
      - http://127.0.0.1:2379
    rootPath: by-dev
    metaSubPath: meta
  readChanLen: 4
  defaultPartitionName: _default
  replicateChan: by-dev-replicate-msg
  pulsar:
    address: pulsar://localhost:6650
    webAddress: localhost:80
    maxMessageSize: 5242880
    tenant: public
    namespace: default
maxNameLength: 256
batchMode: true
"""
    )
    cfg = load_cdc_yaml(str(y))
    assert cfg.max_task_num == 100 and cfg.read_chan_len == 4
    assert cfg.meta_root_path == "cdc-by-dev"
    assert cfg.source_etcd_address == ("http://127.0.0.1:2379",)
    assert cfg.replicate_chan == "by-dev-replicate-msg"
    assert cfg.batch_mode is True
    assert set(cfg.connect_params) == {"pulsar"}
    opts = reader_options(cfg, "oplog-topic")
    assert opts["service.url"] == "pulsar://localhost:6650"
    assert opts["topic"] == "persistent://public/default/oplog-topic"
    assert opts["admin.url"] == "localhost:80"
    assert opts["pulsar.consumer.receiverQueueSize"] == "4"

    y2 = tmp_path / "cdc_kafka.yaml"
    y2.write_text(
        """
sourceConfig:
  readChanLen: 7
  kafka:
    address: 127.0.0.1:9092
"""
    )
    cfg2 = load_cdc_yaml(str(y2))
    opts2 = reader_options(cfg2, "t")
    assert opts2["kafka.bootstrap.servers"] == "127.0.0.1:9092"
    assert opts2["maxOffsetsPerTrigger"] == "7"

    y3 = tmp_path / "cdc_bad.yaml"
    y3.write_text("sourceConfig: {}\n")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        load_cdc_yaml(str(y3))


def test_task_registry_persist_is_atomic(spark, tmp_path, monkeypatch):
    """A write that dies mid-way through tasks.json (json.dump failing
    after part of the document is out) leaves the previous registry file
    loadable with every task in it: _persist writes a temp file and
    renames it into place."""
    from milvus_cdc_spark.control.tasks import TaskRegistry

    reg = TaskRegistry(spark, str(tmp_path))
    ids = {reg.create("/dev/null", [f"c_atomic_{i}"]).task_id for i in range(2)}

    def torn_dump(obj, f, **kw):
        f.write('{"torn": ')
        raise OSError("injected failure mid-write")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-write"):
        reg.create("/dev/null", ["c_atomic_2"])
    monkeypatch.undo()
    with open(reg.meta_path) as f:
        assert set(json.load(f)) == ids
    assert {t["task_id"] for t in TaskRegistry(spark, str(tmp_path)).list()} == ids


def test_task_registry_persist_is_thread_safe(spark, tmp_path):
    """Tasks start on their own threads and each start persists the
    registry; concurrent _persist calls share one temp file name, so
    without a lock one thread's rename moves another's temp file away
    (FileNotFoundError)."""
    import threading

    from milvus_cdc_spark.control.tasks import TaskRegistry

    reg = TaskRegistry(spark, str(tmp_path))
    ids = {reg.create("/dev/null", [f"c_threads_{i}"]).task_id for i in range(3)}
    errors = []

    def persist_many():
        try:
            for _ in range(200):
                reg._persist()
        except OSError as e:
            errors.append(e)

    threads = [threading.Thread(target=persist_many) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    with open(reg.meta_path) as f:
        assert set(json.load(f)) == ids


def test_data_diff_flags_a_missing_delete(tmp_path):
    """data_diff replays two op-log dirs with the engine's alive rule: an
    in-sync pair exits 0; a target missing one delete has one pk alive
    that the source deleted, so it exits 1 with one liveness mismatch."""
    import subprocess
    import sys as _sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    ops = [
        # (ts, op_type, pk)
        (1, "insert", 1),
        (1, "insert", 2),
        (2, "upsert", 3),
        (3, "delete", 2),
        (4, "delete", 1),
        (4, "insert", 1),   # tie: insert wins, pk1 alive
    ]

    def write(name, rows):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r[0] for r in rows], pa.int64()),
                    "op_type": [r[1] for r in rows],
                    "db": ["default"] * len(rows),
                    "collection": ["c"] * len(rows),
                    "partition": ["_default"] * len(rows),
                    "vchannel": ["ch-0"] * len(rows),
                    "pk": pa.array([r[2] for r in rows], pa.int64()),
                    "num_rows": pa.array([1] * len(rows), pa.int64()),
                    "seq": pa.array(range(len(rows)), pa.int64()),
                }
            ),
            d / "part-0.parquet",
        )
        return str(d)

    src = write("src", ops)

    def run(dst):
        return subprocess.run(
            [_sys.executable, os.path.join(SCRIPTS, "data_diff.py"), src, dst],
            capture_output=True, text=True,
        )

    same = run(write("same", ops))
    assert same.returncode == 0, same.stdout + same.stderr
    assert "in_sync:            3" in same.stdout
    lacks = run(write("lacks_delete", [r for r in ops if r != (3, "delete", 2)]))
    assert lacks.returncode == 1, lacks.stdout + lacks.stderr
    assert "liveness_mismatch:  1" in lacks.stdout
    assert "c/2: liveness_mismatch" in lacks.stdout

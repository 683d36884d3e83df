"""Property-based test: the replay aggregate equals a straightforward
sequential interpreter of the op-log, for arbitrary op sequences.

This pins down the semantics the whole CDC path rests on (A7/J8,
delete-before-insert ties) against an independent implementation.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from milvus_cdc_spark.operators import apply as apply_op

ops_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # ts
        st.sampled_from(["insert", "delete"]),
        st.integers(min_value=0, max_value=5),  # pk
    ),
    min_size=0,
    max_size=30,
)


def python_replay(ops: list[tuple[int, str, int]]) -> set[int]:
    """Independent oracle: last-writer-wins by ts, insert wins ties."""
    last_ins: dict[int, int] = {}
    last_del: dict[int, int] = {}
    for ts, op, pk in ops:
        d = last_ins if op == "insert" else last_del
        d[pk] = max(d.get(pk, -1), ts)
    return {
        pk
        for pk, its in last_ins.items()
        if pk not in last_del or its >= last_del[pk]
    }


edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@given(edges_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_connected_components_match_union_find(spark, edges):
    """Min-label propagation == classic union-find on random graphs."""
    from milvus_cdc_spark.analytics.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    # force the distributed HashMin loop — vs union-find as oracle (the
    # small-graph fast path IS a union-find; comparing it to itself
    # would be vacuous)
    got = {
        r.node: r.component
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == want


@given(ops_strategy)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_replay_matches_python_interpreter(spark, ops):
    rows = [(ts, op, "c", pk, 1) for ts, op, pk in ops]
    df = spark.createDataFrame(
        rows, "ts bigint, op_type string, collection string, pk bigint, num_rows bigint"
    ) if rows else spark.createDataFrame(
        [], "ts bigint, op_type string, collection string, pk bigint, num_rows bigint"
    )
    got = {r.pk for r in apply_op.replay_alive(df).collect()}
    assert got == python_replay(ops)


jaccard_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # doc_id
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
            min_size=3,
            max_size=12,
        ),
    ),
    min_size=2,
    max_size=6,
    unique_by=lambda t: t[0],
)


@given(jaccard_docs)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_join_based_jaccard_matches_set_math(spark, docs):
    """The join-based Jaccard (no arrays through the shuffle) must equal
    plain Python set arithmetic over the same 3-gram shingles."""
    from milvus_cdc_spark.analytics.dedup import jaccard_pairs

    rows = [(i, " ".join(toks)) for i, toks in docs]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    ids = sorted(i for i, _ in docs)
    pair_rows = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    pairs = spark.createDataFrame(pair_rows, "a bigint, b bigint")
    got = {(r.a, r.b): r.jaccard for r in jaccard_pairs(df, pairs).collect()}

    def sh(toks):
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    txt = {i: toks for i, toks in docs}
    for (a, b), j in got.items():
        sa, sb = sh(txt[a]), sh(txt[b])
        want = len(sa & sb) / max(len(sa | sb), 1)
        assert abs(j - want) < 1e-6, (a, b, j, want)
    assert set(got) == set(pair_rows)


salt_rows = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=0,
    max_size=25,
)


@given(salt_rows)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_salted_join_equals_plain_join(spark, rows):
    """salted_join must be result-identical to the plain equi-join for
    arbitrary inputs (multiplicities included)."""
    from milvus_cdc_spark.operators.joins import salted_join

    schema = "k string, v bigint"
    big = (
        spark.createDataFrame(rows, schema)
        if rows
        else spark.createDataFrame([], schema)
    )
    dim = spark.createDataFrame(
        [("k1", "one"), ("k2", "two")], "k string, d string"
    )
    got = sorted(
        (r.k, r.v, r.d) for r in salted_join(big, dim, key="k", n_salts=4).collect()
    )
    want = sorted((r.k, r.v, r.d) for r in big.join(dim, "k").collect())
    assert got == want


text_strategy = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs"),
            max_codepoint=0x7F,
        ),
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=6,
)


@given(text_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_analyze_column_matches_python_mirror(spark, texts):
    """functions.text.analyze (Catalyst column expressions) and
    analyze_terms (the driver-side mirror the match surface runs QUERY
    terms through) are independent implementations of the same analyzer
    contract — they must tokenize arbitrary ASCII text identically for
    every analyzer, or english text_match would silently miss documents."""
    from pyspark.sql import functions as F

    from milvus_cdc_spark.functions.text import analyze, analyze_terms

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for analyzer in ("standard", "whitespace", "english"):
        got = [
            r.t
            for r in df.select(
                analyze(F.col("text"), analyzer).alias("t")
            ).collect()
        ]
        want = [analyze_terms([t], analyzer) for t in texts]
        assert got == want, (analyzer, texts)


# ---------------------------------------------------------------------------
# Round-5 second-session properties
# ---------------------------------------------------------------------------

slop_docs = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]),
             min_size=2, max_size=8),
    min_size=1, max_size=6,
)


@given(slop_docs)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_phrase_slop_monotone(spark, docs):
    """Sloppy phrase matching is monotone in slop: every doc matched at
    slop s is matched at slop s+1 (two-term move counts only relax)."""
    from milvus_cdc_spark.analytics.textrank import phrase_match

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    prev: set = set()
    for s in (0, 1, 2, 3):
        cur = {
            r.doc_id
            for r in phrase_match(df, ["alpha", "beta"], slop=s).collect()
        }
        assert prev <= cur, (s, prev, cur)
        prev = cur


source_counts = st.lists(st.integers(min_value=1, max_value=500),
                         min_size=1, max_size=6)


@given(source_counts, st.sampled_from([0.0, 0.3, 0.7, 1.0]))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_temperature_weights_invariants(spark, counts, alpha):
    """Temperature weights: probabilities sum to 1, rates stay in
    [0, 1000], and the expected kept total never exceeds the corpus
    (each source contributes at most what it has)."""
    from milvus_cdc_spark.analytics.corpus import temperature_weights

    rows = [
        (i * 10_000 + j, f"s{i}")
        for i, n in enumerate(counts)
        for j in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    w = temperature_weights(df, alpha=alpha, budget_frac=0.5).collect()
    assert abs(sum(r.p_s for r in w) - 1.0) < 1e-4
    total = sum(counts)
    expected = 0.0
    for r in w:
        assert 0 <= r.rate_permille <= 1000
        expected += r.n_docs * r.rate_permille / 1000.0
    assert expected <= total + 1e-6


# ---------------------------------------------------------------------------
# Z-order Morton interleave: bijectivity on [0, 2^bits)^2 against an
# independent python de-interleaver, for arbitrary coordinate pairs.
# ---------------------------------------------------------------------------

zxy_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=255),
    ),
    min_size=1,
    max_size=24,
    unique=True,
)


def _deinterleave(z: int, bits: int = 8) -> tuple[int, int]:
    x = y = 0
    for i in range(bits):
        x |= ((z >> (2 * i)) & 1) << i
        y |= ((z >> (2 * i + 1)) & 1) << i
    return x, y


@given(zxy_strategy)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_zorder_key_is_morton_bijection(spark, pairs):
    from pyspark.sql import functions as F

    from milvus_cdc_spark.operators.clustering import zorder_key

    df = spark.createDataFrame(pairs, "x int, y int")
    rows = df.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), 8).alias("z")
    ).collect()
    assert len({r.z for r in rows}) == len(rows)  # injective on the sample
    for r in rows:
        assert _deinterleave(r.z, 8) == (r.x, r.y)


# ---------------------------------------------------------------------------
# Line-level dedup invariants vs a brute-force python mirror: n_lines
# partitions the corpus lines, n_kept counts exactly the globally-unique
# pseudo-lines, for arbitrary small corpora.
# ---------------------------------------------------------------------------

corpus_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=14
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(corpus_strategy)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_line_dedup_matches_bruteforce(spark, texts):
    from collections import Counter

    from milvus_cdc_spark.analytics import corpus

    W = 3
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    out = {
        r.doc_id: r for r in corpus.line_level_dedup(docs, width=W).collect()
    }
    # python mirror
    lines_by_doc = {}
    for i, t in enumerate(texts):
        toks = [w for w in t.strip().lower().split() if w]
        lines_by_doc[i] = [
            " ".join(toks[j : j + W]) for j in range(0, len(toks), W)
        ]
    counts = Counter(ln for ls in lines_by_doc.values() for ln in ls)
    for i, ls in lines_by_doc.items():
        if not ls:
            assert i not in out
            continue
        assert out[i].n_lines == len(ls)
        assert out[i].n_kept == sum(1 for ln in ls if counts[ln] == 1)


# ---------------------------------------------------------------------------
# Round-6: the full-pipeline adversarial replay property (the reference's
# stability suite, tests/stability/test_cdc_stability.py, compressed into
# property form). Random multi-collection multi-channel op-logs with ts
# ties drive CdcApplyPipeline END TO END — file stream source, microbatch
# splits (maxFilesPerTrigger=2 over random file splits), bucketed
# incremental state merge, manifest commit, resume — and the surviving
# state must equal an independent single-pass Python interpreter. Each
# example interleaves ~10 collections' independent logs, so 20 examples
# exercise ~200 generated logs.
# ---------------------------------------------------------------------------

cdc_ops_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),                # ts (ties likely)
        st.sampled_from(
            ["insert", "upsert", "import", "delete",
             "drop_partition", "drop_collection"]
        ),
        st.integers(min_value=0, max_value=9),                # collection idx
        st.integers(min_value=0, max_value=1),                # partition idx
        st.integers(min_value=0, max_value=4),                # pk
    ),
    min_size=1,
    max_size=60,
)


def _python_cdc_state(ops):
    """Independent oracle mirroring the full pipeline state semantics:
    per-(collection, pk) LWW with insert-wins ties, the latest insert's
    partition carried as a (ts, partition) tuple max (Spark struct-max
    tie-break on the partition string), bulk-drop cutoffs per collection
    and per (collection, partition-of-latest-insert), and n_inserts /
    last_insert_ts bookkeeping."""
    last_ins, last_del, n_ins = {}, {}, {}
    coll_drop, part_drop = {}, {}
    for ts, op, coll, part, pk in ops:
        c, p = f"c{coll}", f"p{part}"
        k = (c, pk)
        if op == "drop_collection":
            coll_drop[c] = max(coll_drop.get(c, -1), ts)
        elif op == "drop_partition":
            part_drop[(c, p)] = max(part_drop.get((c, p), -1), ts)
        elif op == "delete":
            last_del[k] = max(last_del.get(k, -1), ts)
        else:
            last_ins[k] = max(last_ins.get(k, (-1, "")), (ts, p))
            n_ins[k] = n_ins.get(k, 0) + 1
    out = {}
    for (c, pk), (ts, p) in last_ins.items():
        cut = max(
            last_del.get((c, pk), -1),
            part_drop.get((c, p), -1),
            coll_drop.get(c, -1),
        )
        if ts >= cut:
            out[(c, pk)] = (ts, n_ins[(c, pk)], p)
    return out


@given(cdc_ops_strategy, st.integers(min_value=1, max_value=4))
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_pipeline_end_to_end_matches_interpreter(spark, ops, n_files):
    """CdcApplyPipeline (streaming bucketed-state path, manifest drop
    cutoffs included) == the Python single-pass interpreter, for
    arbitrary op sequences — inserts/upserts/imports/deletes AND
    in-stream DropPartition/DropCollection with re-creates — arbitrary
    microbatch boundaries, and an idempotent resume."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from milvus_cdc_spark.streaming.pipeline import CdcApplyPipeline

    src = tempfile.mkdtemp(prefix="prop_src_")
    work = tempfile.mkdtemp(prefix="prop_work_")
    rows = [
        {
            "ts": ts,
            "op_type": op,
            "db": "default",
            "collection": f"c{coll}",
            "partition": f"p{part}",
            "vchannel": f"ch_{pk % 2}",
            "pk": pk,
            "num_rows": 1,
            "seq": i,
        }
        for i, (ts, op, coll, part, pk) in enumerate(ops)
    ]
    schema = pa.schema(
        [
            ("ts", pa.int64()), ("op_type", pa.string()), ("db", pa.string()),
            ("collection", pa.string()), ("partition", pa.string()),
            ("vchannel", pa.string()), ("pk", pa.int64()),
            ("num_rows", pa.int64()), ("seq", pa.int64()),
        ]
    )
    # random file splits -> random microbatch boundaries (2 files/trigger)
    per = max(1, len(rows) // n_files)
    for f_idx in range(0, len(rows), per):
        chunk = rows[f_idx:f_idx + per]
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=schema),
            f"{src}/part-{f_idx:05d}.parquet",
        )
    pipe = CdcApplyPipeline(spark, src, work, n_buckets=4)
    pipe.run_available_now()
    got = {
        (r.collection, r.pk): (r.last_insert_ts, r.n_inserts, r.partition)
        for r in pipe.alive().collect()
    }
    assert got == _python_cdc_state(ops)
    # resume idempotence: the checkpoint (and the manifest's max-merged
    # drop cutoffs) say nothing is new
    pipe2 = CdcApplyPipeline(spark, src, work, n_buckets=4)
    pipe2.run_available_now()
    got2 = {
        (r.collection, r.pk): (r.last_insert_ts, r.n_inserts, r.partition)
        for r in pipe2.alive().collect()
    }
    assert got2 == got


# ---------------------------------------------------------------------------
# Bulk-drop replay property: DropPartition / DropCollection erase their
# scope as of their ts; re-inserts after a drop (collection re-create)
# come back alive; insert at exactly the drop ts survives (insert-wins
# ties, same as delete). Mirrors replay_alive_with_drops against an
# independent Python interpreter.
# ---------------------------------------------------------------------------

drop_ops_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),  # ts
        st.sampled_from(
            ["insert", "upsert", "delete", "drop_partition", "drop_collection"]
        ),
        st.integers(min_value=0, max_value=2),  # collection idx
        st.integers(min_value=0, max_value=1),  # partition idx
        st.integers(min_value=0, max_value=3),  # pk
    ),
    min_size=1,
    max_size=50,
)


def _python_drop_replay(ops):
    last_ins, last_del, part_drop, coll_drop = {}, {}, {}, {}
    for ts, op, c, p, pk in ops:
        coll, part = f"c{c}", f"p{p}"
        k = (coll, part, pk)
        if op == "drop_collection":
            coll_drop[coll] = max(coll_drop.get(coll, -1), ts)
        elif op == "drop_partition":
            part_drop[(coll, part)] = max(part_drop.get((coll, part), -1), ts)
        elif op == "delete":
            last_del[k] = max(last_del.get(k, -1), ts)
        else:
            last_ins[k] = max(last_ins.get(k, -1), ts)
    out = {}
    for (coll, part, pk), its in last_ins.items():
        cut = max(
            last_del.get((coll, part, pk), -1),
            part_drop.get((coll, part), -1),
            coll_drop.get(coll, -1),
        )
        if its >= cut:
            out[(coll, part, pk)] = its
    return out


@given(drop_ops_strategy)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_drop_replay_matches_interpreter(spark, ops):
    from milvus_cdc_spark.operators.apply import replay_alive_with_drops

    rows = [
        (ts, op, f"c{c}", f"p{p}", pk, 1)
        for ts, op, c, p, pk in ops
    ]
    df = spark.createDataFrame(
        rows,
        "ts bigint, op_type string, collection string, partition string, "
        "pk bigint, num_rows bigint",
    )
    got = {
        (r.collection, r.partition, r.pk): r.last_insert_ts
        for r in replay_alive_with_drops(df).collect()
    }
    assert got == _python_drop_replay(ops)


# ---------------------------------------------------------------------------
# Codec roundtrip properties (checkpointed positions must survive a full
# encode→decode cycle for ANY id values — a corrupted seek silently
# replays or skips data).
# ---------------------------------------------------------------------------

msgid_strategy = st.tuples(
    st.integers(min_value=0, max_value=2**62),   # ledger_id
    st.integers(min_value=0, max_value=2**62),   # entry_id
    st.integers(min_value=-1, max_value=2**30),  # partition (-1 = default)
    st.integers(min_value=-1, max_value=2**30),  # batch_index
)


@given(msgid_strategy)
@settings(max_examples=200, deadline=None)
def test_pulsar_message_id_codec_property(ids):
    from milvus_cdc_spark.sources.pulsar import (
        decode_message_id,
        encode_message_id,
    )

    ledger, entry, part, batch = ids
    got = decode_message_id(encode_message_id(ledger, entry, part, batch))
    assert got == {
        "ledger_id": ledger,
        "entry_id": entry,
        "partition": part,
        "batch_index": batch,
    }


def _leb128_decode(data: bytes) -> int:
    """Protobuf base-128 varint decoder: little-endian 7-bit groups, high
    bit set on every byte but the last."""
    value = 0
    for i, b in enumerate(data):
        value |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            assert i == len(data) - 1, "bytes after the final group"
            return value
    raise AssertionError("varint has no final group")


@given(msgid_strategy)
@settings(max_examples=50, deadline=None)
def test_pulsar_varint_matches_protobuf_encoding(ids):
    """The Pulsar MessageIdData codec's varint writes the protobuf
    encoding: the spec's known vectors, and a LEB128 decode round-trips
    every non-negative id."""
    from milvus_cdc_spark.sources.pulsar import _varint as pulsar_varint

    known = {
        0: "00", 1: "01", 127: "7f", 128: "8001", 300: "ac02",
        2**63 - 1: "ffffffffffffffff7f",
    }
    for v, hexed in known.items():
        assert pulsar_varint(v).hex() == hexed
    for v in ids:
        if v >= 0:
            assert _leb128_decode(pulsar_varint(v)) == v


# ---------------------------------------------------------------------------
# Round-7: T7 pause/resume/seek under crash — the reference's
# tests/testcases/test_cdc_pause.py / test_cdc_resume.py compressed into
# property form. A random multi-collection op-log is driven through the
# CONTROL PLANE (TaskRegistry create/start), the pipeline is killed at a
# random microbatch boundary, the task is paused with the failure reason
# and resumed from its stored checkpoint; optionally the task is created
# with a custom UseStartPosition seek. The final alive() state must equal
# the single-pass interpreter over the (seek-filtered) log, exactly once —
# no lost batches, no double-applied batches. Each example interleaves
# ~10 collections' logs, so 12 examples ≈ 120 generated logs with random
# kill points.
# ---------------------------------------------------------------------------


class _KillPoint(RuntimeError):
    pass


@given(
    cdc_ops_strategy,
    st.integers(min_value=1, max_value=4),   # file split
    st.integers(min_value=0, max_value=3),   # kill at batch boundary k
    st.one_of(st.none(), st.integers(min_value=0, max_value=8)),  # seek ts
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_pause_resume_seek_matches_interpreter(spark, ops, n_files, kill_at, seek_ts):
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from milvus_cdc_spark.control.tasks import TaskRegistry
    from milvus_cdc_spark.streaming.pipeline import CdcApplyPipeline

    src = tempfile.mkdtemp(prefix="t7_src_")
    root = tempfile.mkdtemp(prefix="t7_reg_")
    rows = [
        {
            "ts": ts, "op_type": op, "db": "default",
            "collection": f"c{coll}", "partition": f"p{part}",
            "vchannel": f"ch_{pk % 2}", "pk": pk, "num_rows": 1, "seq": i,
        }
        for i, (ts, op, coll, part, pk) in enumerate(ops)
    ]
    schema = pa.schema(
        [
            ("ts", pa.int64()), ("op_type", pa.string()), ("db", pa.string()),
            ("collection", pa.string()), ("partition", pa.string()),
            ("vchannel", pa.string()), ("pk", pa.int64()),
            ("num_rows", pa.int64()), ("seq", pa.int64()),
        ]
    )
    per = max(1, len(rows) // n_files)
    for f_idx in range(0, len(rows), per):
        pq.write_table(
            pa.Table.from_pylist(rows[f_idx:f_idx + per], schema=schema),
            f"{src}/part-{f_idx:05d}.parquet",
        )

    registry = TaskRegistry(spark, root)
    start_positions = (
        {"c0": {"ch_0": seek_ts}} if seek_ts is not None else None
    )
    spec = registry.create(src, start_positions=start_positions)

    # a pipeline that dies at a randomly chosen batch boundary, once
    class KillingPipeline(CdcApplyPipeline):
        armed = True
        seen = 0

        def apply_batch(self, batch, batch_id):
            if KillingPipeline.armed and KillingPipeline.seen == kill_at:
                KillingPipeline.armed = False
                raise _KillPoint(f"injected kill before batch {batch_id}")
            KillingPipeline.seen += 1
            super().apply_batch(batch, batch_id)

    registry.pipelines[spec.task_id] = KillingPipeline(
        spark, src, spec.work_dir,
        start_positions=spec.start_positions or None,
    )
    try:
        registry.start(spec.task_id)
    except Exception:
        # T10 surface: the failure is recorded; operator pauses + resumes
        registry.pause(spec.task_id, reason="injected kill")
        assert registry.quarantines[spec.task_id].last_reason != ""
        registry.resume(spec.task_id)  # restart from checkpoint (T7)
    assert registry.get(spec.task_id)["state"] == "running"

    pipe = registry.pipelines[spec.task_id]
    got = {
        (r.collection, r.pk): (r.last_insert_ts, r.n_inserts, r.partition)
        for r in pipe.alive().collect()
    }
    # interpreter over the seek-filtered log: ops AT or BEFORE the seek
    # position on (c0, ch_0) were consumed upstream
    kept = [
        (ts, op, coll, part, pk)
        for ts, op, coll, part, pk in ops
        if not (
            seek_ts is not None and coll == 0 and pk % 2 == 0 and ts <= seek_ts
        )
    ]
    assert got == _python_cdc_state(kept)


@given(
    cdc_ops_strategy,
    st.integers(min_value=1, max_value=4),   # file split
    st.integers(min_value=0, max_value=3),   # kill at commit of batch k
    st.booleans(),                           # mirror
)
# the mirror arm, pinned: five files make two batches, the crash hits
# batch 0's commit, and batch 1 regresses below batch 0's max ts
@example(
    ops=[(3, "insert", 0, 0, 1), (5, "insert", 0, 0, 2), (2, "delete", 0, 0, 1),
         (6, "insert", 1, 0, 3), (1, "insert", 1, 1, 4), (4, "upsert", 0, 1, 0),
         (7, "insert", 0, 0, 3), (8, "delete", 1, 0, 3), (2, "insert", 0, 1, 2),
         (1, "insert", 1, 0, 1)],
    n_files=4, kill_at=0, mirror=True,
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_crash_at_commit_point_replays_idempotently(spark, ops, n_files, kill_at, mirror):
    """The strongest crash point: batch k's state writes ALL landed on
    disk, but the manifest rename — the commit — never happened. The
    durable truth says the batch never ran, so the resume must replay it
    over its own orphaned files (batch_id-keyed overwrites), and the final
    state must still equal the single-pass interpreter — no double-counted
    n_inserts, no phantom drops — and the positions must be each
    vchannel's max ts and op count, with no batch's n_msgs counted
    twice. With the mirror on, every mirror/batch_id=N equals an
    uninterrupted run's: the replay is rebased over the committed channel
    max, not over its own."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from milvus_cdc_spark.streaming.pipeline import CdcApplyPipeline

    src = tempfile.mkdtemp(prefix="commit_crash_src_")
    work = tempfile.mkdtemp(prefix="commit_crash_work_")
    rows = [
        {
            "ts": ts, "op_type": op, "db": "default",
            "collection": f"c{coll}", "partition": f"p{part}",
            "vchannel": f"ch_{pk % 2}", "pk": pk, "num_rows": 1, "seq": i,
        }
        for i, (ts, op, coll, part, pk) in enumerate(ops)
    ]
    schema = pa.schema(
        [
            ("ts", pa.int64()), ("op_type", pa.string()), ("db", pa.string()),
            ("collection", pa.string()), ("partition", pa.string()),
            ("vchannel", pa.string()), ("pk", pa.int64()),
            ("num_rows", pa.int64()), ("seq", pa.int64()),
        ]
    )
    per = max(1, len(rows) // n_files)
    for f_idx in range(0, len(rows), per):
        pq.write_table(
            pa.Table.from_pylist(rows[f_idx:f_idx + per], schema=schema),
            f"{src}/part-{f_idx:05d}.parquet",
        )

    class CommitCrashPipeline(CdcApplyPipeline):
        armed = True
        committed = 0

        def _commit_manifest(self):
            if (
                CommitCrashPipeline.armed
                and CommitCrashPipeline.committed == kill_at
            ):
                CommitCrashPipeline.armed = False
                raise OSError("injected crash at the commit point")
            CommitCrashPipeline.committed += 1
            super()._commit_manifest()

    pipe = CommitCrashPipeline(spark, src, work, n_buckets=4, mirror=mirror)
    try:
        pipe.run_available_now()
    except Exception:
        pass  # the kill fired (it may not, if there are < kill_at batches)
    # resume: fresh process over the same work dir + checkpoint
    pipe2 = CdcApplyPipeline(spark, src, work, n_buckets=4, mirror=mirror)
    pipe2.run_available_now()
    got = {
        (r.collection, r.pk): (r.last_insert_ts, r.n_inserts, r.partition)
        for r in pipe2.alive().collect()
    }
    assert got == _python_cdc_state(ops)
    want_pos: dict = {}
    for ts, _op, _coll, _part, pk in ops:
        mx, n = want_pos.get(f"ch_{pk % 2}", (-1, 0))
        want_pos[f"ch_{pk % 2}"] = (max(mx, ts), n + 1)
    assert {r.vchannel: r.position_ts for r in pipe2.positions().collect()} == {
        v: mx for v, (mx, _) in want_pos.items()
    }
    assert pipe2._manifest["positions"] == [
        [v, mx, n] for v, (mx, n) in sorted(want_pos.items())
    ]
    # a replayed batch's record is committed once: the records' op counts
    # sum to the op count (history_keep retains every batch here)
    from milvus_cdc_spark.streaming.pipeline import batch_records

    records = batch_records(pipe2.manifest)
    assert len(records) == pipe2.last_batch_id + 1
    assert sum(n for h in records for n in h["ops"].values()) == len(ops)
    if mirror:
        clean = CdcApplyPipeline(
            spark, src, tempfile.mkdtemp(prefix="commit_crash_clean_"),
            n_buckets=4, mirror=True,
        )
        clean.run_available_now()

        def mirror_rows(p):
            return sorted(
                (r.batch_id, r.seq, r.repaired_ts)
                for r in spark.read.parquet(p.mirror_dir).collect()
            )

        assert mirror_rows(pipe2) == mirror_rows(clean)
        assert pipe2.manifest["channel_max"] == clean.manifest["channel_max"]

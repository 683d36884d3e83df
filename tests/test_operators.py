"""Unit tests for operator modules on tiny in-memory frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milvus_cdc_spark import cache_registry
from milvus_cdc_spark.operators import apply as apply_op
from milvus_cdc_spark.operators import barriers, filters, joins, windows


def _ops(spark, rows):
    return spark.createDataFrame(
        rows, "ts bigint, op_type string, collection string, pk bigint, num_rows bigint"
    )


def test_replay_alive_insert_then_delete(spark):
    ops = _ops(
        spark,
        [
            (1, "insert", "c", 1, 1),
            (2, "delete", "c", 1, 1),  # delete after insert → dead
            (3, "insert", "c", 2, 1),
            (2, "delete", "c", 2, 1),  # delete before insert → alive
            (5, "insert", "c", 3, 1),  # never deleted → alive
            (6, "delete", "c", 4, 1),  # delete without insert → not alive
        ],
    )
    alive = {r.pk for r in apply_op.replay_alive(ops).collect()}
    assert alive == {2, 3}


def test_replay_tie_insert_wins(spark):
    # data_diff semantics: max(ins) >= max(del) → alive on equal ts
    ops = _ops(spark, [(5, "insert", "c", 1, 1), (5, "delete", "c", 1, 1)])
    assert {r.pk for r in apply_op.replay_alive(ops).collect()} == {1}


def test_replay_bulk_drops_scope_and_reinsert(spark):
    """DropPartition/DropCollection in the data path
    (channel_writer.go:245-267): a drop erases its scope as of its ts;
    re-inserts after the drop survive (collection recreate); other
    partitions/collections are untouched; tie ts → insert wins."""
    rows = [
        # (ts, op_type, collection, partition, pk)
        (1, "insert", "c1", "p0", 1),   # c1.p0 untouched by p1 drop → alive
        (1, "insert", "c1", "p1", 2),   # killed by partition drop @5
        (6, "insert", "c1", "p1", 3),   # re-insert after drop → alive
        (5, "insert", "c1", "p1", 4),   # tie with drop ts → alive (>=)
        (2, "insert", "c2", "p0", 5),   # killed by collection drop @7
        (8, "upsert", "c2", "p0", 6),   # insert-like after drop → alive
        (3, "insert", "c3", "p0", 7),   # other collection → alive
        (9, "delete", "c1", "p1", 3),   # pk delete still applies → dead
        (5, "drop_partition", "c1", "p1", None),
        (7, "drop_collection", "c2", None, None),
    ]
    ops = spark.createDataFrame(
        rows,
        "ts bigint, op_type string, collection string, partition string, "
        "pk bigint",
    ).withColumn("num_rows", F.lit(1).cast("bigint"))
    alive = {r.pk for r in apply_op.replay_alive_with_drops(ops).collect()}
    assert alive == {1, 4, 6, 7}


def test_replay_terms_within_equals_prefiltered_replay(spark):
    """Gating the replay terms by ``within`` replays exactly the ops a
    pre-filter keeps: the consistency reads' cutoff columns equal a
    replay of the op-log cut at the same ts, upsert/import included."""
    ops = _ops(
        spark,
        [
            (1, "insert", "c", 1, 2),
            (4, "delete", "c", 1, 1),   # past the cutoff: pk1 stays alive
            (2, "upsert", "c", 2, 3),
            (3, "delete", "c", 2, 1),   # inside: pk2 dead
            (3, "import", "c", 3, 4),
            (3, "delete", "c", 3, 1),   # tie at the cutoff: insert wins
            (5, "insert", "c", 4, 1),   # past the cutoff: pk4 unseen
        ],
    )
    within = F.col("ts") <= F.lit(3)
    ins, dele, rows = apply_op.replay_terms(within)
    gated = {
        (r.pk, r.last_insert_ts, r.n_inserts)
        for r in ops.groupBy("collection", "pk")
        .agg(
            F.max(ins).alias("last_insert_ts"),
            F.max(dele).alias("last_delete_ts"),
            F.sum(rows).alias("n_inserts"),
        )
        .filter(apply_op.is_alive())
        .collect()
    }
    cut = {
        (r.pk, r.last_insert_ts, r.n_inserts)
        for r in apply_op.replay_alive(ops.filter(within)).collect()
    }
    assert gated == cut == {(1, 1, 2), (3, 3, 4)}


def test_drop_cutoff_insert_at_drop_ts_wins(spark):
    """``drop_cutoff`` on per-pk state: an insert at exactly its
    partition's or collection's drop ts survives, one tick earlier is
    erased, and a pk delete still applies beside the drop dims."""
    state = spark.createDataFrame(
        [
            ("c1", "p1", 1, 5, None),   # at the partition drop ts → alive
            ("c1", "p1", 2, 4, None),   # before it → dropped
            ("c1", "p0", 3, 1, None),   # other partition → alive
            ("c2", "p0", 4, 7, None),   # at the collection drop ts → alive
            ("c2", "p0", 5, 6, None),   # before it → dropped
            ("c3", "p0", 6, 2, 3),      # pk delete after insert → dead
            ("c3", "p0", 7, None, 1),   # delete only → not alive
        ],
        "collection string, partition string, pk bigint, "
        "last_insert_ts bigint, last_delete_ts bigint",
    )
    part_drops = spark.createDataFrame(
        [("c1", "p1", 5)], "collection string, partition string, _part_drop_ts bigint"
    )
    coll_drops = spark.createDataFrame(
        [("c2", 7)], "collection string, _coll_drop_ts bigint"
    )
    out = apply_op.drop_cutoff(state, part_drops, coll_drops)
    assert sorted(out.columns) == sorted(state.columns)
    assert {r.pk for r in out.collect()} == {1, 3, 4}


def test_barrier_fires_only_on_all_channels(spark):
    drops = spark.createDataFrame(
        [(1, "ch_0"), (1, "ch_1"), (2, "ch_0"), (1, "ch_0")],
        "object_id bigint, vchannel string",
    )
    res = {
        r.object_id: (r.n_ready, r.is_ready)
        for r in barriers.barrier_status(drops, ["object_id"], expected=2).collect()
    }
    assert res[1] == (2, True)
    assert res[2] == (1, False)


def test_collection_filter_wildcard_and_exclude(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "collection string")
    all_pred = filters.collection_filter_predicate(["*"], ["b"])
    assert {r.collection for r in df.filter(all_pred).collect()} == {"a", "c"}
    inc_pred = filters.collection_filter_predicate(["a", "b"])
    assert {r.collection for r in df.filter(inc_pred).collect()} == {"a", "b"}


def test_latest_version_dedupe(spark):
    df = spark.createDataFrame(
        [("db", "coll", 1, 10), ("db", "coll", 2, 20), ("db", "other", 3, 5)],
        "db string, name string, id bigint, create_time bigint",
    )
    out = windows.top_k(
        df, ["db", "name"], [F.col("create_time").desc()], 1, rank=None
    )
    assert {r.id for r in out.collect()} == {2, 3}


def _scores(spark):
    # key 1 ties at 0.9 three ways; key 2 has fewer than k rows
    return spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.9), (1, 12, 0.9), (1, 13, 0.5), (2, 20, 0.7)],
        "qid int, nid int, s double",
    )


def test_top_k_ties_return_exactly_k_in_tiebreak_order(spark):
    order = [F.col("s").desc(), F.col("nid").asc()]
    out = windows.top_k(_scores(spark), "qid", order, 2).orderBy("qid", "rank")
    assert [tuple(r) for r in out.collect()] == [
        (1, 10, 0.9, 1), (1, 11, 0.9, 2), (2, 20, 0.7, 1),
    ]


def test_top_k_rank_none_drops_the_column(spark):
    out = windows.top_k(_scores(spark), "qid", [F.col("s").desc(), "nid"], 1, rank=None)
    assert out.columns == ["qid", "nid", "s"]
    named = windows.top_k(_scores(spark), "qid", ["nid"], 1, rank="rn")
    assert named.columns == ["qid", "nid", "s", "rn"]


def test_top_k_multi_column_by(spark):
    df = spark.createDataFrame(
        [(1, "a", 3), (1, "a", 1), (1, "b", 2), (2, "a", 5), (2, "a", 4)],
        "g int, h string, v int",
    )
    out = windows.top_k(df, ["g", "h"], ["v"], 1, rank=None)
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a", 1), (1, "b", 2), (2, "a", 4),
    ]


def test_top_k_1_equals_group_max_pick(spark):
    df = _scores(spark)
    order = [F.col("s").desc(), F.col("nid").asc()]
    got = windows.top_k(df, "qid", order, 1, rank=None)
    best = df.groupBy("qid").agg(F.max("s").alias("s"))
    ref = df.join(best, ["qid", "s"]).groupBy("qid", "s").agg(F.min("nid").alias("nid"))
    assert sorted(tuple(r) for r in got.select("qid", "nid", "s").collect()) == sorted(
        tuple(r) for r in ref.select("qid", "nid", "s").collect()
    )


def test_top_k_plans_a_window_group_limit(spark):
    """The cut is in the form Catalyst pushes below the exchange: a
    ``WindowGroupLimit`` keeps k rows per group before the shuffle."""
    out = windows.top_k(_scores(spark), "qid", [F.col("s").desc(), "nid"], 2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_monotonic_rebase_preserves_order(spark):
    df = spark.createDataFrame(
        [("ch", 100, 1000), ("ch", 50, 1000), ("ch", 75, 1000), ("ch", 50, 1000)],
        "vchannel string, ts bigint, base bigint",
    )
    out = windows.monotonic_rebase(df, ["vchannel"], "ts", "base").collect()
    by_ts = {r.ts: r.rebased_ts for r in out}
    assert by_ts[50] == 1001  # dense_rank 1
    assert by_ts[75] == 1002
    assert by_ts[100] == 1003
    assert all(r.rebased_ts > r.base for r in out)


def test_rank_zip_join_aligns_by_rank(spark):
    left = spark.createDataFrame([("k", "l1"), ("k", "l2")], "part string, lval string")
    right = spark.createDataFrame([("k", "r1"), ("k", "r2")], "part string, rval string")
    out = joins.rank_zip_join(left, right, "part", "lval", "rval").collect()
    pairs = {(r.lval, r.rval) for r in out}
    assert pairs == {("l1", "r1"), ("l2", "r2")}


def test_lifetime_asof_join(spark):
    events = spark.createDataFrame(
        [(1, 5), (1, 15), (2, 5)], "obj bigint, ts bigint"
    ).withColumnRenamed("obj", "key")
    lifetimes = spark.createDataFrame(
        [(1, 0, 10), (2, 0, None)], "key bigint, create_ts bigint, drop_ts bigint"
    )
    out = joins.lifetime_asof_join(events, lifetimes, "key")
    kept = {(r["e.key"] if "e.key" in r else r.key, r.ts) for r in out.select("e.key", "ts").collect()}
    assert kept == {(1, 5), (2, 5)}  # (1,15) dropped: after drop_ts


def test_resize_media_plumbing(spark):
    """Resize stub: deterministic stride-sampling to width*height bytes,
    schema and row-per-row contract."""
    from milvus_cdc_spark.analytics import multimodal

    df = spark.createDataFrame(
        [(1, "image/fake", bytes(range(200))), (2, "image/fake", b"xy")],
        "doc_id bigint, media_type string, payload binary",
    )
    out = {r.doc_id: r for r in multimodal.resize_media(df, 8, 8).collect()}
    assert out[1].width == 8 and out[1].height == 8
    assert len(out[1].payload) == 64  # 200 bytes, stride 3 -> 67, capped 64
    assert len(out[2].payload) == 2   # smaller than target: kept whole
    assert bytes(out[1].payload)[:3] == bytes([0, 3, 6])  # stride sampling


def test_fp16_bf16_codec_roundtrip(spark):
    """Float16/BFloat16 stored as binary + codec UDFs (SURVEY §1.3):
    roundtrip honors each format's documented precision contract."""
    import numpy as np

    from milvus_cdc_spark.functions import vector as vecf
    from pyspark.sql import functions as F

    vals = [[0.5, -1.25, 3.14159, 65504.0, 1e-4]]
    df = spark.createDataFrame([(1, vals[0])], "id bigint, v array<float>")
    out = df.select(
        "id",
        vecf.fp16_decode(vecf.fp16_encode(F.col("v"))).alias("h"),
        vecf.bf16_decode(vecf.bf16_encode(F.col("v"))).alias("b"),
    ).collect()[0]
    want_h = np.asarray(vals[0], dtype=np.float16).astype(np.float32)
    assert np.allclose(out.h, want_h, rtol=0, atol=0)  # exact: same cast
    # bfloat16 keeps 8 mantissa bits -> rel error <= 2^-8
    got_b = np.asarray(out.b)
    assert np.allclose(got_b, np.asarray(vals[0]), rtol=2 ** -8)


def test_bf16_encode_nan_inf_and_rounding(spark):
    """bf16 round-to-nearest-even with NaN/Inf guard: specials survive the
    codec (a blind +0x8000 carry wrapped NaN payloads to ±0), ties round
    to even, and overflow saturates to inf like hardware bf16."""
    import math

    import numpy as np

    from milvus_cdc_spark.functions import vector as vecf
    from pyspark.sql import functions as F

    vals = [
        float("nan"), float("inf"), float("-inf"),
        1.0, -1.0, 0.0,
        3.4028235e38,        # float32 max: rounds up to inf in bf16
        1.0078125,           # 1 + 2^-7: exactly representable, kept
        1.00390625,          # 1 + 2^-8: tie, kept lsb 0 -> down to 1.0
        1.01171875,          # 1 + 2^-7 + 2^-8: tie, lsb 1 -> up to 1+2^-6
    ]
    df = spark.createDataFrame([(1, vals)], "id bigint, v array<float>")
    out = df.select(
        vecf.bf16_decode(vecf.bf16_encode(F.col("v"))).alias("b")
    ).collect()[0].b
    assert math.isnan(out[0])
    assert out[1] == float("inf") and out[2] == float("-inf")
    assert out[3] == 1.0 and out[4] == -1.0 and out[5] == 0.0
    assert out[6] == float("inf")
    assert out[7] == 1.0078125
    assert out[8] == 1.0                      # tie to even (mantissa lsb 0)
    assert out[9] == 1.015625                 # tie to even (lsb 1 -> up)
    # pure-numpy cross-check of round-to-nearest-even truncation
    u32 = np.asarray(vals, dtype=np.float32).view(np.uint32)
    spec = (u32 & 0x7F800000) == 0x7F800000
    want = np.where(spec, u32, u32 + 0x7FFF + ((u32 >> 16) & 1)) >> 16
    got = np.frombuffer(
        np.asarray(out, dtype=np.float32).tobytes(), dtype=np.uint32
    ) >> 16
    finite = [i for i, v in enumerate(vals) if not (math.isnan(v) or math.isinf(v))]
    assert (got[finite] == want[finite]).all()


def test_parallelize_expansion_spreads_single_split_only(spark, sf_dir):
    """The crossJoin-scorer input (``brute_force_topk``'s unkeyed
    ``widen_small_scan(corpus)``) spreads round-robin to
    defaultParallelism when its scan is under-split (the local
    single-file case), passes through UNTOUCHED when already at/above it
    (the at-scale case), and never changes the row multiset."""
    from milvus_cdc_spark.catalog import load_table
    from milvus_cdc_spark.partitioning import widen_small_scan

    target = spark.sparkContext.defaultParallelism
    emb = load_table(spark, sf_dir, "embeddings")
    if emb.rdd.getNumPartitions() >= target:
        # On a low-core runner (defaultParallelism near 1) a single-split
        # scan already meets the target and the expansion case can't be
        # exercised — environment, not code under test.
        pytest.skip("scan already at defaultParallelism; nothing to expand")
    out = widen_small_scan(emb)
    assert out.rdd.getNumPartitions() == target
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.vec_id for r in out.select("vec_id").collect()) == sorted(
        r.vec_id for r in emb.select("vec_id").collect()
    )
    wide = emb.repartition(target)
    assert widen_small_scan(wide) is wide


def _pairs_fixture(spark):
    corpus = spark.createDataFrame(
        [(0, "a", 1.0), (1, "a", 2.0), (2, "b", 3.0), (3, "b", 4.0)],
        "vec_id bigint, bucket string, x double",
    )
    queries = corpus.filter(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("query_id"), "bucket", F.col("x").alias("qx")
    )
    return corpus, queries


def test_search_pairs_drops_self_and_broadcasts_queries(spark):
    from milvus_cdc_spark.analytics import similarity

    corpus, queries = _pairs_fixture(spark)
    pairs = similarity.search_pairs(
        corpus, queries.drop("bucket"), (F.col("x") * F.col("qx")).alias("p")
    )
    assert pairs.columns == ["query_id", "neighbor_id", "p"]
    got = sorted(tuple(r) for r in pairs.collect())
    want = sorted(
        (q, n, float((n + 1) * (q + 1)))
        for q in (0, 2) for n in range(4) if n != q
    )
    assert got == want
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan


def test_search_pairs_on_keeps_candidates_in_their_key(spark):
    from milvus_cdc_spark.analytics import similarity

    corpus, queries = _pairs_fixture(spark)
    pairs = similarity.search_pairs(corpus, queries, "bucket", on="bucket")
    assert sorted(tuple(r) for r in pairs.collect()) == [
        (0, 1, "a"), (2, 3, "b"),
    ]
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "BroadcastExchange" in plan
    # ``where`` and an id column already named neighbor_id
    fenced = similarity.search_pairs(
        corpus.withColumnRenamed("vec_id", "neighbor_id"),
        queries.drop("bucket"),
        id_col="neighbor_id",
        where=F.col("x") > F.col("qx") + 1.0,
    )
    assert fenced.columns == ["query_id", "neighbor_id"]
    assert sorted(tuple(r) for r in fenced.collect()) == [(0, 2), (0, 3)]


def test_recall_at_k_zero_for_a_query_without_hits(spark):
    from milvus_cdc_spark.analytics import similarity

    schema = "query_id bigint, neighbor_id bigint"
    exact = spark.createDataFrame([(0, 1), (0, 2), (0, 3), (5, 6), (5, 7)], schema)
    approx = spark.createDataFrame([(0, 1), (0, 3), (0, 9), (5, 8)], schema)
    out = similarity.recall_at_k(exact, approx)
    assert out.columns == ["query_id", "n_hits", "recall"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, 2, 0.666667), (5, 0, 0.0),
    ]


def test_multiprobe_recall_dominates_single_bucket(spark, sf_dir):
    """The recall/cost dial is real: multi-probe recall@3 >= single-bucket
    recall@3 on every query, and strictly better in aggregate here."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    single = similarity.recall_at_k(exact, similarity.bucketed_topk(emb, queries, k=3))
    multi = similarity.recall_at_k(exact, similarity.multiprobe_topk(emb, queries, k=3))
    s = {r.query_id: r.recall for r in single.collect()}
    m = {r.query_id: r.recall for r in multi.collect()}
    assert set(s) == set(m)
    assert all(m[q] >= s[q] for q in s)
    assert sum(m.values()) > sum(s.values())


def test_sq8_codec_bounds_and_accuracy(spark):
    """SQ8 quantization: codes are 0..255, round-trip error is bounded by
    half a step (range/255/2 per component), and constant vectors survive
    the range floor."""
    from milvus_cdc_spark.functions.vector import sq8_dequantize, sq8_quantize

    df = spark.createDataFrame(
        [(1, [0.5, -1.5, 3.25, 0.0]), (2, [2.0, 2.0, 2.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = df.select(
        "vec_id",
        F.col("embedding").alias("orig"),
        sq8_quantize(F.col("embedding")).alias("q"),
    ).select(
        "vec_id", "orig", "q.codes", "q.rng", sq8_dequantize(F.col("q")).alias("deq")
    )
    rows = {r.vec_id: r for r in out.collect()}
    r1 = rows[1]
    assert all(0 <= c <= 255 for c in r1.codes)
    step = r1.rng / 255.0
    assert all(abs(a - b) <= step / 2 + 1e-12 for a, b in zip(r1.orig, r1.deq))
    # constant vector: rng floors at 1e-12, codes all 0, dequant == input
    r2 = rows[2]
    assert all(c == 0 for c in r2.codes)
    assert all(abs(a - b) < 1e-9 for a, b in zip(r2.orig, r2.deq))


def test_packed_binary_words_and_metrics(spark):
    """Multi-word BinaryVector packing: words match hand-computed sign
    bits; Hamming over words == bit-level disagreement count; Jaccard
    distance == 1 - |and|/|or| with the all-zero convention."""
    from milvus_cdc_spark.functions import vector as vecf

    a = [1.0, -1.0, 2.0, -3.0] * 16          # 64 dims: + - + - ...
    b = [1.0] * 64                            # all positive
    z = [-1.0] * 64                           # all negative (words = 0)
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, z)], "id bigint, v array<float>"
    )
    sig = df.select(
        "id", vecf.sign_words_i64(F.col("v"), 64, 32).alias("w")
    )
    rows = {r.id: list(r.w) for r in sig.collect()}
    # a: bits 0,2 set per 4-dim block -> 0b0101 repeating = 0x55555555
    assert rows[1] == [0x55555555, 0x55555555]
    assert rows[2] == [0xFFFFFFFF, 0xFFFFFFFF]
    assert rows[3] == [0, 0]

    pairs = sig.alias("x").crossJoin(sig.alias("y")).select(
        F.col("x.id").alias("xi"),
        F.col("y.id").alias("yi"),
        vecf.hamming_words(F.col("x.w"), F.col("y.w")).alias("ham"),
        F.round(vecf.jaccard_words(F.col("x.w"), F.col("y.w")), 6).alias("jac"),
    )
    got = {(r.xi, r.yi): (r.ham, r.jac) for r in pairs.collect()}
    assert got[(1, 1)] == (0, 0.0)
    assert got[(1, 2)] == (32, round(1 - 32 / 64, 6))  # half the bits differ
    assert got[(2, 3)] == (64, 1.0)                    # disjoint sets
    assert got[(3, 3)] == (0, 0.0)                     # all-zero convention


def test_metric_topk_semantics(spark):
    """metric_type parity: IP ranks by raw dot (not normalized), L2 ranks
    ascending by SQUARED distance (Milvus contract), cosine matches the
    existing brute-force path."""
    from milvus_cdc_spark.analytics import similarity

    # q=[1,0]; big vector wins IP but loses cosine/L2 to the near-unit one
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [10.0, 10.0]),   # dot=10, l2sq=181, cos~.707
            (2, [0.9, 0.1]),     # dot=0.9, l2sq=0.02, cos~.994
        ],
        "vec_id bigint, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") == 0)
    ip = similarity.metric_topk(df, queries, metric="ip", k=2).collect()
    assert [r.neighbor_id for r in sorted(ip, key=lambda r: r.rank)] == [1, 2]
    l2 = similarity.metric_topk(df, queries, metric="l2", k=2).collect()
    assert [r.neighbor_id for r in sorted(l2, key=lambda r: r.rank)] == [2, 1]
    assert abs(sorted(l2, key=lambda r: r.rank)[0].distance - 0.02) < 1e-6
    cos = similarity.metric_topk(df, queries, metric="cosine", k=2)
    bf = similarity.brute_force_topk(df, queries, k=2)
    assert sorted(map(tuple, cos.collect())) == sorted(map(tuple, bf.collect()))


def test_consistency_levels_ordering_and_cutoffs(spark):
    """Strong sees everything; Eventually stops at the channel-safe
    watermark (min over vchannels of max ts); Bounded trails Strong by
    the 5 s graceful window. A pk inserted past the watermark is visible
    at Strong but not at Eventually."""
    from milvus_cdc_spark.operators import consistency

    S = consistency.BOUNDED_GRACEFUL_MS << consistency.TSO_SHIFT
    base = 10 * S  # keep bounded cutoff positive
    ops = spark.createDataFrame(
        [
            # ch_a is far ahead; ch_b's max defines the watermark
            (base + 3 * S, "insert", "c", "p_new", "ch_a", 1),
            (base + 0, "insert", "c", "p_old", "ch_a", 1),
            (base + 1, "insert", "c", "p_b", "ch_b", 1),
        ],
        "ts bigint, op_type string, collection string, pk string, "
        "vchannel string, num_rows bigint",
    )
    levels = {
        r.level: r.guarantee_ts
        for r in consistency.guarantee_ts_levels(ops).collect()
    }
    assert levels["1_strong"] == base + 3 * S
    assert levels["2_bounded"] == base + 2 * S
    assert levels["3_eventually"] == base + 1  # ch_b max
    got = {
        (r.level, r.collection): r.alive_pks
        for r in consistency.read_at_levels(ops).collect()
    }
    assert got[("1_strong", "c")] == 3
    assert got[("2_bounded", "c")] == 2   # p_new past the bounded cutoff
    assert got[("3_eventually", "c")] == 2


def test_ttl_visible_split_and_no_ttl(spark):
    """TTL 0 (or missing property) never expires; a finite TTL hides pks
    whose last insert is older than now − ttl."""
    from milvus_cdc_spark.operators import consistency

    day_ms = 86_400_000
    mk_ts = lambda d: d * day_ms << consistency.TSO_SHIFT
    alive = spark.createDataFrame(
        [
            ("a", "p1", mk_ts(100), 1),   # now
            ("a", "p2", mk_ts(1), 1),     # ancient -> expired under 1-day ttl
            ("b", "p3", mk_ts(1), 1),     # no props row -> never expires
        ],
        "collection string, pk string, last_insert_ts bigint, n_inserts bigint",
    )
    props = spark.createDataFrame(
        [("a", 86_400)], "collection string, ttl_seconds bigint"
    )
    got = {
        r.collection: (r.visible_pks, r.expired_pks)
        for r in consistency.ttl_visible(alive, props).collect()
    }
    assert got["a"] == (1, 1)
    assert got["b"] == (1, 0)


def test_text_and_phrase_match_semantics(spark):
    """text_match = AND of terms; phrase_match requires adjacency and
    generalizes to 3+ word phrases; punctuation splits tokens."""
    from milvus_cdc_spark.analytics import textrank

    docs = spark.createDataFrame(
        [
            (1, "quick brown fox jumps"),
            (2, "brown quick fox naps"),      # has both words, wrong order
            (3, "the QUICK, brown-fox!"),     # case/punct: still a phrase
            (4, "quick only here"),
        ],
        "doc_id bigint, text string",
    )
    tm = sorted(
        r.doc_id for r in textrank.text_match_all(docs, ["quick", "fox"]).collect()
    )
    assert tm == [1, 2, 3]
    pm2 = sorted(
        r.doc_id for r in textrank.phrase_match(docs, ["quick", "brown"]).collect()
    )
    assert pm2 == [1, 3]
    pm3 = sorted(
        r.doc_id
        for r in textrank.phrase_match(docs, ["quick", "brown", "fox"]).collect()
    )
    assert pm3 == [1, 3]
    assert textrank.text_match_all(docs, ["quick", "absent"]).count() == 0


def test_text_match_with_english_analyzer(spark):
    """analyzer parity on the match surface: with analyzer='english'
    both sides pass through stop-removal + plural folding, so the
    singular query 'glass' matches documents containing 'glasses', and
    stopwords never count as required terms; phrase adjacency holds
    across a dropped stopword on both sides."""
    from milvus_cdc_spark.analytics import textrank

    docs = spark.createDataFrame(
        [
            (1, "the glasses of winter"),
            (2, "a glass house"),
            (3, "no lenses here"),
            (4, "winter Glass festival"),
        ],
        "doc_id bigint, text string",
    )
    tm = sorted(
        r.doc_id
        for r in textrank.text_match_all(
            docs, ["glass"], analyzer="english"
        ).collect()
    )
    assert tm == [1, 2, 4]
    # 'the' is a stopword: the effective query is just {glass, winter}
    tm2 = sorted(
        r.doc_id
        for r in textrank.text_match_all(
            docs, ["the glass", "winter"], analyzer="english"
        ).collect()
    )
    assert tm2 == [1, 4]
    # phrase 'glasses of winter' → analyzed [glass, winter]; doc 1's
    # tokens analyze to [glass, winter] — adjacency holds on both sides
    pm = sorted(
        r.doc_id
        for r in textrank.phrase_match(
            docs, ["glasses", "of", "winter"], analyzer="english"
        ).collect()
    )
    assert pm == [1]


def test_bm25_analyzer_mode(spark):
    """analyzer-aware BM25: english mode folds plurals on both sides, so
    a singular query scores documents containing only the plural; the
    default (None) keeps the legacy whitespace-lowercase contract and
    misses them."""
    from milvus_cdc_spark.analytics import textrank

    docs = spark.createDataFrame(
        [(1, "glasses glasses everywhere"), (2, "no match content")],
        "doc_id bigint, text string",
    )
    legacy = {r.doc_id for r in textrank.bm25_scores(docs, ["glass"]).collect()}
    assert legacy == set()
    en = {
        r.doc_id: r.bm25
        for r in textrank.bm25_scores(docs, ["glass"], analyzer="english").collect()
    }
    assert set(en) == {1} and en[1] > 0


def test_fulltext_index_equals_direct_bm25(spark):
    """The sparse posting index (Milvus 2.5 FTS shape: doc-side tf
    weights, query-time idf) must score EXACTLY like direct BM25 — the
    stored vectors are query-independent, so any term set agrees."""
    from milvus_cdc_spark.analytics.textrank import (
        bm25_index,
        bm25_scores,
        fulltext_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark streams join the batch world"),
            (2, "batch batch data pipelines"),
            (3, "vector search joins sparse data"),
            (4, "nothing relevant here"),
        ],
        "doc_id bigint, text string",
    )
    index = bm25_index(docs)
    for terms in (["batch"], ["data", "join"], ["sparse", "batch", "data"]):
        via_index = {
            r.doc_id: r.bm25 for r in fulltext_search(index, terms).collect()
        }
        direct = {
            r.doc_id: r.bm25 for r in bm25_scores(docs, terms).collect()
        }
        assert set(via_index) == set(direct)
        for d in direct:
            assert abs(via_index[d] - direct[d]) < 1e-9


def test_chunk_documents_windows_and_edges(spark):
    """Chunking: short doc -> one chunk; exact-boundary doc -> one chunk;
    longer doc -> overlapping windows with the stride's token overlap and
    a short tail; reconstruction covers every token in order."""
    from milvus_cdc_spark.analytics import corpus

    words = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [
            (1, "a b"),
            (2, " ".join(f"w{i}" for i in range(4))),   # == chunk size
            (3, " ".join(words)),                        # 10 tokens
        ],
        "doc_id bigint, text string",
    )
    out = corpus.chunk_documents(docs, chunk_tokens=4, overlap=2)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert sum(1 for k in rows if k[0] == 1) == 1 and rows[(1, 0)].n_tokens == 2
    assert sum(1 for k in rows if k[0] == 2) == 1 and rows[(2, 0)].n_tokens == 4
    # doc 3: stride 2 -> chunks at 0,2,4,6,8 -> 1+ceil(6/2)=4 chunks
    c3 = sorted(k[1] for k in rows if k[0] == 3)
    assert c3 == [0, 1, 2, 3]
    assert rows[(3, 0)].chunk_text == "w0 w1 w2 w3"
    assert rows[(3, 1)].chunk_text == "w2 w3 w4 w5"   # 2-token overlap
    assert rows[(3, 3)].chunk_text == "w6 w7 w8 w9"
    with pytest.raises(ValueError):
        corpus.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_stratified_sample_deterministic_and_defaulted(spark):
    """Sampling: rate 0 drops all, rate 1000 keeps all, unlisted strata
    default to keep-everything, and two runs agree row-for-row."""
    from milvus_cdc_spark.analytics import corpus

    docs = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)],
        "doc_id bigint, source string",
    )
    rates = spark.createDataFrame(
        [("a", 0)], "source string, rate_permille bigint"
    )
    kept = corpus.stratified_sample(docs, rates)
    got = {r.source for r in kept.select("source").distinct().collect()}
    assert got == {"b"}                      # a fully dropped, b defaulted
    assert kept.count() == 100
    half = spark.createDataFrame(
        [("a", 500), ("b", 500)], "source string, rate_permille bigint"
    )
    k1 = sorted(r.doc_id for r in corpus.stratified_sample(docs, half).collect())
    k2 = sorted(r.doc_id for r in corpus.stratified_sample(docs, half).collect())
    assert k1 == k2 and 0 < len(k1) < 200    # deterministic, non-trivial


def test_upsert_and_import_advance_liveness(spark):
    """Milvus Upsert / bulk Import count as inserts for replay liveness:
    an upsert after a delete resurrects the pk in both the batch replay
    (replay_alive) and the pipeline state collapse (batch_to_state)."""
    from milvus_cdc_spark.streaming.pipeline import batch_to_state

    ops = _ops(
        spark,
        [
            (10, "insert", "c", 1, 1),
            (20, "delete", "c", 1, 1),
            (30, "upsert", "c", 1, 1),
            (10, "import", "c", 2, 1),
            (15, "delete", "c", 3, 1),
        ],
    )
    alive = {r.pk for r in apply_op.replay_alive(ops).collect()}
    assert alive == {1, 2}
    st = {
        r.pk: r
        for r in batch_to_state(ops).filter(apply_op.is_alive()).collect()
    }
    assert set(st) == {1, 2}
    assert st[1].last_insert_ts == 30


def test_whitelist_forwards_every_insert_like_op(spark):
    """The P1 whitelist and the liveness predicate share INSERT_LIKE: no
    op the apply path counts can be dropped by the whitelist (the round-2
    defect: 'upsert' passed liveness but was filtered before apply)."""
    from milvus_cdc_spark.operators import filters

    assert set(filters.INSERT_LIKE) <= set(filters.DML_WHITELIST)
    ops = _ops(
        spark,
        [(1, "insert", "c", 1, 1), (2, "upsert", "c", 2, 1),
         (3, "import", "c", 3, 1), (4, "delete", "c", 1, 1),
         (5, "time_tick", "c", 0, 0)],
    )
    kept = {r.op_type for r in filters.msg_type_whitelist(ops).collect()}
    assert kept == {"insert", "upsert", "import", "delete"}


def test_strong_read_equals_full_replay_with_upsert_import(spark):
    """A Strong-consistency read (guarantee_ts = max ts) over an op-log
    containing upsert and import ops must equal a full replay_alive pass
    — the shared INSERT_LIKE contract across consistency + apply."""
    from milvus_cdc_spark.operators.consistency import read_at_levels

    rows = [
        # (ts, op_type, collection, vchannel, pk, num_rows)
        (10, "insert", "c1", "ch_0", 1, 1),
        (20, "delete", "c1", "ch_0", 1, 1),
        (30, "upsert", "c1", "ch_1", 1, 1),   # resurrects pk 1
        (10, "import", "c1", "ch_1", 2, 5),   # bulk load counts rows
        (15, "delete", "c2", "ch_0", 3, 1),
        (25, "upsert", "c2", "ch_1", 3, 1),   # alive via upsert only
        (40, "insert", "c2", "ch_0", 4, 1),
        (50, "delete", "c2", "ch_1", 4, 1),   # dead
    ]
    ops = spark.createDataFrame(
        rows,
        "ts bigint, op_type string, collection string, vchannel string, "
        "pk bigint, num_rows bigint",
    )
    strong = {
        r.collection: (r.alive_pks, r.total_inserts)
        for r in read_at_levels(ops).collect()
        if r.level == "1_strong"
    }
    replay = {
        r.collection: (r.alive_pks, r.total_inserts)
        for r in apply_op.replay_summary(ops).collect()
    }
    assert strong == replay
    assert strong["c1"] == (2, 7)  # pk1 (ins+upsert=2 rows) + pk2 import(5)


def test_distributed_ntile_matches_builtin(spark):
    """distributed_ntile == Spark's global-window ntile on every shape
    that exercises the fill rule: N % n != 0, N < n, duplicate order
    values (unique tie-break key), and several n."""
    from milvus_cdc_spark.operators.windows import distributed_ntile
    from pyspark.sql import Window

    for n_rows, n in [(1003, 4), (3, 5), (100, 7), (64, 4)]:
        df = spark.range(n_rows).select(
            F.col("id"), (F.col("id") % 17).alias("v")  # heavy duplicates
        )
        got = {
            r.id: r.tile
            for r in distributed_ntile(df, n, ["v", "id"], n_partitions=8).collect()
        }
        want = {
            r.id: r.tile
            for r in df.select(
                "id", F.ntile(n).over(Window.orderBy("v", "id")).alias("tile")
            ).collect()
        }
        assert got == want, f"mismatch at n_rows={n_rows}, n={n}"


def test_binary_quantize_optimal_scale(spark):
    """1-bit sign quantization: bits = residual signs, scale = mean |r|
    (the L2-optimal scalar for a fixed sign code), reconstruction =
    centroid ± scale; error never exceeds a plain sign code with any
    OTHER uniform scale (optimality spot-check)."""
    import numpy as np

    from milvus_cdc_spark.functions import vector as vecf
    from pyspark.sql import functions as F

    vec = [1.0, -2.0, 0.5, 3.5]
    cent = [0.5, 0.5, 0.5, 0.5]
    df = spark.createDataFrame(
        [(1, vec, cent)], "id bigint, v array<float>, c array<double>"
    )
    row = df.select(
        vecf.binary_quantize(F.col("v"), F.col("c")).alias("q"),
        vecf.binary_dequantize(
            vecf.binary_quantize(F.col("v"), F.col("c")), F.col("c")
        ).alias("recon"),
    ).collect()[0]
    r = np.asarray(vec) - np.asarray(cent)           # [0.5, -2.5, 0, 3]
    assert row.q.bits == [True, False, True, True]   # sign(0) -> +
    assert abs(row.q.scale - np.abs(r).mean()) < 1e-12
    got_err = np.sum((np.asarray(row.recon) - np.asarray(vec)) ** 2)
    for s in (0.5, 1.0, 2.0):                        # any other scale is worse
        err = np.sum((r - s * np.sign(r + 1e-30)) ** 2)
        assert got_err <= err + 1e-9


def test_analyzer_variants(spark):
    """Milvus analyzer surface: standard lowers+splits, whitespace keeps
    case and splits on blanks only, english drops Lucene stopwords and
    folds plurals (Porter 1a: sses→ss, ies→i, ss keeps, s strips);
    custom stop_words apply to any analyzer; unknown names raise."""
    from milvus_cdc_spark.functions.text import analyze

    df = spark.createDataFrame(
        [("The Glasses of the ponies and CLASS bosses run!",)], "text string"
    )

    def run(**kw):
        return df.select(analyze(F.col("text"), **kw).alias("t")).collect()[0].t

    assert run(analyzer="standard") == [
        "the", "glasses", "of", "the", "ponies", "and", "class", "bosses",
        "run",
    ]
    assert run(analyzer="whitespace") == [
        "The", "Glasses", "of", "the", "ponies", "and", "CLASS", "bosses",
        "run!",
    ]
    # english: stopwords (the/of/and) gone; glasses→glass (sses→ss),
    # ponies→poni (ies→i), class→class (ss keeps), bosses→boss
    assert run(analyzer="english") == ["glass", "poni", "class", "boss", "run"]
    assert run(analyzer="english", stop_words=("run",)) == [
        "glass", "poni", "class", "boss",
    ]
    with pytest.raises(ValueError):
        run(analyzer="nope")


def test_ivf_train_lloyd_invariants(spark, sf_dir):
    """Deterministic Lloyd k-means (IVF build): (1) two runs produce
    identical centroids (deterministic seeding + rounded means); (2)
    every member count is positive and counts sum to N; (3) the k-means
    objective (sum of squared distances to assigned centroid) does not
    increase from iteration 1 to 2 — Lloyd's monotonicity."""
    import math

    from milvus_cdc_spark import catalog
    from milvus_cdc_spark.analytics.similarity import ivf_train

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    def run(iters):
        rows = ivf_train(emb, k=4, iters=iters, dim=64).collect()
        return {r.centroid_id: (tuple(r.centroid), r.n_members) for r in rows}

    a, b = run(2), run(2)
    assert a == b  # bit-identical across runs
    assert sum(m for _, m in a.values()) == n
    assert all(m > 0 for _, m in a.values())

    def objective(cent):
        vecs = [(r.vec_id, r.embedding) for r in emb.collect()]
        total = 0.0
        for _, v in vecs:
            total += min(
                sum((x - c) * (x - c) for x, c in zip(v, cv))
                for cv, _ in cent.values()
            )
        return total

    # slack: the 6-decimal centroid rounding can nudge each squared
    # distance by ~1e-4; Lloyd monotonicity holds far beyond that
    o1, o2 = objective(run(1)), objective(run(2))
    assert o2 <= o1 + 0.1, (o1, o2)
    _ = math


def test_ivf_assign_with_rank_prefix_property(spark):
    """r15: ``with_rank=True`` exposes the probe position, and filtering
    ``probe_rank <= n`` must reproduce ``ivf_assign(n_probe=n)`` exactly
    for every n — the contract the single-pass nprobe-sweep rewrite of
    ivf_nprobe_recall_curve rests on (n=1 additionally crosses over to
    the aggregate path, and with ``with_rank`` must still emit
    ``probe_rank = 1``)."""
    from milvus_cdc_spark.analytics.similarity import ivf_assign

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7]), (3, [-1.0, 0.2])],
        "vec_id int, embedding array<double>",
    )
    vecs = spark.createDataFrame(
        [(10, [2.0, 0.1]), (11, [0.1, 3.0]), (12, [-0.5, 0.5])],
        "vec_id int, embedding array<double>",
    )
    ranked = ivf_assign(vecs, cents, n_probe=4, with_rank=True).collect()
    per_vec = {}
    for r in ranked:
        per_vec.setdefault(r.vec_id, []).append(r.probe_rank)
    assert all(sorted(v) == [1, 2, 3, 4] for v in per_vec.values()), per_vec
    for n in (1, 2, 4):
        via_rank = {
            (r.vec_id, r.centroid_id) for r in ranked if r.probe_rank <= n
        }
        direct = {
            (r.vec_id, r.centroid_id)
            for r in ivf_assign(vecs, cents, n_probe=n).collect()
        }
        assert via_rank == direct, (n, via_rank, direct)
        # with_rank holds at every n_probe, n=1's aggregate path included
        at_n = set(
            map(tuple, ivf_assign(vecs, cents, n_probe=n, with_rank=True).collect())
        )
        assert at_n == {tuple(r) for r in ranked if r.probe_rank <= n}, (n, at_n)


def test_ivf_assign_degenerate_vectors_rank_last_in_both_paths(spark):
    """Round-9 ADVICE: the n_probe=1 aggregate path and the n_probe>1
    window path must rank identically on degenerate inputs. A zero-norm
    vector or centroid (divide-by-zero under ANSI) and a NaN component
    must not throw, and the degenerate candidate must rank LAST in both
    paths (sentinel -2.0, ties -> lower centroid id)."""
    import math

    from milvus_cdc_spark.analytics.similarity import ivf_assign

    cents = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),          # zero-norm centroid: never wins
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
        ],
        "vec_id int, embedding array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (10, [2.0, 0.1]),          # clean: nearest centroid 1
            (11, [0.0, 0.0]),          # zero-norm vector: all csim -> -2
            (12, [float("nan"), 1.0]),  # NaN component: all csim -> -2
        ],
        "vec_id int, embedding array<double>",
    )
    agg = {
        r.vec_id: r.centroid_id
        for r in ivf_assign(vecs, cents, n_probe=1).collect()
    }
    # clean row -> nearest real centroid; degenerate rows tie at the
    # sentinel, so the lowest centroid id wins in BOTH paths
    assert agg == {10: 1, 11: 0, 12: 0}
    win: dict[int, set[int]] = {}
    for r in ivf_assign(vecs, cents, n_probe=2).collect():
        win.setdefault(r.vec_id, set()).add(r.centroid_id)
    # window path: clean row probes its two real centroids; degenerate
    # rows tie at -2.0 and take the two lowest centroid ids — NaN no
    # longer ranks first (the pre-guard divergence)
    assert win == {10: {1, 2}, 11: {0, 1}, 12: {0, 1}}, win
    assert all(agg[vid] in win[vid] for vid in agg)
    _ = math


def test_connected_components_shapes(spark):
    """Min-label propagation components: chain, triangle, isolated pair —
    every node labeled with its component's min id; convergence needs
    diameter rounds (the 1-2-3-4 chain exercises multi-round)."""
    from milvus_cdc_spark.analytics.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain -> component 1
         (10, 11), (11, 12), (10, 12),  # triangle -> component 10
         (20, 21)],                     # pair -> component 20
        "a bigint, b bigint",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10, 12: 10,
            20: 20, 21: 20}
    # both strategies — the size-based driver union-find fast path AND
    # the distributed HashMin loop — must agree exactly
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == want
    got_dist = {
        r.node: r.component
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert got_dist == want


def test_connected_components_self_loop_only_node(spark):
    """ADVICE r6: a node whose ONLY appearance is a self-loop pair (a, a)
    must come back (component a) from BOTH strategies — the driver
    union-find previously dropped it via its src < dst collect filter."""
    from milvus_cdc_spark.analytics.dedup import connected_components

    pairs = spark.createDataFrame(
        [(7, 7), (1, 2)], "a bigint, b bigint"
    )
    want = {7: 7, 1: 1, 2: 1}
    got_fast = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    got_dist = {
        r.node: r.component
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert got_fast == want
    assert got_dist == want


def test_connected_components_long_chain_converges(spark):
    """Pathological high-diameter component: a 100-node path. Pointer
    jumping makes round count O(log diameter), so the default
    max_iter=50 must converge (HashMin alone would need 99 rounds), and
    the periodic localCheckpoint keeps the plan bounded — the collect
    would blow the driver's analysis budget otherwise."""
    import warnings

    from milvus_cdc_spark.analytics.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "a bigint, b bigint"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # unconverged exit would raise
        got = {
            r.node: r.component
            for r in connected_components(pairs, driver_threshold=0).collect()
        }
    assert got == {i: 0 for i in range(100)}


def test_connected_components_warns_when_iter_exhausted(spark):
    """Exhausting max_iter with labels still moving must WARN (the result
    is over-split, silently looking converged otherwise)."""
    import warnings

    from milvus_cdc_spark.analytics.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "a bigint, b bigint"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(pairs, max_iter=1, driver_threshold=0).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "over-split" in str(w.message)
        for w in caught
    )


def test_winnowing_guarantee_and_density(spark):
    """Winnowing (SIGMOD'03) §2 guarantees: (1) two documents sharing a
    substring of length >= w+k-1 share at least one fingerprint; (2) at
    most ~2/(w+1) of gram hashes are selected; (3) disjoint-alphabet
    documents share nothing."""
    from milvus_cdc_spark.analytics.dedup import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"  # >> w+k-1 = 11
    docs = spark.createDataFrame(
        [
            (1, f"AAAA {shared} BBBB"),
            (2, f"XXXX {shared} YYYY"),
            (3, "zzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
        ],
        "doc_id bigint, text string",
    )
    fp = winnowing_fingerprints(docs, k=8, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]          # shared substring -> shared fp
    assert not (by_doc[1] & by_doc[3])    # disjoint alphabets
    # density: selected distinct fps <= all windows, and far below the
    # gram count for doc 3 (a constant run hashes to ONE value)
    assert len(by_doc[3]) == 1
    n_grams_1 = len(f"AAAA {shared} BBBB") - 8 + 1
    assert len(by_doc[1]) <= n_grams_1 / 2


def test_build_vocab_rank_and_min_df(spark):
    """Vocab: df counts distinct documents (not occurrences), min_df
    prunes, ids follow (df desc, term asc)."""
    from milvus_cdc_spark.analytics import corpus

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b"), (3, "a z")],
        "doc_id bigint, text string",
    )
    v = {r.term: (r.token_id, r.df) for r in corpus.build_vocab(docs, min_df=2).collect()}
    assert set(v) == {"a", "b"}          # c, z below min_df
    assert v["a"] == (0, 3)              # df=3 despite 4 occurrences
    assert v["b"] == (1, 2)


def test_pack_sequences_greedy_contiguous(spark):
    """Packing: packs hold whole chunks in order; a pack closes once the
    running count crosses the budget; totals are conserved. n_shards=1
    degenerates to the single global walk."""
    from milvus_cdc_spark.analytics import corpus

    chunks = spark.createDataFrame(
        [(1, 0, 60), (1, 1, 60), (2, 0, 60), (2, 1, 10), (3, 0, 5)],
        "doc_id bigint, chunk_id int, n_tokens bigint",
    )
    packs = {r.pack_id: (r.n_chunks, r.pack_tokens)
             for r in corpus.pack_sequences(chunks, seq_len=128, n_shards=1).collect()}
    # before-sums: 0,60,120,180,190 -> pack ids 0,0,0,1,1
    assert packs == {0: (3, 180), 1: (2, 15)}
    total = sum(t for _, t in packs.values())
    assert total == 195


def test_pack_sequences_sharded_conserves_and_matches_per_shard(spark):
    """Sharded packing: token totals are conserved across shards, every
    shard's packs equal a standalone global pack of just that shard's
    chunks (shards are independent), and the shard key is the portable
    md5 hash (deterministic across engines)."""
    from pyspark.sql import functions as F

    from milvus_cdc_spark.analytics import corpus

    rows = [(d, c, 30 + (d * 7 + c) % 40) for d in range(40) for c in range(3)]
    chunks = spark.createDataFrame(
        rows, "doc_id bigint, chunk_id int, n_tokens bigint"
    )
    out = corpus.pack_sequences(chunks, seq_len=100, n_shards=4).collect()
    assert sum(r.pack_tokens for r in out) == sum(t for _, _, t in rows)
    # shard assignment matches the portable hash
    shards = {
        r.doc_id: r.s
        for r in chunks.select(
            "doc_id",
            (corpus.portable_nibble_hash(F.col("doc_id")) % 4).cast("int").alias("s"),
        ).distinct().collect()
    }
    for sid in set(shards.values()):
        sub = chunks.filter(F.col("doc_id").isin(
            [d for d, s in shards.items() if s == sid]))
        solo = {(r.pack_id, r.n_chunks, r.pack_tokens)
                for r in corpus.pack_sequences(sub, seq_len=100, n_shards=1).collect()}
        merged = {(r.pack_id, r.n_chunks, r.pack_tokens)
                  for r in out if r.shard_id == sid}
        assert solo == merged


def test_pq_train_encode_adc_roundtrip(spark, sf_dir):
    """Product quantization: (1) codebooks are deterministic across runs
    and per-subspace member counts sum to N; (2) every vector encodes to
    exactly m codes in [0, k); (3) the ADC distance reported by
    pq_adc_topk equals a driver-side mirror computed from the collected
    codebooks and codes (sum over subspaces of squared L2 from the query
    subvector to the doc's assigned codeword, rounded to 6)."""
    from milvus_cdc_spark import catalog
    from milvus_cdc_spark.analytics.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    m, k, dim = 4, 8, 64
    d_sub = dim // m
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    def run():
        rows = pq_train(emb, m=m, k=k, iters=2, dim=dim).collect()
        return {
            (r.sub_id, r.centroid_id): (tuple(r.centroid), r.n_members)
            for r in rows
        }

    a, b = run(), run()
    assert a == b  # bit-identical across runs
    for s in range(m):
        counts = [mm for (sub, _), (_, mm) in a.items() if sub == s]
        assert sum(counts) == n and all(c > 0 for c in counts)

    cb = pq_train(emb, m=m, k=k, iters=2, dim=dim)
    codes = pq_encode(emb, cb, m=m, dim=dim).collect()
    per_vec = {}
    for r in codes:
        assert 0 <= r.code < k
        per_vec.setdefault(r.vec_id, {})[r.sub_id] = r.code
    assert all(len(subs) == m for subs in per_vec.values())
    assert len(per_vec) == n

    queries = emb.filter(F.col("vec_id") < 2)
    qvecs = {r.vec_id: r.embedding for r in queries.collect()}
    topk = pq_adc_topk(
        pq_encode(emb, cb, m=m, dim=dim), cb, queries, k=5, m=m, dim=dim
    ).collect()
    assert len(topk) == 10  # 2 queries x 5
    for r in topk:
        q = qvecs[r.query_id]
        expect = 0.0
        for s in range(m):
            cent, _ = a[(s, per_vec[r.neighbor_id][s])]
            qs = q[s * d_sub:(s + 1) * d_sub]
            expect += sum((float(x) - c) ** 2 for x, c in zip(qs, cent))
        assert abs(r.adist - round(expect, 6)) < 1e-6, (r, expect)


def test_embedding_near_dup_banding_and_verify(spark):
    """Sign-band LSH near-dup: an exact duplicate and a tiny-perturbation
    near-dup are found; an orthogonal vector is not; a sign-flipped
    vector shares no band so it is never even a candidate."""
    from milvus_cdc_spark.analytics.dedup import embedding_near_dup

    dim = 16
    base = [float((i % 5) + 1) / 5.0 for i in range(dim)]
    near = list(base)
    near[3] += 0.01  # same signs, cosine ~1
    flipped = [-x for x in base]  # every sign differs -> no shared band
    ortho = [0.0] * dim
    ortho[0] = 1.0
    rows = [(0, base), (1, list(base)), (2, near), (3, flipped), (4, ortho)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in embedding_near_dup(
            df, threshold=0.98, n_bands=4, band_dims=4
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 2) in got and got[(0, 2)] > 0.99
    assert all(3 not in pair and 4 not in pair for pair in got)


def test_embedding_near_dup_respects_caller_cache(spark):
    """ADVICE r7: a caller-persisted input must survive the call — the
    function must neither re-persist it (raises at a non-default level)
    nor register it for the next call's release (which would silently
    drop the caller's own cache; levels are not refcounted)."""
    from pyspark import StorageLevel

    from milvus_cdc_spark.analytics.dedup import embedding_near_dup

    dim = 16
    base = [float((i % 5) + 1) / 5.0 for i in range(dim)]
    df = spark.createDataFrame(
        [(0, base), (1, list(base))], "doc_id long, embedding array<double>"
    ).persist(StorageLevel.DISK_ONLY)  # non-default level: persist() would raise
    try:
        got = embedding_near_dup(df, threshold=0.98, n_bands=4, band_dims=4)
        assert got.count() == 1
        # the caller's cache must still be registered at ITS chosen level
        assert df.storageLevel.useDisk and not df.storageLevel.useMemory
        # and the next dispatch's release must not touch it
        cache_registry.release()
        assert df.storageLevel.useDisk
    finally:
        df.unpersist()


def test_decontaminate_ngram_overlap(spark):
    """A train doc sharing a 3-gram with the eval set is reported with
    the DISTINCT overlap count; disjoint docs are absent."""
    from milvus_cdc_spark.analytics.corpus import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),       # shares 2 distinct 3-grams
            (2, "the quick brown the quick brown"),  # duplicate shingle counts once
            (3, "completely different words here"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "see the quick brown fox run")], "doc_id long, text string"
    )
    got = {r.doc_id: r.n_hits for r in decontaminate(train, ev, n=3).collect()}
    assert got == {1: 2, 2: 1}  # doc1: 'the quick brown'+'quick brown fox'


def test_repetition_stats_counts(spark):
    """2-gram totals / distincts / top counts per doc."""
    from milvus_cdc_spark.analytics.corpus import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.total, r.n_distinct, r.top)
        for r in repetition_stats(df, n=2).collect()
    }
    # doc1 2-grams: 'a b','b a','a b','b a' -> total 4, distinct 2, top 2
    assert got == {1: (4, 2, 2), 2: (2, 2, 1)}


def test_redact_pii_patterns(spark):
    """Email / IPv4 / phone redaction and counting; plain text untouched."""
    from milvus_cdc_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-am.ple.org now"),
            (2, "host 192.168.0.1 and 10.0.0.255 up"),
            (3, "call +44 20 7946 0958 today"),
            (4, "no pii at all 12.34 end"),
        ],
        "id long, t string",
    )
    rows = df.select(
        "id",
        redact_pii(F.col("t")).alias("red"),
        pii_counts(F.col("t")).alias("c"),
    ).collect()
    by = {r.id: r for r in rows}
    assert by[1].red == "mail <EMAIL> now" and by[1].c.n_emails == 1
    assert by[2].red == "host <IP> and <IP> up" and by[2].c.n_ips == 2
    assert by[3].red == "call <PHONE> today" and by[3].c.n_phones == 1
    assert by[4].red == "no pii at all 12.34 end"
    assert (by[4].c.n_emails, by[4].c.n_ips, by[4].c.n_phones) == (0, 0, 0)


def test_phrase_match_slop_semantics(spark):
    """Sloppy phrase matching: two-term Lucene move counts (gap and
    reversal) and the in-order span rule for three terms."""
    from milvus_cdc_spark.analytics.textrank import phrase_match

    df = spark.createDataFrame(
        [
            (1, "fast sort now"),        # adjacent
            (2, "fast merge sort"),      # one gap -> moves 1
            (3, "sort fast"),            # reversed adjacent -> moves 2
            (4, "fast a b c sort"),      # moves 3
            (5, "nothing here"),
            (6, "one two three"),        # 3-term exact
            (7, "one x two three"),      # 3-term span gap 1
            (8, "three two one"),        # reordered -> excluded (span rule)
        ],
        "doc_id long, text string",
    )
    two = lambda s: {
        r.doc_id for r in phrase_match(df, ["fast", "sort"], slop=s).collect()
    }
    assert two(0) == {1}
    assert two(1) == {1, 2}
    assert two(2) == {1, 2, 3}
    assert two(3) == {1, 2, 3, 4}
    three = lambda s: {
        r.doc_id
        for r in phrase_match(df, ["one", "two", "three"], slop=s).collect()
    }
    assert three(0) == {6}
    assert three(1) == {6, 7}
    assert 8 not in three(4)


def test_temperature_weights_math(spark):
    """alpha=1 is proportional (all rates equal the budget fraction);
    alpha=0 is uniform across sources; rates cap at 1000."""
    from milvus_cdc_spark.analytics.corpus import temperature_weights

    rows = [(i, "big") for i in range(90)] + [(i + 100, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    w1 = {r.source: r for r in temperature_weights(df, alpha=1.0, budget_frac=0.5).collect()}
    assert w1["big"].rate_permille == 500 and w1["small"].rate_permille == 500
    assert abs(w1["big"].p_s - 0.9) < 1e-6

    w0 = {r.source: r for r in temperature_weights(df, alpha=0.0, budget_frac=0.5).collect()}
    # uniform p=0.5 each; small source's share (25 docs) exceeds its 10 -> cap
    assert w0["small"].rate_permille == 1000
    assert w0["big"].rate_permille == 278  # round(1000*50*0.5/90)


def test_unigram_logprob_score(spark):
    """Docs of common tokens score lower NLL than docs of rare tokens;
    the score equals the hand-computed average."""
    import math

    from milvus_cdc_spark.analytics.corpus import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b rare")],
        "doc_id long, text string",
    )
    # tf: a=6, b=1, rare=1; T=8
    got = {r.doc_id: r for r in unigram_logprob(df).collect()}
    nll_a = -math.log(6 / 8)
    exp1 = round(nll_a, 6)
    exp2 = round((2 * nll_a + 2 * -math.log(1 / 8)) / 4, 6)
    assert got[1].n_toks == 4 and abs(got[1].avg_nll - exp1) < 1e-6
    assert got[2].n_toks == 4 and abs(got[2].avg_nll - exp2) < 1e-6
    assert got[1].avg_nll < got[2].avg_nll


def test_ivf_pq_probe_pruning_and_determinism(spark, sf_dir):
    """IVF_PQ: (1) the build is deterministic across runs; (2) every
    corpus vector gets one coarse list and m codes; (3) every ADC
    result's coarse list is among its query's probed lists — candidates
    never leak from unprobed lists."""
    from milvus_cdc_spark import catalog
    from milvus_cdc_spark.analytics import similarity as S

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    coarse, assigned, cb, codes = S.ivf_pq_build(emb, k_coarse=4, m=4, k_pq=8)
    coarse2, assigned2, cb2, codes2 = S.ivf_pq_build(emb, k_coarse=4, m=4, k_pq=8)
    assert sorted(map(tuple, assigned.collect())) == sorted(
        map(tuple, assigned2.collect())
    )
    assert sorted(map(tuple, codes.collect())) == sorted(map(tuple, codes2.collect()))
    assert assigned.count() == n and codes.count() == n * 4

    q = emb.filter(F.col("vec_id") < 3)
    topk = S.ivf_pq_adc_topk(q, coarse, assigned, cb, codes, k=5, n_probe=2)
    rows = topk.collect()
    assert len(rows) == 15
    probes = {}  # query -> probed coarse ids (top-2 by L2, tie on id)
    cents = {r.centroid_id: r.centroid for r in coarse.collect()}
    for r in q.collect():
        d = sorted(
            (sum((float(x) - c) ** 2 for x, c in zip(r.embedding, cv)), cid)
            for cid, cv in cents.items()
        )
        probes[r.vec_id] = {cid for _, cid in d[:2]}
    lists = {r.vec_id: r.coarse_id for r in assigned.collect()}
    for r in rows:
        assert lists[r.neighbor_id] in probes[r.query_id]


def test_bpe_pretoken_count_splits(spark):
    """GPT-2 pre-tokenizer: contractions split off, punctuation and
    digit runs count separately, whitespace runs collapse to one."""
    from milvus_cdc_spark.functions.text import bpe_pretoken_count

    df = spark.createDataFrame(
        [
            (1, "don't stop"),      # don + 't + ' stop' -> 3
            (2, "hello, world!"),   # hello + ',' + ' world' + '!' -> 4
            (3, "abc 123 x"),       # abc + ' 123' + ' x' -> 3
            (4, "a   b"),           # a + ' b' (run: ' b' consumes? '  ' + ...)
        ],
        "id long, t string",
    )
    got = {r.id: r.n for r in df.select("id", bpe_pretoken_count(F.col("t")).alias("n")).collect()}
    assert got[1] == 3
    assert got[2] == 4
    assert got[3] == 3
    # 'a   b': 'a' then ' ?[a-z]+' matches ' b' only after '\s+' eats
    # the residual run: 'a', '  ' (ws run), ' b' -> 3
    assert got[4] == 3


def test_substructure_superstructure_semantics(spark):
    """Containment distances over packed binary words: a fragment is at
    distance 0 from its superstructure; disjoint sets at 1; zero
    denominators follow the trivial-containment convention."""
    from milvus_cdc_spark.functions.vector import (
        substructure_words,
        superstructure_words,
    )

    rows = [
        # q,          c
        ([0b0101, 0], [0b1111, 0], "frag_in_super"),
        ([0b1111, 0], [0b0101, 0], "super_of_frag"),
        ([0b0011, 0], [0b1100, 0], "disjoint"),
        ([0, 0], [0b1111, 0], "empty_q"),
        ([0b1111, 0], [0, 0], "empty_c"),
    ]
    df = spark.createDataFrame(
        [(n, q, c) for q, c, n in rows],
        "name string, q array<bigint>, c array<bigint>",
    )
    got = {
        r.name: (r.sub, r.sup)
        for r in df.select(
            "name",
            substructure_words(F.col("q"), F.col("c")).alias("sub"),
            superstructure_words(F.col("q"), F.col("c")).alias("sup"),
        ).collect()
    }
    # q={0,2} c={0..3}: sub = 1 - 2/4 = 0.5 ; sup = 1 - 2/2 = 0 (c contains q)
    assert got["frag_in_super"] == (0.5, 0.0)
    # q={0..3} c={0,2}: sub = 0 (q contains c) ; sup = 1 - 2/4 = 0.5
    assert got["super_of_frag"] == (0.0, 0.5)
    assert got["disjoint"] == (1.0, 1.0)
    assert got["empty_q"] == (1.0, 0.0)   # empty q: contained by anything
    assert got["empty_c"] == (0.0, 1.0)   # empty c: contained in anything


def test_decay_rerank_forms(spark):
    """Decay ranker contract: multiplier is 1 inside the offset, exactly
    `decay` at distance offset+scale, for all three forms; linear hits 0
    past its support."""
    from milvus_cdc_spark.analytics.similarity import decay_rerank

    df = spark.createDataFrame(
        [(0.0, 1.0), (50.0, 1.0), (250.0, 1.0), (1000.0, 1.0)],
        "x double, sim double",
    )
    for fn in ("gauss", "exp", "linear"):
        got = {
            r.x: r.decayed_score
            for r in decay_rerank(
                df, field="x", function=fn,
                origin=0.0, scale=200.0, offset=50.0, decay=0.5,
            ).collect()
        }
        assert got[0.0] == 1.0 and got[50.0] == 1.0, fn
        assert abs(got[250.0] - 0.5) < 1e-6, fn  # offset + scale -> decay
        assert got[1000.0] < 0.1, fn
    lin = {
        r.x: r.decayed_score
        for r in decay_rerank(
            df, field="x", function="linear",
            origin=0.0, scale=200.0, offset=50.0, decay=0.5,
        ).collect()
    }
    assert lin[1000.0] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decay_rerank(df, field="x", function="nope")


def test_clustering_range_buckets_and_pruning(spark):
    """Range-bucket stats partition the key space; pruning keeps exactly
    the buckets whose zone intersects the predicate."""
    from milvus_cdc_spark.operators.clustering import (
        prune_verdict,
        range_bucket_stats,
    )

    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    stats = range_bucket_stats(df, "k", n_buckets=4)
    rows = {r.bucket_id: r for r in stats.collect()}
    assert len(rows) == 4
    assert sum(r.n_rows for r in rows.values()) == 100
    assert rows[0].min_key == 0 and rows[3].max_key == 99
    # predicate [30, 40] intersects buckets 1 ([25..49]) only
    kept = stats.filter(prune_verdict(30, 40)).select("bucket_id").collect()
    assert {r.bucket_id for r in kept} == {1}


def test_mmr_rerank_prefers_diversity(spark):
    """MMR: with two near-identical top candidates, pick 2 skips the
    redundant twin in favor of a diverse lower-relevance candidate."""
    from milvus_cdc_spark.analytics.similarity import mmr_rerank

    cand = spark.createDataFrame(
        [(1, 0.95), (2, 0.94), (3, 0.80)], "neighbor_id long, sim double"
    )
    # 1 and 2 are near-duplicates (psim 0.99); 3 is orthogonal to both
    pairs = [(1, 2, 0.99), (2, 1, 0.99), (1, 3, 0.0), (3, 1, 0.0),
             (2, 3, 0.0), (3, 2, 0.0)]
    pw = spark.createDataFrame(pairs, "a long, b long, psim double")
    got = [
        (r.rank, r.neighbor_id)
        for r in mmr_rerank(cand, pw, k=3, lam=0.7).orderBy("rank").collect()
    ]
    # pick1 = 1 (max sim); pick2: cand2 mmr = .7*.94-.3*.99 = .361 <
    # cand3 mmr = .7*.8-0 = .56 -> 3; pick3 = 2
    assert got == [(1, 1), (2, 3), (3, 2)]


def test_read_your_writes_paths_agree(spark, sf_dir):
    """Session-consistency: the column-expansion fast path (known
    session ids) returns exactly the generic row-multiplication path's
    result."""
    from milvus_cdc_spark import catalog, oplog
    from milvus_cdc_spark.operators import consistency

    ops = oplog.derive_oplog(
        catalog.load_table(spark, sf_dir, "lineitem")
    ).withColumn("session", F.col("pk") % 3)
    a = sorted(map(tuple, consistency.read_your_writes(ops).collect()))
    b = sorted(
        map(
            tuple,
            consistency.read_your_writes(ops, session_ids=(0, 1, 2)).collect(),
        )
    )
    assert a == b and len(a) == 3


def test_semdedup_prunes_replica_keeps_farthest(spark):
    """SemDeDup on a tiny hand-built space: two tight groups around
    opposite corners plus one isolated vector. Within each cosine-dup
    group exactly the farthest-from-centroid member is kept (the
    paper's keep-low-centroid-similarity rule) and the rest pruned;
    the isolated vector is never pruned."""
    from milvus_cdc_spark.analytics.dedup import semdedup

    dim = 4

    def v(base, eps):
        return [float(b) + e for b, e in zip(base, eps)]

    rows = [
        # group A: near (1,0,0,0); ids 0,1,2 — k-means seeds come from
        # the two lowest ids, so A and B each seed a cluster
        (0, v([1, 0, 0, 0], [0.00, 0.00, 0.0, 0.0])),
        (1, v([1, 0, 0, 0], [0.01, 0.00, 0.0, 0.0])),
        (2, v([1, 0, 0, 0], [0.00, 0.02, 0.0, 0.0])),
        # group B: near (0,0,0,-1); ids 3,4
        (3, v([0, 0, 0, -1], [0.00, 0.00, 0.0, 0.00])),
        (4, v([0, 0, 0, -1], [0.00, 0.00, 0.0, 0.01])),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r.vec_id: (r.centroid_id, r.pruned)
        for r in semdedup(df, k=2, iters=2, dim=dim, threshold=0.99).collect()
    }
    assert len(out) == 5
    # each group is one cluster
    assert out[0][0] == out[1][0] == out[2][0]
    assert out[3][0] == out[4][0]
    assert out[0][0] != out[3][0]
    # per group exactly one member survives (all pairwise cosines are
    # >= 0.99 within a group), and it is the farthest from the centroid
    for group in ([0, 1, 2], [3, 4]):
        kept = [i for i in group if not out[i][1]]
        assert len(kept) == 1, (group, out)
    # group A: centroid ~ mean; id 2 (off-axis by 0.02) is farthest
    assert not out[2][1] and out[0][1] and out[1][1]


def test_dsir_weights_separate_target_like_docs(spark):
    """DSIR: raw docs written in the target slice's vocabulary must
    outscore raw docs written in a disjoint vocabulary (positive vs
    negative summed log-ratio), and feature counts are unigrams +
    bigrams = 2*len - 1 per doc."""
    from milvus_cdc_spark.analytics.corpus import dsir_weights

    rows = [
        # target domain: "alpha beta" language
        (0, "alpha beta alpha beta alpha", True),
        (1, "beta alpha beta alpha beta", True),
        # raw, target-like
        (2, "alpha beta alpha beta", False),
        # raw, out-of-domain vocabulary
        (3, "zig zag zig zag zork", False),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, tgt boolean")
    out = {
        r.doc_id: r
        for r in dsir_weights(df, F.col("tgt"), n_buckets=64).collect()
    }
    assert out[2].score_micro > 0 > out[3].score_micro
    assert out[2].n_feats == 4 + 3 and out[3].n_feats == 5 + 4
    assert out[0].is_target and not out[2].is_target


def test_duplicate_spans_coverage_semantics(spark):
    """Duplicate-span coverage: a 3-gram shared by two docs marks its 3
    positions in each; intra-doc repetition counts; overlapping dup
    grams don't double-count positions; short docs report 0."""
    from milvus_cdc_spark.analytics.dedup import duplicate_spans

    rows = [
        (0, "a b c x y z"),      # "a b c" shared with doc 1
        (1, "q a b c r s"),
        (2, "u v u v u v u v"),  # intra-doc repeated 3-grams cover all
        (3, "one two"),          # shorter than n -> no grams
        (4, "p1 p2 p3 p4"),      # unique grams -> 0 covered
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: (r.n_toks, r.dup_tokens)
           for r in duplicate_spans(df, n=3).collect()}
    assert out[0] == (6, 3) and out[1] == (6, 3)
    assert out[2] == (8, 8)
    assert out[3] == (2, 0) and out[4] == (4, 0)


def test_bigram_logprob_prefers_frequent_transitions(spark):
    """Bigram LM: a doc made of the corpus's dominant transition scores
    a lower NLL than a doc of rare transitions; token-pair counts are
    n_tokens - 1; single-token docs drop (no transitions)."""
    from milvus_cdc_spark.analytics.corpus import bigram_logprob

    rows = [
        (0, "go go go go go go"),
        (1, "go go go go go go"),
        (2, "go stop wait stop go"),
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].n_bigrams == 5 and out[2].n_bigrams == 4
    nll = lambda r: r.nll_micro_sum / r.n_bigrams
    assert nll(out[0]) < nll(out[2])
    assert out[0].nll_micro_sum == out[1].nll_micro_sum


def test_bpe_train_greedy_run_semantics(spark):
    """BPE: greedy left-to-right merging of a self-adjacent pair —
     'aaaa' under merge (a,a) must become 'aa aa' (both pairs), the
    case naive string replace gets wrong; merge order follows
    (count desc, pair asc) with deterministic ties."""
    from milvus_cdc_spark.analytics.corpus import bpe_train

    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "aaaa aaaa aa")],
        "doc_id bigint, text string",
    )
    got = bpe_train(docs, n_merges=4)
    # (a,a): 3 in-run pairs x2 'aaaa' + 1 in 'aa' = 7; then (l,o)=(o,w)=5
    # ties break lexicographically; then aa</w> (3: two aaaa remnants +
    # aa) beats low</w>? both 3 -> 'aa' < 'low'
    assert got == [(0, "a", "a", 7), (1, "l", "o", 5),
                   (2, "lo", "w", 5), (3, "aa", "</w>", 3)]


def test_bpe_train_merge_budget_guard(spark):
    """bpe_train is driver-sequential per merge (~5 jobs each), so a
    32k-merge request must fail fast at the budget, not launch a
    driver-iteration storm; an explicit raised budget is honored."""
    from milvus_cdc_spark.analytics.corpus import bpe_train

    docs = spark.createDataFrame([(0, "ab ab")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="merge_budget"):
        bpe_train(docs, n_merges=32000)
    # raising the budget explicitly works (corpus exhausts after 2 rules)
    got = bpe_train(docs, n_merges=300, merge_budget=300)
    assert [(x, y) for _, x, y, _ in got] == [("a", "b"), ("ab", "</w>")]


def test_sessionize_gap_boundaries(spark):
    """Sessionize: a gap of exactly gap_seconds stays in-session (strict
    > breaks), sub-second boundaries compare in microseconds, and
    session ids restart per user."""
    from datetime import datetime, timedelta

    from milvus_cdc_spark.operators.windows import sessionize

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + timedelta(seconds=600)),             # same session
        (1, t0 + timedelta(seconds=600 + 600)),       # exactly the gap: stays
        (1, t0 + timedelta(seconds=1200 + 600, microseconds=1)),  # 1us over
        (2, t0),                                      # other user restarts
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    out = sessionize(df, gap_seconds=600)
    got = sorted((r.user_id, r.ts, r.session_id) for r in out.collect())
    sids = [s for (_, _, s) in got]
    assert sids == [1, 1, 1, 2, 1]


def test_semdedup_banded_matches_exact_on_tight_dups(spark):
    """Banded SemDeDup candidates: near-identical replicas collide in
    at least one sign band, so the banded path prunes exactly what the
    all-pairs path prunes on a replica corpus (recall loss only hits
    borderline pairs straddling sign flips)."""
    from milvus_cdc_spark.analytics.dedup import semdedup

    base = [(i, [((i * 7 + j) % 5) - 2.0 + 0.1 * j for j in range(16)])
            for i in range(12)]
    reps = [(i + 100, [v + 0.001 for v in vec]) for i, vec in base]
    df = spark.createDataFrame(
        base + reps, "vec_id bigint, embedding array<double>"
    )
    kw = dict(k=2, iters=2, dim=16, threshold=0.999)
    exact = {r.vec_id: r.pruned for r in semdedup(df, **kw).collect()}
    banded = {
        r.vec_id: r.pruned
        for r in semdedup(df, band_dims=8, n_bands=2, **kw).collect()
    }
    assert exact == banded
    assert sum(exact.values()) >= 12  # every replica pair pruned one side


def test_bpe_apply_reproduces_training_state(spark):
    """bpe_apply with the rules bpe_train just learned reproduces the
    training loop's final segmentation (the train/encode consistency
    contract)."""
    from milvus_cdc_spark.analytics.corpus import bpe_apply, bpe_train

    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "aaaa aaaa aa")],
        "doc_id bigint, text string",
    )
    merges = [(x, y) for _, x, y, _ in bpe_train(docs, n_merges=4)]
    got = {r.word: r.sym for r in bpe_apply(docs, merges).collect()}
    assert got["low"] == "low </w>"
    assert got["aaaa"] == "aa aa</w>"
    assert got["aa"] == "aa</w>"
    assert got["lower"] == "low e r </w>"


def test_hashed_embedding_properties(spark):
    """Hashing-trick embedding: identical texts embed identically, token
    order is irrelevant (bag model), a doc's squared norm is bounded by
    its token count squared, and vectors are integer-valued."""
    from milvus_cdc_spark.analytics.similarity import hashed_embedding

    docs = spark.createDataFrame(
        [(0, "red green blue"), (1, "blue green red"), (2, "red red red"),
         (3, "")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: list(r.vec) for r in hashed_embedding(docs, dim=16).collect()}
    assert out[0] == out[1]                       # bag-of-words
    assert sum(abs(v) for v in out[2]) == 3       # 3 tokens, one bucket +-3
    assert all(isinstance(v, int) for v in out[0])
    assert 3 not in out                # token-less doc -> no vector row


def test_cms_never_undercounts_and_is_mergeable(spark):
    """Count-Min: estimates >= exact counts always; a sketch built on
    the union equals cell-wise sum of per-half sketches (the merge
    property partial aggregation exploits)."""
    from milvus_cdc_spark.analytics.sketches import cms_build, cms_estimate

    rows = [(w,) for w in ("a b c a b a " * 20).split()] + [("rare",)]
    items = spark.createDataFrame(rows, "item string")
    sk = cms_build(items, d=3, w=16)
    cand = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("rare",), ("absent",)], "item string"
    )
    est = {r.item: r.est for r in cms_estimate(sk, cand, d=3, w=16).collect()}
    exact = {"a": 60, "b": 40, "c": 20, "rare": 1, "absent": 0}
    for k, v in exact.items():
        assert est[k] >= v, (k, est[k], v)
    half1 = cms_build(items.limit(60), d=3, w=16)
    half2 = cms_build(
        spark.createDataFrame(rows[60:], "item string"), d=3, w=16
    )
    merged = (
        half1.unionAll(half2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = {(r.row, r.bucket): r.cnt for r in sk.collect()}
    b = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    assert a == b


def test_bloom_no_false_negatives(spark):
    """Bloom filter: every inserted key passes (no false negatives);
    the collected word table stays within n_words rows; a disjoint
    probe set passes only at the (small) false-positive rate."""
    from milvus_cdc_spark.analytics.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    keys = spark.createDataFrame([(i,) for i in range(50)], "key bigint")
    words = [
        (r.word_idx, r.bits)
        for r in bloom_build(keys, n_hashes=3, n_words=16).collect()
    ]
    assert len(words) <= 16
    probe = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    gate = bloom_might_contain(F.col("k"), words, n_hashes=3, n_words=16)
    passed = {r.k for r in probe.filter(gate).collect()}
    assert set(range(50)) <= passed          # no false negatives
    fp = passed - set(range(50))
    assert len(fp) < 75, fp                  # bounded false positives


def test_linear_counting_tracks_cardinality(spark):
    """Linear counting: the estimate lands near the true cardinality at
    low load factor and is exact-ish for tiny sets."""
    from milvus_cdc_spark.analytics.sketches import linear_counting_distinct

    items = spark.createDataFrame(
        [(i % 300,) for i in range(3000)], "item bigint"
    )
    row = linear_counting_distinct(items, n_bits=4096).collect()[0]
    assert row.n_set <= 300
    assert abs(row.estimate - 300) < 30, row


def test_pseudo_lines_widths_and_ragged_tail(spark):
    from milvus_cdc_spark.analytics import corpus

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),  # 12 toks -> lines of 10 + 2
            (2, "x y"),  # single ragged line
            (3, ""),  # no tokens -> no lines
        ],
        "doc_id bigint, text string",
    )
    rows = {
        (r.doc_id, r.line_id): r.line_text
        for r in corpus.pseudo_lines(docs, width=10).collect()
    }
    assert rows[(1, 0)] == "a b c d e f g h i j"
    assert rows[(1, 1)] == "k l"
    assert rows[(2, 0)] == "x y"
    assert not any(d == 3 for d, _ in rows)


def test_local_frame_equivalent_to_createDataFrame(spark):
    """Randomized equivalence for catalog.local_frame (r13: every
    driver-local control dim and suite panel now routes through it):
    for random schemas over {bigint, string, boolean, double} and random
    rows including NULLs, the Arrow-backed frame collects exactly what
    createDataFrame(list, schema) does — schema and values. Seeded.
    The bigint generator spans past 2^53 (ADVICE r13): a NULL-bearing
    int64 column routed through a float64 pandas dtype would corrupt
    exactly those values, and ±2^40 draws could never detect it.
    Every trial runs with Arrow on and off: with
    ``spark.sql.execution.arrow.pyspark.enabled=false`` (a bare
    vanilla session) a pandas ``Int64`` NULL arrived as nan and the
    LongType check threw (r15 verdict #1)."""
    from milvus_cdc_spark import catalog

    arrow_key = "spark.sql.execution.arrow.pyspark.enabled"
    arrow_was = spark.conf.get(arrow_key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(arrow_key, arrow)
            _local_frame_trials(spark, catalog)
    finally:
        spark.conf.set(arrow_key, arrow_was)


def _local_frame_trials(spark, catalog):
    import random

    rng = random.Random(1313)
    gens = {
        "bigint": lambda: rng.choice(
            [None, rng.randint(-(2**40), 2**40),
             rng.randint(2**53, 2**63 - 1),
             rng.randint(-(2**63), -(2**53))]
        ),
        "string": lambda: rng.choice([None, "", "x", "héllo", "a|b,c"]),
        "boolean": lambda: rng.choice([None, True, False]),
        "double": lambda: rng.choice([None, 0.0, -1.5, 3.25e10]),
    }
    for trial in range(12):
        n_cols = rng.randint(1, 5)
        types = [rng.choice(list(gens)) for _ in range(n_cols)]
        schema = ", ".join(f"c{i} {t}" for i, t in enumerate(types))
        n_rows = rng.randint(0, 8)
        rows = [
            tuple(gens[t]() for t in types) for _ in range(n_rows)
        ]
        got = catalog.local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema, (trial, schema)
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, want.collect()), key=repr
        ), (trial, schema, rows)


def test_blocklist_stats_counts_hits_and_kept_share(spark):
    """C4 badwords gate (corpus.blocklist_stats): hit multiplicity,
    flagged-doc counts, and the DIV-floored kept ppm; tokenization is
    the shared lower/trim/whitespace law (case-insensitive hits)."""
    from milvus_cdc_spark.analytics import corpus

    docs = spark.createDataFrame(
        [
            (1, "SLOW start slow end", "a"),     # 2 hits (case-folded)
            (2, "clean text here", "a"),          # 0 hits
            (3, "  dup   dup big  ", "a"),        # 3 hits, ragged spaces
            (4, "nothing flagged", "b"),          # 0 hits
        ],
        "doc_id bigint, text string, source string",
    )
    out = {r.source: r for r in corpus.blocklist_stats(docs).collect()}
    assert (out["a"].n_docs, out["a"].n_flagged, out["a"].total_hits) == (3, 2, 5)
    assert out["a"].kept_ppm == 333333  # floor(1 * 1e6 / 3)
    assert (out["b"].n_docs, out["b"].n_flagged, out["b"].total_hits) == (1, 0, 0)
    assert out["b"].kept_ppm == 1000000


def test_line_level_dedup_drops_corpus_repeats(spark):
    from milvus_cdc_spark.analytics import corpus

    # doc 1 and doc 2 share their first 10-token window; doc 3 is unique
    shared = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    docs = spark.createDataFrame(
        [
            (1, shared + " u1 u2"),
            (2, shared + " v1 v2"),
            (3, "w0 w1 w2 w3 w4"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in corpus.line_level_dedup(docs, width=10).collect()
    }
    # shared line dropped (count 2), the ragged tails survive
    assert (out[1].n_lines, out[1].n_kept) == (2, 1)
    assert (out[2].n_lines, out[2].n_kept) == (2, 1)
    assert (out[3].n_lines, out[3].n_kept) == (1, 1)
    assert out[1].kept_ppm == 500000
    assert out[3].kept_ppm == 1000000


def test_tfidf_keywords_ranking_and_ties(spark):
    from milvus_cdc_spark.analytics import textrank

    # "rare" appears only in doc 1 (high idf); "common" in all docs
    docs = spark.createDataFrame(
        [
            (1, "rare rare common"),
            (2, "common plain"),
            (3, "common plain"),
        ],
        "doc_id bigint, text string",
    )
    out = textrank.tfidf_keywords(docs, k=2).collect()
    top1 = {r.doc_id: r.term for r in out if r.rank == 1}
    assert top1[1] == "rare"  # tf=2, df=1 -> 2 * 3e6
    # docs 2/3: plain (df=2) beats common (df=3)
    assert top1[2] == "plain" and top1[3] == "plain"
    d1 = {(r.rank): (r.term, r.score) for r in out if r.doc_id == 1}
    assert d1[1] == ("rare", 2 * 3_000_000)
    assert d1[2] == ("common", 1 * 1_000_000)


def test_domain_mixture_weights_upweights_hard_domain(spark):
    from milvus_cdc_spark.analytics import corpus

    # domain B uses rare tokens (high NLL) -> positive excess -> all the
    # weight; domain A is the corpus bulk at/below average -> weight 0
    rows = [(i, "easy easy easy easy", "A") for i in range(8)]
    rows += [(100, "hapax1 hapax2 hapax3 hapax4", "B")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {r.domain: r for r in corpus.domain_mixture_weights(docs).collect()}
    assert out["B"].excess_micro > 0
    assert out["A"].excess_micro == 0
    assert out["B"].weight_ppm == 1_000_000
    assert out["A"].weight_ppm == 0
    assert out["A"].n_docs == 8 and out["A"].n_toks == 32


def test_fill_defaults_semantics(spark):
    from milvus_cdc_spark.operators import apply as apply_op

    ops = spark.createDataFrame(
        [
            (1, None, None, "A"),  # defaulted + nullable-null, valid
            (2, "x", 7, None),  # non-nullable null -> invalid
            (3, "y", None, "B"),  # default fills qty only
        ],
        "pk bigint, name string, qty int, seg string",
    )
    out = {
        r.pk: r
        for r in apply_op.fill_defaults(
            ops, {"name": "anon", "qty": 0}, not_nullable=("seg",)
        ).collect()
    }
    assert (out[1].name, out[1].qty, out[1]._invalid) == ("anon", 0, False)
    assert out[2]._invalid is True and out[2].name == "x"
    assert (out[3].name, out[3].qty) == ("y", 0)


def test_zorder_interleave_and_pruning_wins(spark):
    from milvus_cdc_spark.operators import clustering

    # bit-interleave spot checks: z(1,0)=1, z(0,1)=2, z(3,3)=15, z(255,255)=65535
    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 3), (255, 255)], "x int, y int"
    )
    zs = [
        r.z
        for r in df.select(
            clustering.zorder_key(F.col("x"), F.col("y"), 8).alias("z")
        ).collect()
    ]
    assert zs == [1, 2, 15, 65535]

    # dense 64x64 grid, 16 files per layout: a 8x8 box must touch fewer
    # z-order files than hash files, and never miss matches
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
        F.col("id").alias("rid"),
    )
    z = clustering.zorder_key(F.col("x"), F.col("y"), 6)
    box = dict(x_lo=8, x_hi=15, y_lo=8, y_hi=15)
    zstats = clustering.layout_pruning_stats(
        grid, F.shiftright(z, 8), F.col("x"), F.col("y"), layout="z", **box
    ).collect()[0]
    hstats = clustering.layout_pruning_stats(
        grid, F.col("rid") % 16, F.col("x"), F.col("y"), layout="h", **box
    ).collect()[0]
    assert zstats.rows_matching == 64 and hstats.rows_matching == 64
    assert zstats.n_files == 16 and hstats.n_files == 16
    assert zstats.files_scanned == 1  # the 16x16 z-tile containing the box
    assert hstats.files_scanned == 16  # hash layout: every file overlaps
    assert zstats.rows_scanned < hstats.rows_scanned


def test_maxscore_upper_bound_is_safe(spark):
    from milvus_cdc_spark.analytics.textrank import (
        bm25_index,
        fulltext_search,
        maxscore_search,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} " + "alpha " * (i % 4)) for i in range(40)],
        "doc_id bigint, text string",
    )
    index = bm25_index(docs).persist()
    terms = ["alpha", "beta"]
    # with a shortlist as large as the corpus, pruned == exact
    pruned = {
        r.doc_id: r.bm25 for r in maxscore_search(index, terms, k=5, candidate_factor=8).collect()
    }
    exact = (
        fulltext_search(index, terms)
        .selectExpr("doc_id", "round(bm25, 4) AS bm25")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(5)
        .collect()
    )
    assert pruned == {r.doc_id: r.bm25 for r in exact}
    index.unpersist()


def test_maxscore_shortlist_is_take_ordered(spark, sf_dir):
    from milvus_cdc_spark import suite

    df = suite.QUERIES["maxscore_pruned_search"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_audio_energy_exact_windows(spark):
    from milvus_cdc_spark.analytics import multimodal

    # payload "ab" -> one sample 0x6261 = 25185; "abcd" -> 25185, 25699
    docs = spark.createDataFrame(
        [(1, "ab"), (2, "abcd"), (3, "x")],  # odd byte -> dropped
        "doc_id bigint, text string",
    )
    media = multimodal.as_media_table(docs)
    out = {
        r.doc_id: r
        for r in multimodal.audio_energy_features(media, window=1).collect()
    }
    assert out[1].n_samples == 1 and out[1].total_energy == 25185 ** 2
    assert out[2].n_windows == 2
    assert out[2].total_energy == 25185 ** 2 + 25699 ** 2
    assert out[2].max_window_energy == 25699 ** 2
    assert out[3].n_samples == 0 and out[3].total_energy == 0


def test_silhouette_separable_clusters(spark):
    from milvus_cdc_spark.analytics import similarity

    # two tight, far-apart clusters -> silhouette near 1
    rows = [(i, [0.0, 0.0, 0.1 * i]) for i in range(3)]
    rows += [(10 + i, [100.0, 100.0, 0.1 * i]) for i in range(3)]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.1]), (1, [100.0, 100.0, 0.1])],
        "centroid_id int, centroid array<double>",
    )
    out = {r.centroid_id: r for r in similarity.silhouette_stats(vecs, cents).collect()}
    assert out[0].n_members == 3 and out[1].n_members == 3
    assert out[0].avg_sil_micro > 990_000
    assert out[1].avg_sil_micro > 990_000


def test_geo_polygon_ray_cast(spark):
    from milvus_cdc_spark.functions import geo

    square = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    concave = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (2.0, 1.5), (0.0, 4.0)]
    df = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 5.0, 2.0), (3, 2.0, 3.5), (4, 0.5, 0.5)],
        "pk bigint, x double, y double",
    )
    out = {
        r.pk: (r.sq, r.cv)
        for r in df.select(
            "pk",
            geo.st_contains_polygon(F.col("x"), F.col("y"), square).alias("sq"),
            geo.st_contains_polygon(F.col("x"), F.col("y"), concave).alias("cv"),
        ).collect()
    }
    assert out[1] == (True, False)   # center of square; inside the notch
    assert out[2] == (False, False)  # outside both
    assert out[3] == (True, False)   # inside square, above the notch line
    assert out[4] == (True, True)    # low corner, below the notch


def test_distributed_prefix_sum_matches_builtin(spark):
    """distributed_prefix_sum == the global-window running sum for both
    frame variants, on data with heavy duplicate order values (unique
    tie-break key) and negative values."""
    from milvus_cdc_spark.operators.windows import distributed_prefix_sum
    from pyspark.sql import Window

    df = spark.range(507).select(
        F.col("id"),
        (F.col("id") % 13).alias("v"),
        ((F.col("id") % 7) - 3).cast("bigint").alias("x"),
    )
    for inclusive in (True, False):
        end = 0 if inclusive else -1
        w = Window.orderBy("v", "id").rowsBetween(
            Window.unboundedPreceding, end
        )
        want = {
            r.id: r.c
            for r in df.select(
                "id", F.coalesce(F.sum("x").over(w), F.lit(0)).alias("c")
            ).collect()
        }
        got = {
            r.id: r.cum
            for r in distributed_prefix_sum(
                df, ["v", "id"], "x", n_partitions=8, inclusive=inclusive
            ).collect()
        }
        cache_registry.release()
        assert got == want, f"inclusive={inclusive}"


def test_distributed_prefix_sum_empty_input(spark):
    from milvus_cdc_spark.operators.windows import distributed_prefix_sum

    df = spark.range(0).select(F.col("id"), F.lit(1).alias("x"))
    assert distributed_prefix_sum(df, ["id"], "x").count() == 0
    cache_registry.release()


def test_asof_union_join_semantics(spark):
    """Union-sort as-of join: latest version <= fact ts wins; a version
    at EXACTLY the fact's timestamp applies; facts before the first
    version carry NULL; keys never leak across users."""
    from milvus_cdc_spark.operators.joins import asof_union_join

    dim = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "x")],
        "user bigint, vt bigint, tier string",
    )
    facts = spark.createDataFrame(
        [(1, 5, 100), (1, 10, 101), (1, 19, 102), (1, 20, 103),
         (1, 25, 104), (2, 14, 200), (2, 16, 201)],
        "user bigint, ts bigint, fid bigint",
    )
    out = {
        r.fid: r.tier
        for r in asof_union_join(
            facts, dim, key="user", fact_ts="ts", dim_ts="vt",
            value_cols=["tier"],
        ).collect()
    }
    assert out == {
        100: None,   # before first version
        101: "a",    # version at exactly the fact ts applies
        102: "a",
        103: "b",    # tie -> dim sorts first
        104: "b",
        200: None,   # user 2's first version is at 15
        201: "x",
    }


def test_asof_union_join_atomic_versions(spark):
    """Each fact inherits ONE version's values atomically: a version whose
    value column is legitimately NULL yields NULL (never a stale carry
    from an older version), and multiple value_cols never mix versions."""
    from milvus_cdc_spark.operators.joins import asof_union_join

    dim = spark.createDataFrame(
        [(1, 10, "gold", 5), (1, 20, None, None), (1, 30, "silver", 7)],
        "user bigint, vt bigint, tier string, score bigint",
    )
    facts = spark.createDataFrame(
        [(1, 15, 100), (1, 25, 101), (1, 35, 102)],
        "user bigint, ts bigint, fid bigint",
    )
    out = {
        r.fid: (r.tier, r.score)
        for r in asof_union_join(
            facts, dim, key="user", fact_ts="ts", dim_ts="vt",
            value_cols=["tier", "score"],
        ).collect()
    }
    assert out == {
        100: ("gold", 5),
        # the v20 version's NULLs are the version's values — NOT skipped
        # in favor of v10's gold/5
        101: (None, None),
        102: ("silver", 7),
    }


def _py_bpe(words_freq: dict, n_merges: int):
    """Pure-Python reference BPE: greedy one-pass left-to-right merge,
    argmax by (count desc, pair asc) — the semantics both engines (the
    Spark fold and the DuckDB oracle) must reproduce exactly."""
    state = {w: list(w) + ["</w>"] for w in words_freq}
    merges = []
    for k in range(n_merges):
        counts: dict = {}
        for w, syms in state.items():
            f = words_freq[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (x, y), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, x, y, cnt))
        for w, syms in state.items():
            out: list = []
            for s in syms:
                if out and out[-1] == x and s == y:
                    out[-1] = x + y
                else:
                    out.append(s)
            state[w] = out
    return merges, {w: " ".join(s) for w, s in state.items()}


def test_bpe_fold_matches_python_reference_property(spark):
    """Property: on random tiny-alphabet corpora, bpe_train's merge list
    AND bpe_apply's final segmentation equal a pure-Python greedy BPE —
    the fold must agree with the reference on every run shape (self-
    adjacent pairs, rules whose merged symbol reappears, words shorter
    than a rule)."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from milvus_cdc_spark.analytics.corpus import bpe_apply, bpe_train

    word = st.text(alphabet="ab", min_size=1, max_size=5)
    corpus = st.lists(word, min_size=1, max_size=12)

    @given(corpus, st.integers(min_value=1, max_value=4))
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(words, n_merges):
        docs = spark.createDataFrame(
            [(0, " ".join(words))], "doc_id bigint, text string"
        )
        want_merges, want_seg = _py_bpe(Counter(words), n_merges)
        got_merges = bpe_train(docs, n_merges=n_merges)
        assert got_merges == want_merges
        got_seg = {
            r.word: r.sym
            for r in bpe_apply(docs, [(x, y) for _, x, y, _ in got_merges])
            .collect()
        }
        assert got_seg == want_seg

    run()


def test_silhouette_matches_python_reference_property(spark):
    """Property: on random small vector sets and centroid sets, the
    in-row silhouette (array_sort two-nearest) equals a pure-Python
    reference computing the same simplified silhouette with the same
    (d asc, id asc) tie order and the same floor(x*1e6 + 0.5) micro
    rounding — pins the round-7 reshape (window + own/second self-join
    -> one in-row pass) to the exact old semantics."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from milvus_cdc_spark.analytics.similarity import silhouette_stats

    dim = 3
    coord = st.integers(min_value=-3, max_value=3)
    vec = st.lists(coord, min_size=dim, max_size=dim)

    @given(
        st.lists(vec, min_size=1, max_size=8),
        st.lists(vec, min_size=2, max_size=4, unique_by=tuple),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(vs, cs):
        vectors = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vs)],
            "vec_id bigint, embedding array<double>",
        )
        cents = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cs)],
            "centroid_id bigint, centroid array<double>",
        )
        # pure-Python reference
        per_cluster = {}
        for v in vs:
            ds = sorted(
                (math.sqrt(sum((a - b) ** 2 for a, b in zip(v, c))), ci)
                for ci, c in enumerate(cs)
            )
            (a, own), (b, _) = ds[0], ds[1]
            s = 0.0 if max(a, b) == 0.0 else (b - a) / max(a, b)
            per_cluster.setdefault(own, []).append(
                math.floor(s * 1e6 + 0.5)
            )
        want = {
            ci: (
                len(ss),
                sum(ss) // len(ss) if sum(ss) >= 0
                else -((-sum(ss) + len(ss) - 1) // len(ss)),
                min(ss),
                max(ss),
            )
            for ci, ss in per_cluster.items()
        }
        got = {
            r.centroid_id: (
                r.n_members,
                r.avg_sil_micro,
                r.min_sil_micro,
                r.max_sil_micro,
            )
            for r in silhouette_stats(vectors, cents).collect()
        }
        assert got == want, (vs, cs)

    run()


def test_dispatch_keeps_one_query_of_cached_frames(spark, sf_dir):
    """Each registry dispatch releases the frames this thread's previous
    query cached, so a long driver session holds one query's frames, not
    one generation per operator family. The queries cache through
    different modules: the similarity build, the BM25 index and the
    suite's own persists."""
    from milvus_cdc_spark import suite as s

    def cached(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    # no two neighbours share a plan: the cache is keyed by plan, so a
    # repeat would show the prior frames cached again under the new ones
    prev = []
    for name in ("pq_adc_recall", "fulltext_sparse_search",
                 "pipeline_stage_accounting", "pq_adc_recall"):
        s.QUERIES[name].fn(spark, sf_dir).count()
        frames = list(cache_registry._ledger())
        assert frames and all(cached(f) for f in frames), name
        assert not any(f.is_cached or cached(f) for f in prev), (
            f"{name} kept the prior frames"
        )
        prev = frames
    cache_registry.release()
    assert cache_registry._ledger() == []
    assert not any(cached(f) for f in prev)


def test_char_concentration_fold_matches_python_reference(spark):
    """Property: char_diversity_quality's in-row run-length fold equals
    a pure-Python Counter sum-of-squares on random strings — including
    the fold's edge shapes (single char, all-same runs, run at array
    end, multi-char alphabets, spaces/punctuation)."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from milvus_cdc_spark import suite

    text = st.text(
        alphabet="aab cd.!z", min_size=1, max_size=40
    ).filter(lambda s: len(s.strip()) > 0)

    @given(st.lists(text, min_size=1, max_size=12))
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(texts):
        rows = [(i, t, "s%d" % (i % 2), len(t)) for i, t in enumerate(texts)]
        docs = spark.createDataFrame(
            rows, "doc_id bigint, text string, source string, n_chars int"
        )
        # reference: per-source aggregate over exact per-doc Simpson ppm
        per = {}
        for i, t, src, _ in rows:
            c = Counter(t.lower())
            conc = sum(n * n for n in c.values()) * 1_000_000 // (len(t) ** 2)
            per.setdefault(src, []).append(conc)
        want = sorted(
            (
                s,
                len(v),
                sum(1 for x in v if x > 85000),
                sum(v) // len(v),
                min(v),
                max(v),
            )
            for s, v in per.items()
        )
        # the suite fn loads from parquet; drive the same expressions by
        # calling the registered fn against a monkeypatched loader
        from unittest import mock

        import milvus_cdc_spark.suite_eval as se

        with mock.patch.object(se, "_t", lambda *_a, **_k: docs):
            got = sorted(
                tuple(r)
                for r in suite.QUERIES["char_diversity_quality"]
                .fn(spark, "unused")
                .collect()
            )
        assert got == want

    run()


def test_rank_join_lag_equals_window_lag_with_gaps(spark):
    """r12 reshape equivalence (error_spike_detection): a
    distributed_row_number rank self-join on rn = rn−1 must reproduce
    lag() over a global-ordered window EXACTLY — including across GAPS
    in the key sequence (lag means previous EXISTING row, not key−1).
    Randomized bucket frames with gaps and varied values."""
    import random

    from pyspark.sql import Window as W

    rng = random.Random(1207)
    for trial in range(3):
        keys = sorted(rng.sample(range(100), rng.randint(5, 40)))
        rows = [(k, rng.randint(1, 50)) for k in keys]
        df = spark.createDataFrame(rows, "k int, v int")
        expected = {
            (r.k, r.prev)
            for r in df.select(
                "k", F.lag("v").over(W.orderBy("k")).alias("prev")
            ).collect()
        }
        ranked = windows.distributed_row_number(df, ["k"], rank_col="rn")
        prev = ranked.select(
            (F.col("rn") + 1).alias("rn"), F.col("v").alias("prev")
        )
        got = {
            (r.k, r.prev)
            for r in ranked.join(prev, "rn", "left")
            .select("k", "prev")
            .collect()
        }
        assert got == expected, (trial, sorted(got), sorted(expected))
        cache_registry.release()


def test_confusion_matrix_unpivot_equals_class_cross(spark):
    """r12 reshape equivalence (langid_precision_recall): per-class
    tp/fp/fn derived from the confusion-matrix cell unpivot must equal
    the classes-crossJoin conditional-aggregate formula on random
    (truth, predicted) frames — including predicted-only labels, which
    must NOT form classes."""
    import random

    rng = random.Random(415)
    langs = ["en", "es", "fr", "de", "zh"]
    for trial in range(3):
        rows = [
            (
                rng.choice(langs[:4]),                # truth: never 'zh'
                rng.choice(langs + ["und"]),          # pred may be novel
            )
            for _ in range(rng.randint(20, 120))
        ]
        pred = spark.createDataFrame(rows, "lang string, predicted string")
        # reference: the old cross shape
        classes = pred.select(F.col("lang").alias("cls")).distinct()
        ref = {
            (r.cls, r.tp, r.fp, r.fn)
            for r in classes.crossJoin(pred)
            .groupBy("cls")
            .agg(
                F.sum(((F.col("lang") == F.col("cls")) & (F.col("predicted") == F.col("cls"))).cast("int")).alias("tp"),
                F.sum(((F.col("lang") != F.col("cls")) & (F.col("predicted") == F.col("cls"))).cast("int")).alias("fp"),
                F.sum(((F.col("lang") == F.col("cls")) & (F.col("predicted") != F.col("cls"))).cast("int")).alias("fn"),
            )
            .collect()
        }
        # new shape: matrix + cell unpivot, classes recovered as tp+fn>0
        cm = pred.groupBy("lang", "predicted").agg(F.count("*").alias("n"))
        diag = F.col("lang") == F.col("predicted")
        contrib = cm.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("lang").alias("cls"),
                        F.when(diag, F.col("n")).otherwise(F.lit(0)).alias("tp"),
                        F.lit(0).cast("bigint").alias("fp"),
                        F.when(~diag, F.col("n")).otherwise(F.lit(0)).alias("fn"),
                    ),
                    F.struct(
                        F.col("predicted").alias("cls"),
                        F.lit(0).cast("bigint").alias("tp"),
                        F.when(~diag, F.col("n")).otherwise(F.lit(0)).alias("fp"),
                        F.lit(0).cast("bigint").alias("fn"),
                    ),
                )
            ).alias("s")
        ).select("s.*")
        got = {
            (r.cls, r.tp, r.fp, r.fn)
            for r in contrib.groupBy("cls")
            .agg(
                F.sum("tp").alias("tp"),
                F.sum("fp").alias("fp"),
                F.sum("fn").alias("fn"),
            )
            .where(F.col("tp") + F.col("fn") > 0)
            .collect()
        }
        assert got == ref, (trial, sorted(got), sorted(ref))


def test_paragraph_near_dup_flags_cross_doc_only(spark):
    """A paragraph sharing 3 of its 4 shingles with another DOCUMENT's
    paragraph (Jaccard 3/5 = 0.6) is flagged on both sides; a unique
    paragraph is not; a paragraph duplicated WITHIN one document never
    pairs with itself (cross-doc predicate)."""
    from milvus_cdc_spark.analytics.dedup import paragraph_near_dup

    para_a = "alpha bravo charlie delta echo foxtrot"
    para_a2 = "alpha bravo charlie delta echo golf"  # last token changed
    para_b = "hotel india juliet kilo lima mike"
    para_c = "november oscar papa quebec romeo sierra"
    rows = [
        (1, f"{para_a} {para_b}"),
        (2, para_a2),
        (3, f"{para_c} {para_c}"),  # self-duplicate, same doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_paras, r.n_flagged)
        for r in paragraph_near_dup(
            df, width=6, shingle_n=3, threshold_ppm=500000
        ).collect()
    }
    assert got == {1: (2, 1), 2: (1, 1), 3: (2, 0)}, got


def test_paragraph_near_dup_stop_shingle_cap(spark):
    """With the df cap below the duplicate fan-out, every shingle of the
    repeated paragraph is a stop-shingle, no candidate pairs form, and
    nothing is flagged — the boundedness guard is observable."""
    from milvus_cdc_spark.analytics.dedup import paragraph_near_dup

    para = "alpha bravo charlie delta echo foxtrot"
    df = spark.createDataFrame(
        [(i, para) for i in range(4)], "doc_id long, text string"
    )
    flagged = {
        r.doc_id: r.n_flagged
        for r in paragraph_near_dup(
            df, width=6, shingle_n=3, max_df=3, threshold_ppm=500000
        ).collect()
    }
    assert flagged == {0: 0, 1: 0, 2: 0, 3: 0}, flagged
    # and with the cap relaxed the same corpus flags everything
    flagged2 = {
        r.doc_id: r.n_flagged
        for r in paragraph_near_dup(
            df, width=6, shingle_n=3, max_df=64, threshold_ppm=500000
        ).collect()
    }
    assert flagged2 == {0: 1, 1: 1, 2: 1, 3: 1}, flagged2


def test_paragraph_near_dup_matches_bruteforce_reference(spark):
    """Randomized property: on small corpora drawn from a tiny vocab
    (forcing shingle collisions), paragraph_near_dup equals a pure-
    Python brute-force reference implementing the same law — fixed-
    width paragraphs, DISTINCT shingles, df-capped candidate shingles
    with UNCAPPED Jaccard denominators, cross-doc-only flagging.
    Exercises both a binding and a non-binding stop-shingle cap."""
    import random

    from milvus_cdc_spark.analytics.dedup import paragraph_near_dup

    rng = random.Random(1414)
    vocab = ["aa", "bb", "cc", "dd", "ee"]

    def reference(docs, width, n, max_df, thr_ppm):
        paras = {}  # (doc, pid) -> distinct shingle set
        for doc_id, text in docs:
            toks = text.lower().split()
            for pid in range((len(toks) + width - 1) // width):
                p = toks[pid * width : (pid + 1) * width]
                if len(p) < n:
                    continue
                paras[(doc_id, pid)] = {
                    " ".join(p[j : j + n]) for j in range(len(p) - n + 1)
                }
        df_count = {}
        for sset in paras.values():
            for s in sset:
                df_count[s] = df_count.get(s, 0) + 1
        keep = {s for s, c in df_count.items() if c <= max_df}
        flagged = set()
        keys = sorted(paras)
        for i, ka in enumerate(keys):
            for kb in keys[i + 1 :]:
                if ka[0] == kb[0]:
                    continue
                shared = len(paras[ka] & paras[kb] & keep)
                if shared == 0:
                    continue
                denom = len(paras[ka]) + len(paras[kb]) - shared
                if shared * 1000000 // denom >= thr_ppm:
                    flagged.add(ka)
                    flagged.add(kb)
        out = {}
        for doc_id, pid in paras:
            n_p, n_f = out.get(doc_id, (0, 0))
            out[doc_id] = (n_p + 1, n_f + ((doc_id, pid) in flagged))
        return out

    for trial in range(6):
        n_docs = rng.randint(2, 6)
        docs = [
            (
                d,
                " ".join(
                    rng.choice(vocab)
                    for _ in range(rng.randint(0, 14))
                ),
            )
            for d in range(n_docs)
        ]
        width, n = 4, 2
        max_df = rng.choice([2, 64])  # binding and non-binding caps
        want = reference(docs, width, n, max_df, 500000)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_paras, r.n_flagged)
            for r in paragraph_near_dup(
                df,
                width=width,
                shingle_n=n,
                max_df=max_df,
                threshold_ppm=500000,
            ).collect()
        }
        assert got == want, (trial, max_df, docs, got, want)

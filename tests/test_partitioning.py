"""widen_small_scan: the scan-parallelism guard for single-row-group fixtures.

Contract under test (partitioning.py):
- a frame with fewer partitions than defaultParallelism is hash-
  repartitioned up to it (keyed form: no sortBeforeRepartition local sort);
- a frame already at/above defaultParallelism passes through UNTOUCHED
  (the no-op-at-real-scale guarantee — at 100 TB the input arrives with
  thousands of splits and the helper must add nothing);
- widening never changes the rows, only their placement;
- at every engine call site the memoized partition count equals a
  direct probe of the frame passed in.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milvus_cdc_spark.partitioning import widen_small_scan


def test_widens_narrow_frame_to_default_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    wide = widen_small_scan(narrow, "id")
    assert wide.rdd.getNumPartitions() == target


def test_noop_on_already_wide_frame(spark):
    target = spark.sparkContext.defaultParallelism
    wide_in = spark.range(0, 1000, numPartitions=target)
    out = widen_small_scan(wide_in, "id")
    # Same plan object — no exchange inserted on well-split inputs.
    assert out is wide_in


def test_keyed_widening_is_hash_not_roundrobin(spark):
    narrow = spark.range(0, 1000).coalesce(1)
    plan = widen_small_scan(narrow, "id")._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in plan
    assert "roundrobinpartitioning" not in plan


def test_probe_memoized_per_file_set(spark, tmp_path, monkeypatch):
    """r15: the plan→RDD partition probe is paid once per (session,
    input-file-set, plan shape) — a second widen over the same scanned
    files must reuse the memo (no second physical-planning pass), and the memoized
    decision must match the direct probe's."""
    from milvus_cdc_spark import partitioning

    path = str(tmp_path / "narrow.parquet")
    spark.range(0, 200).coalesce(1).write.parquet(path)
    calls = {"n": 0}
    real_probe = partitioning._plan_partitions

    def counting_probe(df):
        calls["n"] += 1
        return real_probe(df)

    monkeypatch.setattr(partitioning, "_plan_partitions", counting_probe)
    monkeypatch.setattr(partitioning, "_PROBE_CACHE", {})
    target = spark.sparkContext.defaultParallelism
    first = widen_small_scan(spark.read.parquet(path), "id")
    assert calls["n"] == 1
    assert first.rdd.getNumPartitions() == target
    # fresh frame, same files: memo hit, same widening decision
    second = widen_small_scan(spark.read.parquet(path), "id")
    assert calls["n"] == 1
    assert second.rdd.getNumPartitions() == target
    # frames with no input files still probe directly (no stale reuse)
    widen_small_scan(spark.range(0, 10).coalesce(1), "id")
    assert calls["n"] == 2
    # same files, another plan shape: its own probe, not the scan's count
    wide = spark.read.parquet(path).repartition(target)
    assert widen_small_scan(wide, "id") is wide
    assert calls["n"] == 3


def test_rows_unchanged_by_widening(spark):
    narrow = (
        spark.range(0, 500)
        .withColumn("v", F.md5(F.col("id").cast("string")))
        .coalesce(1)
    )
    wide = widen_small_scan(narrow, "id")
    a = sorted(tuple(r) for r in narrow.collect())
    b = sorted(tuple(r) for r in wide.collect())
    assert a == b


#: One registry query per ``widen_small_scan`` call site in the engine.
WIDEN_CALL_SITES = {
    "oplog.derive_oplog(widen=True)": "cdc_replay_summary",
    "textrank.bm25_index(widen=True)": "fulltext_sparse_search",
    "suite.ivf_topk": "ivf_topk",
    "suite_eval.delete_by_expr_replay": "delete_by_expr_replay",
    "suite_eval.maxsim_multivector_topk": "maxsim_multivector_topk",
    "suite_eval.maxsim_ann_rerank": "maxsim_ann_rerank",
    "suite_search.ivf_kmeans_build": "ivf_kmeans_build",
    "suite_search.pq_codebooks": "pq_codebooks",
    "suite_search.hashed_embedding_search": "hashed_embedding_search",
    "suite_search.kmeans_silhouette": "kmeans_silhouette",
    "similarity.brute_force_topk": "cosine_topk",
    # the approximate side's corpus is a broadcast-cross of the scan
    "similarity.brute_force_topk(reconstructed corpus)": "binary_quantized_recall",
}


@pytest.mark.parametrize("site", sorted(WIDEN_CALL_SITES))
def test_memoized_probe_matches_direct_probe(spark, sf_dir, monkeypatch, site):
    """The probe memo holds one partition count per (input files, plan
    shape). Each call site's frame is checked against that: the memoized
    count must equal a direct ``getNumPartitions()`` of the same frame. The
    query must reach the wrapper, so a call site that moves or goes away
    fails here instead of leaving the list stale."""
    from milvus_cdc_spark import oplog, partitioning, suite
    from milvus_cdc_spark.analytics import textrank

    real = partitioning.widen_small_scan
    probes = []

    def checked(df, *key_cols):
        out = real(df, *key_cols)
        key = (
            id(df.sparkSession.sparkContext),
            tuple(sorted(df.inputFiles())),
            df.semanticHash(),
        )
        probes.append((partitioning._PROBE_CACHE.get(key), df.rdd.getNumPartitions()))
        return out

    # oplog binds the name at import; the others import it per call
    for mod in (partitioning, oplog, textrank):
        if hasattr(mod, "widen_small_scan"):
            monkeypatch.setattr(mod, "widen_small_scan", checked)
    try:
        suite.QUERIES[WIDEN_CALL_SITES[site]].fn(spark, sf_dir)
    finally:
        spark.catalog.clearCache()
    assert probes, f"{site} no longer calls widen_small_scan"
    for memo, direct in probes:
        assert memo == direct, (site, memo, direct)

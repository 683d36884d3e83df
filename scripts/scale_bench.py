"""Scale-factor stress bench: do the heavy hitters scale LINEARLY?

The 100 TB claims elsewhere rest on plan shapes (banded joins, sharded
windows, no SinglePartition exchanges). This script measures them: run
the five most expensive suite operators on a 1x corpus and a 10x corpus
and report the runtime growth factor — a linear-shape operator on 10x
data should cost <= ~10x wall-clock (usually less: fixed per-query
overhead amortizes).

The 10x corpus derives from sf0.1 with cardinalities that scale
honestly:
- ``lineitem`` x10 with l_orderkey shifted per replica — 10x distinct
  pks, so CDC state/replay work scales 10x;
- ``documents`` x10 with doc_id shifted AND every token salted with a
  replica tag (replica 0 keeps the original text) — replicas of one doc
  share NO shingles, so the near-dup pair count grows ~10x (linearly)
  instead of ~100x (quadratically, as naive text copies would: every
  replica would near-dup every other replica of the same doc).

Usage: python scripts/scale_bench.py [--sf-dir DIR] [--work DIR]
Prints one JSON line per query: {"query", "t_1x", "t_10x", "ratio"}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE = 10


def build_dirs(sf_dir: str, work: str) -> tuple[str, str]:
    """Materialize {work}/x1 and {work}/x10 holding documents + lineitem
    (the only tables the heavy queries read), as the single-file parquet
    layout the catalog expects. DuckDB does the replication: driver-side
    build tooling, not a measured path."""
    import duckdb

    x1, x10 = os.path.join(work, "x1"), os.path.join(work, "x10")
    if os.path.isdir(x1) and os.path.isdir(x10) and os.path.isfile(
        os.path.join(x10, "orders.parquet")
    ) and os.path.isfile(os.path.join(x10, "supplier.parquet")):
        return x1, x10
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(x1)
    os.makedirs(x10)

    li_src = os.path.join(sf_dir, "lineitem.parquet")
    doc_src = os.path.join(sf_dir, "documents.parquet")
    emb_src = os.path.join(sf_dir, "embeddings.parquet")
    ord_src = os.path.join(sf_dir, "orders.parquet")
    sup_src = os.path.join(sf_dir, "supplier.parquet")
    shutil.copy(li_src, os.path.join(x1, "lineitem.parquet"))
    shutil.copy(doc_src, os.path.join(x1, "documents.parquet"))
    shutil.copy(emb_src, os.path.join(x1, "embeddings.parquet"))
    shutil.copy(ord_src, os.path.join(x1, "orders.parquet"))
    # supplier is a DIM table: it does NOT scale with the fact (the
    # bloom gate's whole point — a fixed-size filter pruning a growing
    # fact stream), so both corpora carry the same copy
    shutil.copy(sup_src, os.path.join(x1, "supplier.parquet"))
    shutil.copy(sup_src, os.path.join(x10, "supplier.parquet"))

    con = duckdb.connect()
    # orders x10 with o_orderkey shifted in lockstep with lineitem's
    # l_orderkey shift, custkeys unchanged: the trade graph keeps its
    # node set while the edge/order volume grows 10x — degree growth,
    # the honest scale axis for graph iteration cost.
    max_ord = con.sql(f"SELECT max(o_orderkey)+1 FROM '{ord_src}'").fetchone()[0]
    max_ok = con.sql(f"SELECT max(l_orderkey)+1 FROM '{li_src}'").fetchone()[0]
    max_ok = max(max_ok, max_ord)
    ord_reps = " UNION ALL ".join(
        f"SELECT * REPLACE (o_orderkey + {i * max_ok} AS o_orderkey) "
        f"FROM '{ord_src}'"
        for i in range(SCALE)
    )
    con.sql(
        f"COPY ({ord_reps}) TO '{x10}/orders.parquet' (FORMAT PARQUET)"
    )
    reps = " UNION ALL ".join(
        f"SELECT * REPLACE (l_orderkey + {i * max_ok} AS l_orderkey) "
        f"FROM '{li_src}'"
        for i in range(SCALE)
    )
    con.sql(
        f"COPY ({reps}) TO '{x10}/lineitem.parquet' (FORMAT PARQUET)"
    )
    max_doc = con.sql(f"SELECT max(doc_id)+1 FROM '{doc_src}'").fetchone()[0]
    doc_reps = ["SELECT * FROM '%s'" % doc_src]
    for i in range(1, SCALE):  # salt every token: replicas share no shingles
        doc_reps.append(
            f"SELECT * REPLACE (doc_id + {i * max_doc} AS doc_id, "
            f"regexp_replace(text, '(\\S+)', '\\1~{i}', 'g') AS text) "
            f"FROM '{doc_src}'"
        )
    con.sql(
        f"COPY ({' UNION ALL '.join(doc_reps)}) TO '{x10}/documents.parquet' "
        "(FORMAT PARQUET)"
    )
    # embeddings x10: shifted vec_id AND deterministically perturbed
    # values (replica 0 keeps the originals). Exact copies would be
    # near-duplicates of each other (cosine 1.0), so the banded
    # near-dup query's pair count would grow ~SCALE² instead of the
    # linear growth an honestly-bigger corpus shows — the same salting
    # rationale as the documents table. k-means/PQ cost depends only on
    # row count, so the perturbation doesn't distort those ratios.
    # The noise must be hash-diffused per (vec, replica, dim): a periodic
    # arithmetic pattern (e.g. (vec*7 + i*13 + dim) % 5) collapses every
    # replica's SIGN pattern into a handful of classes — measured: the
    # banded near-dup query's buckets go quadratic again, exactly what
    # the perturbation exists to prevent.
    max_vec = con.sql(f"SELECT max(vec_id)+1 FROM '{emb_src}'").fetchone()[0]
    emb_reps_l = [f"SELECT * FROM '{emb_src}'"]
    for i in range(1, SCALE):
        emb_reps_l.append(
            f"SELECT * REPLACE (vec_id + {i * max_vec} AS vec_id, "
            f"list_transform(list_zip(embedding::DOUBLE[], "
            f"generate_series(1, 64)), "
            f"p -> p[1] + 0.1 * ((hash(vec_id, {i}, p[2]) % 5)::BIGINT - 2)) "
            f"AS embedding) "
            f"FROM '{emb_src}'"
        )
    emb_reps = " UNION ALL ".join(emb_reps_l)
    con.sql(
        f"COPY ({emb_reps}) TO '{x10}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return x1, x10


def queries():
    """name → fn(spark, dir) for the five heavy hitters. sequence_packing
    runs UNfiltered (the suite query clamps to doc_id<100 for its oracle;
    the scale question needs the whole corpus)."""
    from milvus_cdc_spark import catalog, suite

    def packing_full(spark, d):
        from milvus_cdc_spark.analytics import corpus

        docs = catalog.load_table(spark, d, "documents")
        ch = corpus.chunk_documents(docs, chunk_tokens=48, overlap=16)
        return corpus.pack_sequences(ch, seq_len=128, n_shards=32)

    def banded_near_dup_scaled(spark, d):
        """The suite query pins 8 bands x 8 dims for its oracle; a fixed
        2^8-bucket band means bucket occupancy grows linearly with the
        corpus and within-bucket pairs QUADRATICALLY (measured: 350M
        candidate pairs at 10x). Like IVF nlist, the banding must be
        sized to the corpus — here 4 bands x 16 dims (2^16 buckets)
        once the corpus outgrows ~5k vectors; that keeps buckets
        bounded and the join linear, at slightly lower band recall for
        borderline near-dups (sign-flip tolerance drops from 8 to 4
        chances)."""
        from pyspark.sql import functions as FF

        from milvus_cdc_spark.analytics import dedup

        emb = catalog.load_table(spark, d, "embeddings")
        n = emb.count()
        n_bands, band_dims = (8, 8) if n <= 5000 else (4, 16)
        base = emb.select(
            FF.col("vec_id").alias("doc_id"),
            FF.transform(FF.col("embedding"), lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        replicas = emb.select(
            (FF.col("vec_id") + 10_000_000).alias("doc_id"),
            FF.transform(
                FF.col("embedding"),
                lambda x, i: x.cast("double")
                + 0.02 * (((FF.col("vec_id") + i + 1) % 3) - 1),
            ).alias("embedding"),
        )
        return dedup.embedding_near_dup(
            base.unionAll(replicas), threshold=0.98,
            n_bands=n_bands, band_dims=band_dims,
        )

    def knn_ann_scaled(spark, d):
        """The suite's knn_label_accuracy keeps the EXACT scored frame so
        it can be oracle-checked; queries x corpus both grow 10x, so the
        exact variant is ~100x at 10x — that quadratic is precisely what
        the ANN candidate generator removes. This is the scale path the
        suite docstring promises: sign-LSH bucketed candidates (bucket
        count sized to the corpus, as in the banded cosine query), then
        the identical vote/accuracy algebra."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as FF

        from milvus_cdc_spark.analytics import similarity

        emb = catalog.load_table(spark, d, "embeddings")
        n = emb.count()
        n_bits = 4 if n <= 5000 else 10
        queries_df = emb.filter(FF.col("vec_id") % 20 == 0)
        nn = similarity.bucketed_topk(emb, queries_df, k=5, n_bits=n_bits)
        labeled = nn.join(
            emb.select(
                FF.col("vec_id").alias("neighbor_id"),
                FF.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        votes = labeled.groupBy("query_id", "n_label").agg(
            FF.count("*").alias("c")
        )
        w = W.partitionBy("query_id").orderBy(
            FF.col("c").desc(), FF.col("n_label")
        )
        pred = (
            votes.withColumn("vr", FF.row_number().over(w))
            .filter(FF.col("vr") == 1)
            .select("query_id", FF.col("n_label").alias("pred_label"))
        )
        truth = queries_df.select(
            FF.col("vec_id").alias("query_id"),
            FF.col("label").alias("true_label"),
        )
        hit = FF.when(
            FF.col("pred_label") == FF.col("true_label"), 1
        ).otherwise(0)
        return (
            pred.join(truth, "query_id")
            .groupBy(FF.col("true_label").alias("label"))
            .agg(
                FF.count("*").alias("n_queries"),
                FF.sum(hit).alias("n_correct"),
            )
        )

    def semdedup_scaled(spark, d):
        """SemDeDup's quadratic surface is WITHIN-cluster pairs. Scaling
        k ~ n keeps pair work linear but makes the n x k assignment
        quadratic (measured 11.8x at 10x data with k = n/500). The 100
        TB shape keeps k moderate and generates within-cluster
        candidates by sign-band LSH (band_dims) instead of all-pairs —
        assignment stays n x k, candidates stay bucket-bounded; bucket
        count scales with the corpus exactly as in the banded cosine
        query."""
        from pyspark.sql import functions as FF

        from milvus_cdc_spark.analytics import dedup

        emb = catalog.load_table(spark, d, "embeddings")
        n = emb.count()
        n_bands, band_dims = (8, 8) if n <= 5000 else (4, 16)
        return dedup.semdedup(
            emb.select(
                FF.col("vec_id").alias("doc_id"),
                FF.transform(
                    FF.col("embedding"), lambda x: x.cast("double")
                ).alias("embedding"),
            ),
            k=8,
            iters=2,
            dim=64,
            threshold=0.98,
            id_col="doc_id",
            band_dims=band_dims,
            n_bands=n_bands,
        )

    return {
        "near_dup_pairs": suite.QUERIES["near_dup_pairs"].fn,
        "winnowing_fingerprints": suite.QUERIES["winnowing_fingerprints"].fn,
        "cdc_replay_summary": suite.QUERIES["cdc_replay_summary"].fn,
        "consistency_levels_read": suite.QUERIES["consistency_levels_read"].fn,
        "sequence_packing_full": packing_full,
        # iterative shapes: clustering rounds and Lloyd iterations must
        # not multiply with data size, only per-round work may
        "near_dup_clusters": suite.QUERIES["near_dup_clusters"].fn,
        "ivf_kmeans_build": suite.QUERIES["ivf_kmeans_build"].fn,
        # round-5 second-session additions
        "pq_adc_recall": suite.QUERIES["pq_adc_recall"].fn,
        "banded_cosine_near_dup": banded_near_dup_scaled,
        "ngram_decontamination": suite.QUERIES["ngram_decontamination"].fn,
        "unigram_logprob_quality": suite.QUERIES["unigram_logprob_quality"].fn,
        # round-5 third-session additions
        "duplicate_span_coverage": suite.QUERIES["duplicate_span_coverage"].fn,
        "bigram_lm_quality": suite.QUERIES["bigram_lm_quality"].fn,
        "dsir_importance_selection": suite.QUERIES[
            "dsir_importance_selection"
        ].fn,
        "bpe_merge_training": suite.QUERIES["bpe_merge_training"].fn,
        "semdedup_banded": semdedup_scaled,
        # round-5 fourth-session additions
        "corpus_line_dedup": suite.QUERIES["corpus_line_dedup"].fn,
        "tfidf_keywords": suite.QUERIES["tfidf_keywords"].fn,
        "ccnet_perplexity_buckets": suite.QUERIES[
            "ccnet_perplexity_buckets"
        ].fn,
        "zorder_layout_pruning": suite.QUERIES["zorder_layout_pruning"].fn,
        # round-5 fifth-session additions: graph iteration cost must grow
        # with edges (x10), never with iteration count; pca's data stage
        # is the covariance scan (x10), the eigensolve is fixed-size.
        "pagerank_trade_graph": suite.QUERIES["pagerank_trade_graph"].fn,
        "knn_label_accuracy_ann": knn_ann_scaled,
        "pca_power_iteration": suite.QUERIES["pca_power_iteration"].fn,
        # round-5 sixth-session additions: triangle wedge work is bounded
        # by sum(out_deg^2) under degree orientation (edges x~10 as order
        # volume grows); setsim candidates grow linearly because salted
        # replicas share no shingles — the prefix filter's rare-end
        # buckets stay small as the vocabulary grows with the corpus.
        "triangle_parts_topk": suite.QUERIES["triangle_parts_topk"].fn,
        "setsim_prefix_join": suite.QUERIES["setsim_prefix_join"].fn,
        # LPA cost per round is edge-sized joins/aggregates; rounds fixed.
        # MaxSim scores queries x corpus — queries fixed (10), so linear.
        # The as-of union join is one key-partitioned window over
        # facts+versions — but events.parquet is not replicated in the
        # 10x corpus, so scd2 stays out of this harness.
        "label_propagation_communities": suite.QUERIES[
            "label_propagation_communities"
        ].fn,
        "maxsim_multivector_topk": suite.QUERIES[
            "maxsim_multivector_topk"
        ].fn,
        # round-7 reshape (one window pass over one scoring scan): scores
        # 10 fixed queries x corpus — the all-pairs stage is the linear
        # axis; the sign-bucket candidate set rides the same scan.
        "maxsim_ann_rerank": suite.QUERIES["maxsim_ann_rerank"].fn,
        # round-7 second session: the bloom gate is ONE fact scan
        # (broadcast left join + single agg); the filter itself is a
        # fixed 1008-bit literal, so cost must track the fact alone
        "bloom_semi_join_reduction": suite.QUERIES[
            "bloom_semi_join_reduction"
        ].fn,
        # round-7 third session (scan-node audit reshapes): the persisted
        # build tables (PQ codebooks/codes, posting index, Lloyd
        # assignment) are the linear axis — each materializes once and
        # query-side cost tracks probed lists / query terms / pool size,
        # never re-derivation count. MMR's pool is fixed (top-8), so its
        # 10x cost is the candidate scan alone.
        "ivf_pq_recall": suite.QUERIES["ivf_pq_recall"].fn,
        "kmeans_silhouette": suite.QUERIES["kmeans_silhouette"].fn,
        "mmr_diversified_search": suite.QUERIES["mmr_diversified_search"].fn,
        "maxscore_pruned_search": suite.QUERIES["maxscore_pruned_search"].fn,
        "more_like_this": suite.QUERIES["more_like_this"].fn,
        "pipeline_stage_accounting": suite.QUERIES[
            "pipeline_stage_accounting"
        ].fn,
        "preference_pair_builder": suite.QUERIES[
            "preference_pair_builder"
        ].fn,
        "domain_mixture_weights": suite.QUERIES["domain_mixture_weights"].fn,
        "source_overlap_matrix": suite.QUERIES["source_overlap_matrix"].fn,
        "cluster_density_report": suite.QUERIES["cluster_density_report"].fn,
        # round-9 additions (the r8 reshapes whose same-window A/Bs were
        # inside noise — VERDICT r8 #4): kcore's per-round cost is the
        # degree aggregate + two semi-joins over a shrinking edge list
        # (edges x10, rounds fixed); delete_by_expr's single-pass LWW
        # fold is one conditional aggregate over the op stream (x10).
        "kcore_prune_rounds": suite.QUERIES["kcore_prune_rounds"].fn,
        "delete_by_expr_replay": suite.QUERIES["delete_by_expr_replay"].fn,
        # round-10 additions (VERDICT r9 #4): the r9 skinny-extremum
        # reshape of ivf_assign / the ANN top-k was A/B'd at sf0.1 only;
        # confirm at 10x. Queries are fixed (10-16), so cost must track
        # the corpus alone — ivf_topk's axis is the n x k assignment +
        # probed lists, ann_recall's the exact brute-force baseline scan
        # (the bucketed side prunes with the corpus-sized bucket count).
        "ivf_topk": suite.QUERIES["ivf_topk"].fn,
        "ann_recall": suite.QUERIES["ann_recall"].fn,
        # round-12 additions: langid is the confusion-matrix reshape
        # (SCALE.md §5s) — ONE corpus aggregate, so cost must track the
        # scan alone (the old classes-cross shape would have multiplied
        # the 10x by |classes|); ttr/burstiness are explode -> two
        # map-side-combinable aggregates whose shuffle keys grow with
        # the vocabulary (sublinear — though the salted 10x corpus
        # grows vocab ~10x by construction, the honest worst case);
        # the histogram sketch's bucket table is FIXED (<=256), so its
        # 10x cost is the fact scan alone.
        "langid_precision_recall": suite.QUERIES[
            "langid_precision_recall"
        ].fn,
        "lexical_diversity_ttr": suite.QUERIES["lexical_diversity_ttr"].fn,
        "token_burstiness_topk": suite.QUERIES["token_burstiness_topk"].fn,
        "histogram_quantile_sketch": suite.QUERIES[
            "histogram_quantile_sketch"
        ].fn,
    }


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    work = "/tmp/spark_graft_scale"
    only: set[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]
        if a.startswith("--work="):
            work = a.split("=", 1)[1]
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))

    from milvus_cdc_spark.session import get_spark

    x1, x10 = build_dirs(sf_dir, work)
    spark = get_spark("scale_bench")
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for name, fn in queries().items():
        if only is not None and name not in only:
            continue
        fn(spark, x1).count()  # warm codegen/JIT per query shape
        spark.catalog.clearCache()  # drop query-lifetime persists
        t0 = time.time()
        n1 = fn(spark, x1).count()
        t1 = round(time.time() - t0, 3)
        spark.catalog.clearCache()
        t0 = time.time()
        n10 = fn(spark, x10).count()
        t10 = round(time.time() - t0, 3)
        spark.catalog.clearCache()
        row = {
            "query": name,
            "t_1x": t1,
            "t_10x": t10,
            "ratio": round(t10 / t1, 2) if t1 else None,
            "rows_1x": n1,
            "rows_10x": n10,
        }
        results.append(row)
        print(json.dumps(row), flush=True)
    total1 = round(sum(r["t_1x"] for r in results), 3)
    total10 = round(sum(r["t_10x"] for r in results), 3)
    print(
        json.dumps(
            {
                "query": "TOTAL",
                "t_1x": total1,
                "t_10x": total10,
                "ratio": round(total10 / total1, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

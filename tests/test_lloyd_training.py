"""Lloyd training: ``ivf_train``'s long-form centroid mean step gives the
same answer as the per-dimension aggregate it replaced.

``similarity._centroid_means`` posexplodes each assigned vector and
averages per (centroid, dimension). The reference below is the former
wide form, one ``round(avg(element_at(vec, i + 1)), 6)`` aggregate per
dimension. It lives here only, and is swapped into the engine with
monkeypatch so both forms run the same Lloyd loop. Centroids and
``n_members`` must match bit for bit: the 6-decimal rounding between
iterations is what makes the cross-engine oracle exact. (``pq_train``
keeps the wide form; see the note in its body.)

The assignment step is ``similarity.nearest``, the one nearest-centroid
kernel of IVF, PQ, IVF_PQ and SemDeDup; its contract is checked below.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from milvus_cdc_spark.analytics import similarity
from milvus_cdc_spark.catalog import EMB_DIM, load_table
from milvus_cdc_spark.functions import vector as vecf


def wide_centroid_means(assigned, dim):
    """The former mean step: ``dim`` separate aggregates per centroid."""
    return assigned.groupBy("centroid_id").agg(
        F.array(
            *[
                F.round(F.avg(F.element_at(F.col("_vvec"), i + 1)), 6)
                for i in range(dim)
            ]
        ).alias("centroid"),
        F.count("*").alias("n_members"),
    )


def _rows(df):
    return sorted(
        (r.centroid_id, list(r.centroid), r.n_members) for r in df.collect()
    )


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    yield emb.persist(), emb.count()
    emb.unpersist()


@pytest.mark.parametrize("k,iters", [(4, 1), (4, 2), (8, 1), (8, 2)])
def test_ivf_train_long_form_matches_wide(embeddings, monkeypatch, k, iters):
    emb, n = embeddings
    got = _rows(similarity.ivf_train(emb, k=k, iters=iters, dim=EMB_DIM))
    monkeypatch.setattr(similarity, "_centroid_means", wide_centroid_means)
    want = _rows(similarity.ivf_train(emb, k=k, iters=iters, dim=EMB_DIM))
    assert got == want
    assert all(len(c) == EMB_DIM for _, c, _ in got)
    assert sum(m for _, _, m in got) == n


def _l2(points, centroids, keys, **kw):
    return similarity.nearest(
        points, centroids, vecf.l2_squared(F.col("v"), F.col("c")), keys, **kw
    )


def test_nearest_tie_goes_to_lower_id(spark):
    pts = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.9, 0.0])], "vid long, v array<double>"
    )
    # cid 2 and cid 1 are equidistant from point 0; cid 2 comes first
    cen = spark.createDataFrame(
        [(2, [1.0, 0.0]), (1, [-1.0, 0.0]), (3, [0.0, 2.0])],
        "centroid_id long, c array<double>",
    )
    got = sorted(tuple(r) for r in _l2(pts, cen, ["vid"]).collect())
    assert got == [(0, 1, 1.0), (1, 2, (0.9 - 1.0) * (0.9 - 1.0))]


def test_nearest_by_limits_candidates_to_the_subspace(spark):
    pts = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (0, 1, [0.0, 0.0])],
        "vid long, sub_id int, v array<double>",
    )
    # subspace 0's only codeword is far; subspace 1's sits on the point
    cen = spark.createDataFrame(
        [(0, 0, [5.0, 5.0]), (1, 1, [0.0, 0.0])],
        "sub_id int, centroid_id long, c array<double>",
    )
    got = _l2(pts, cen, ["vid", "sub_id"], by=["sub_id"])
    assert got.columns == ["vid", "sub_id", "centroid_id", "_dist"]
    assert sorted(tuple(r) for r in got.collect()) == [(0, 0, 0, 50.0), (0, 1, 1, 0.0)]


def test_nearest_dist_is_l2_squared_of_the_argmin(embeddings):
    emb, n = embeddings
    pts = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
    cen = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c"),
    )
    got = _l2(pts, cen, ["vid"])
    every = pts.crossJoin(cen).select(
        "vid", "centroid_id", vecf.l2_squared(F.col("v"), F.col("c")).alias("d")
    )
    want = every.groupBy("vid").agg(F.min(F.struct("d", "centroid_id")).alias("m"))
    rows = {r.vid: (r.centroid_id, r._dist) for r in got.collect()}
    assert len(rows) == n
    assert rows == {r.vid: (r.m.centroid_id, r.m.d) for r in want.collect()}


def test_nearest_plan_is_a_skinny_aggregate(spark):
    pts = spark.createDataFrame([(0, [0.0, 0.0])], "vid long, v array<double>")
    cen = spark.createDataFrame([(1, [1.0, 0.0])], "centroid_id long, c array<double>")
    plan = _l2(pts, cen, ["vid"])._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan
    structs = re.findall(r"min\(struct\(([^()]*)\)\)", plan)
    assert structs, plan
    # struct(name1, value1, name2, value2): only the distance and the id
    assert all(s.split(", ")[::2] == ["_dist", "centroid_id"] for s in structs), structs

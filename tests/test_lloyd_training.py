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
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milvus_cdc_spark.analytics import similarity
from milvus_cdc_spark.catalog import EMB_DIM, load_table


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


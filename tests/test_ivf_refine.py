"""Lloyd refinement of IVF centroids: improves the partition, stays
deterministic, and never changes the narrow plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.similarity import (
    _collect_centroids,
    _refine_centroids,
    ivf_assign,
)


@pytest.fixture(scope="module")
def emb(spark):
    # three tight clusters around orthogonal-ish anchors, deterministic
    anchors = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    rows = []
    vid = 0
    for a_i, a in enumerate(anchors):
        for j in range(40):
            jitter = [((vid * 7 + d * 13 + j) % 11 - 5) / 100.0 for d in range(4)]
            rows.append((vid, [a[d] + jitter[d] for d in range(4)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _mean_best_cosine(emb, cent_vecs):
    import pandas as pd

    vecs = [r["embedding"] for r in emb.orderBy("vec_id").collect()]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    return sum(max(cos(v, c) for c in cent_vecs) for v in vecs) / len(vecs)


def test_refinement_improves_partition_and_is_deterministic(emb):
    seed = [v for _, v in _collect_centroids(emb, 3, "vec_id", "embedding")]
    r1 = _refine_centroids(emb, seed, "embedding", 2)
    r2 = _refine_centroids(emb, seed, "embedding", 2)
    assert r1 == r2  # bit-identical across runs (decimal-summed means)
    assert _mean_best_cosine(emb, r1) >= _mean_best_cosine(emb, seed) - 1e-12


def test_refined_assignment_still_narrow(emb):
    _, assigned = ivf_assign(emb, n_centroids=3, refine_iters=1)
    plan = assigned._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Window" not in plan
    # every vector gets a valid centroid
    n_bad = assigned.filter(~F.col("centroid_id").isin([0, 1, 2])).count()
    assert n_bad == 0

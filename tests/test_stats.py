"""Route invariance over the size gates in operators/stats: each gate
picks the local (or native) route or the distributed one from input
size alone, so both routes must give the same answer on every input.
Each case runs once as is (below the gate) and once with the gate's
constant set to 0, which forces the distributed route."""

from __future__ import annotations

import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from mapreducenonequijoin_spark.operators import stats
from mapreducenonequijoin_spark.operators.dedup import connected_components
from mapreducenonequijoin_spark.operators.ivf import assign_clusters, kmeans_lite
from mapreducenonequijoin_spark.operators.joins import theta_join
from mapreducenonequijoin_spark.sources.io import load_table


def _kmeans(spark, sf_dir, routes):
    # the local accumulation order differs from the distributed
    # combine only in float summation ORDER; the argmax ASSIGNMENT
    # every consumer reads must be identical
    emb = load_table(spark, sf_dir, "embeddings")
    for k in (4, 8):
        local, dist = routes(
            "LOCAL_KMEANS_CELLS", lambda: kmeans_lite(emb, "vec_id", "embedding", k=k)
        )
        assert np.allclose(np.array(local), np.array(dist), atol=1e-12)
        a_local = {
            r["vec_id"]: r["cluster"]
            for r in assign_clusters(emb, "vec_id", "embedding", local).collect()
        }
        a_dist = {
            r["vec_id"]: r["cluster"]
            for r in assign_clusters(emb, "vec_id", "embedding", dist).collect()
        }
        assert a_local == a_dist


def _kmeans_n_below_k(spark, sf_dir, routes):
    # 3 rows, k=8: both routes fit the 3 rows as 3 centroids
    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(3)
    local, dist = routes(
        "LOCAL_KMEANS_CELLS", lambda: kmeans_lite(emb, "vec_id", "embedding", k=8)
    )
    assert len(local) == len(dist) == 3
    assert np.allclose(np.array(local), np.array(dist), atol=1e-12)


# path 0-..-49, clique 100..109, stars 200-(201..205), 300-(301..303)
_CC_PAIRS = (
    [(i, i + 1) for i in range(49)]
    + [(a, b) for a in range(100, 110) for b in range(a + 1, 110)]
    + [(200, x) for x in range(201, 206)]
    + [(300, x) for x in range(301, 304)]
)


def _cc_labels(spark, routes, pairs):
    edges = spark.createDataFrame(pairs, "a long, b long")
    verts = spark.range(0, 400).select(F.col("id").alias("v"))
    local, dist = routes(
        "LOCAL_CC_EDGES",
        lambda: {
            (r.v, r.cluster_rep)
            for r in connected_components(verts, edges, "v", "a", "b").collect()
        },
    )
    assert local == dist
    assert len(local) == 400
    return dict(local)


def _cc(spark, sf_dir, routes):
    # mixed graph: path + clique + stars + singletons
    reps = _cc_labels(spark, routes, _CC_PAIRS)
    assert reps[49] == 0 and reps[109] == 100 and reps[205] == 200
    assert reps[310] == 310  # singleton maps to itself


def _cc_null_endpoints(spark, sf_dir, routes):
    # an edge with a null endpoint joins nothing on either route
    reps = _cc_labels(
        spark, routes, _CC_PAIRS + [(310, None), (None, 311), (None, None)]
    )
    assert reps[49] == 0 and reps[310] == 310 and reps[311] == 311


def _theta(spark, sf_dir, routes):
    # auto (native plan below the gate) vs forced 1-Bucket rewrite
    rng = random.Random(5)
    left = spark.createDataFrame(
        [(i, float(rng.randint(-500, 500))) for i in range(250)], "l_id long, l_x double"
    )
    right = spark.createDataFrame(
        [(i, float(rng.randint(-500, 500))) for i in range(250)], "r_id long, r_x double"
    )
    cond = F.abs(F.col("l_x") - F.col("r_x")) < 5
    native, rewrite = routes(
        "NAIVE_PAIRS",
        lambda: sorted(
            (r.l_id, r.r_id) for r in theta_join(left, right, cond).collect()
        ),
    )
    assert native and native == rewrite


_CASES = {
    "kmeans": _kmeans,
    "kmeans_n_below_k": _kmeans_n_below_k,
    "connected_components": _cc,
    "connected_components_null_endpoints": _cc_null_endpoints,
    "theta_join": _theta,
}


@pytest.mark.parametrize("case", list(_CASES))
def test_local_route_matches_forced_distributed(spark, sf_dir, monkeypatch, case):
    def routes(gate, run):
        local = run()
        monkeypatch.setattr(stats, gate, 0)
        dist = run()
        monkeypatch.undo()
        return local, dist

    _CASES[case](spark, sf_dir, routes)

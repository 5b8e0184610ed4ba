"""Triangle counting vs brute force on known and random graphs."""

from __future__ import annotations

import itertools
import random

from global_seismic_data_pipeline_spark.operators import cluster


def _count(spark, edges):
    df = spark.createDataFrame(edges, ["a", "b"])
    out = cluster.triangle_count(df, src="a", dst="b").collect()[0].asDict()
    return out


def _brute(edges):
    es = set(map(tuple, edges))
    verts = sorted({v for e in es for v in e})
    return sum(
        1
        for x, y, z in itertools.combinations(verts, 3)
        if (x, y) in es and (y, z) in es and (x, z) in es
    )


def test_k3(spark):
    got = _count(spark, [(1, 2), (2, 3), (1, 3)])
    assert got["n_triangles"] == 1
    assert got["n_edges"] == 3 and got["n_vertices"] == 3


def test_k4_has_four_triangles(spark):
    edges = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    assert _count(spark, edges)["n_triangles"] == 4


def test_square_and_star_have_none(spark):
    assert _count(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])["n_triangles"] == 0
    assert _count(spark, [(1, 2), (1, 3), (1, 4), (1, 5)])["n_triangles"] == 0


def test_random_graph_matches_bruteforce(spark):
    rng = random.Random(7)
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(30), 2)))
            for _ in range(120)
        }
    )
    got = _count(spark, edges)
    assert got["n_triangles"] == _brute(edges)
    assert got["n_edges"] == len(edges)


def test_hub_graph_counts_each_triangle_once(spark):
    # hub 0 connected to 1..10, plus ring edges (1,2),(2,3): exactly the
    # two hub triangles (0,1,2) and (0,2,3); orientation must not double
    # or zero count them.
    edges = [(0, i) for i in range(1, 11)] + [(1, 2), (2, 3)]
    edges = [tuple(sorted(e)) for e in edges]
    got = _count(spark, edges)
    assert got["n_triangles"] == 2

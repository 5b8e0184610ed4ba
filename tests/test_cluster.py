"""Connected components / cluster_assignments (operators/cluster.py):
fixed topologies, convergence behavior, and a randomized comparison
against a driver-side union-find reference."""

import random

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import cluster


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "id_a long, id_b long"
    )


def _components(rows):
    return {(r.id, r.comp) for r in rows}


def test_chain_and_islands(spark):
    # chain 1-2-3-4 plus island 10-11: min-label must cross the chain
    out = cluster.connected_components(
        _edges_df(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    ).collect()
    assert _components(out) == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_long_path_converges(spark):
    # a 64-node path is the pointer-jumping stress case: pure neighbor
    # propagation needs 63 rounds; with jumping it must fit in max_iter=25
    edges = [(i, i + 1) for i in range(64)]
    out = cluster.connected_components(_edges_df(spark, edges)).collect()
    assert {r.comp for r in out} == {0}
    assert len(out) == 65


def test_empty_edges(spark):
    out = cluster.connected_components(
        spark.createDataFrame([], "id_a long, id_b long")
    ).collect()
    assert out == []


def test_cluster_assignments_canonical(spark):
    out = cluster.cluster_assignments(
        _edges_df(spark, [(7, 3), (3, 9), (20, 21)]), id_out="doc_id"
    ).collect()
    rows = {r.doc_id: (r.cluster_id, r.cluster_size, r.keep) for r in out}
    assert rows == {
        3: (3, 3, 1),
        7: (3, 3, 0),
        9: (3, 3, 0),
        20: (20, 2, 1),
        21: (20, 2, 0),
    }


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min node id per component
    comp = {}
    for x in parent:
        root = find(x)
        comp.setdefault(root, []).append(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    n = 200
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    expected = _union_find(pairs)
    out = cluster.connected_components(_edges_df(spark, pairs)).collect()
    got = {r.id: r.comp for r in out}
    assert got == expected


class TestPagerankInteger:
    def _ref(self, edges, iters=3, scale=1 << 20, num=85, den=100):
        nodes = sorted({n for e in edges for n in e})
        out = {}
        for s, _ in edges:
            out[s] = out.get(s, 0) + 1
        base = (scale * (den - num)) // den
        pr = {n: scale for n in nodes}
        for _ in range(iters):
            contrib = {n: (num * (pr[n] // out[n])) // den for n in nodes if n in out}
            nxt = {n: base for n in nodes}
            for s, d in edges:
                nxt[d] += contrib[s]
            pr = nxt
        return pr

    def test_matches_reference_on_cycle_with_hub(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (4, 0)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.pagerank_q for r in cluster.pagerank_integer(df).collect()}
        assert got == self._ref(edges)

    def test_sink_node_and_degrees(self, spark):
        # node 2 is a sink (no out-edges): keeps only the base share;
        # degrees reported correctly
        edges = [(0, 2), (1, 2)]
        df = spark.createDataFrame(edges, "src long, dst long")
        rows = {r.node: r for r in cluster.pagerank_integer(df, iters=2).collect()}
        assert rows[2].pagerank_q == self._ref(edges, iters=2)[2]
        assert (rows[2].outdeg, rows[2].indeg) == (0, 2)
        assert (rows[0].outdeg, rows[0].indeg) == (1, 0)
        # sources end at exactly the base share after >=2 iters
        base = ((1 << 20) * 15) // 100
        assert rows[0].pagerank_q == base


def test_incremental_components_equal_full_recompute(spark):
    """Random graphs, random edge split: components maintained
    incrementally == from-scratch recompute, labels INCLUDED (the
    contraction argument preserves min-member labels)."""
    import random as _random

    from global_seismic_data_pipeline_spark.operators import cluster

    for seed in (1, 2, 3):
        rng = _random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(70)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        cut = len(edges) * 2 // 3
        day1, day2 = edges[:cut], edges[cut:]
        e1 = spark.createDataFrame(day1, "id_a long, id_b long")
        e2 = spark.createDataFrame(day2, "id_a long, id_b long")
        full = spark.createDataFrame(edges, "id_a long, id_b long")

        prev = cluster.connected_components(e1).withColumnRenamed("comp", "component")
        inc = {
            (r.id, r.comp)
            for r in cluster.incremental_components(prev, e2).collect()
        }
        want = {
            (r.id, r.comp)
            for r in cluster.connected_components(full).collect()
        }
        assert inc == want, seed


def test_incremental_components_internal_edges_noop(spark):
    """New edges entirely inside settled components change nothing — the
    contracted graph is all self-loops."""
    from global_seismic_data_pipeline_spark.operators import cluster

    e1 = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    prev = cluster.connected_components(e1).withColumnRenamed("comp", "component")
    internal = spark.createDataFrame([(1, 3), (10, 11)], "id_a long, id_b long")
    out = {
        (r.id, r.comp)
        for r in cluster.incremental_components(prev, internal).collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_incremental_components_bridges_and_new_nodes(spark):
    """A new edge bridging two old components merges them under the
    global min label; brand-new nodes attach or form their own
    components."""
    from global_seismic_data_pipeline_spark.operators import cluster

    e1 = spark.createDataFrame([(5, 6), (9, 12)], "id_a long, id_b long")
    prev = cluster.connected_components(e1).withColumnRenamed("comp", "component")
    day2 = spark.createDataFrame(
        [(6, 9), (100, 101), (12, 1)], "id_a long, id_b long"
    )
    out = {
        (r.id, r.comp)
        for r in cluster.incremental_components(prev, day2).collect()
    }
    # 1 joins {5,6} ∪ {9,12} — global min member is 1
    assert out == {
        (5, 1), (6, 1), (9, 1), (12, 1), (1, 1), (100, 100), (101, 100)
    }

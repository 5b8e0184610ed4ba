"""Connected components: collapse near-duplicate PAIRS into clusters.

The near-dup operators (``neardup.py``, ``similarity.py``) emit verified
pairs; a dedup pipeline must then group pairs into connected components and
keep one canonical document per component (the reference pipelines stop at
row-level dedup — this is the extension a training-data pipeline needs,
cf. SURVEY.md §7 step 9).

Algorithm: iterative min-label propagation with pointer jumping, the
DataFrame form of Pregel-style supersteps. Each round every node takes the
minimum of (its label, its neighbors' labels, its label's label); the
pointer-jumping term (label-of-label) halves path lengths so convergence is
O(log(longest path)) rounds rather than O(diameter) — for near-dup
components (tiny, dense) this is 2-3 rounds in practice. The driver loop
only ORCHESTRATES supersteps (one small count per round for the
convergence test, exactly how GraphX/Pregel drivers work); all data stays
distributed, each round is two shuffles on the node id (label join +
min-aggregate), and labels are persisted per round with the previous
round released, so lineage stays bounded at 100 TB.

Scale note: min-label propagation is the right default for near-dup graphs
(bounded component size, tiny diameter). For adversarial graphs with
long chains, the alternating large-star/small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) gives
provable O(log^2 n) rounds with the same two-shuffle round shape; the
pointer-jumping term here is the first half of that construction.

Determinism: labels are node ids combined with ``min``, so the final
component id is exactly min(node id in component) regardless of execution
or iteration order — hash-checkable against a recursive-CTE transitive
closure in any SQL engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import materialize


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``; component =
    min node id in the node's connected component. Nodes with no edge are
    not emitted (a singleton is trivially its own component). Raises if the
    labels have not converged after ``max_iter`` supersteps."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.col("a")).alias("comp"))
        .select(F.col("a").alias("id"), "comp")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        for _ in range(max_iter):
            nbr = (
                sym.join(
                    labels.select(F.col("id").alias("b"), F.col("comp").alias("nbr_comp")),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nbr_comp").alias("nbr_min"))
                .select(F.col("a").alias("id"), "nbr_min")
            )
            jump = labels.select(F.col("id").alias("jid"), F.col("comp").alias("jcomp"))
            # localCheckpoint (not just persist): each round references the
            # label table three times, so without lineage truncation the
            # logical plan TRIPLES per superstep and the driver OOMs just
            # stringifying it by round ~15. Checkpointing caps every
            # round's plan at one superstep. (On a multi-node cluster use
            # a reliable checkpoint dir for fault tolerance; the superstep
            # loop itself is unchanged.)
            new_labels = (
                labels.join(nbr, "id", "left")
                .join(jump, labels["comp"] == jump["jid"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("comp"),
                        F.coalesce("nbr_min", F.col("comp")),
                        F.coalesce("jcomp", F.col("comp")),
                    ).alias("comp"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            # frees round 0's persisted table; the checkpointed rounds
            # (and the converged result) are freed by Spark's
            # ContextCleaner once nothing references them
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                return labels.select("id", "comp")
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} supersteps"
        )
    finally:
        sym.unpersist()


def cluster_assignments(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_out: str = "doc_id",
) -> DataFrame:
    """Per-node cluster rows ready for dedup: (id_out, cluster_id,
    cluster_size, keep) where cluster_id = min id in the component and
    keep = 1 exactly for the canonical (minimum-id) member."""
    comp = connected_components(edges, src=src, dst=dst)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("id").alias(id_out),
            F.col("comp").alias("cluster_id"),
            F.col("cluster_size"),
            (F.col("id") == F.col("comp")).cast("long").alias("keep"),
        )
    )


def pagerank_integer(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 1 << 20,
    damping_num: int = 85,
    damping_den: int = 100,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic.

    Ranks live in units of ``1/scale`` (default 2^-20). Each superstep:

        contrib(u) = (damping_num * (pr(u) div outdeg(u))) div damping_den
        pr'(v)     = (scale*(den-num)) div den  +  Σ_{u→v} contrib(u)

    Every step is integer floor-division and an ASSOCIATIVE int64 sum, so
    the result is bit-identical across engines, partitionings, and
    aggregation orders — the float-free rearrangement the repo applies to
    every keep/score decision (a float PageRank differs in final ulps per
    summation order and can't be hash-verified). Dangling-node mass is
    dropped, the common simplification (ranks are relative, not a
    probability simplex).

    Scale shape (Pregel-style): per iteration, one broadcast-or-shuffle
    join of the rank table onto edges keyed by src and one map-side
    combinable sum keyed by dst — the classic two-shuffle superstep; the
    edge table is materialized ONCE and reused by every round (released
    with the caller's ``materialized_scope``). Returns (node, pagerank_q,
    outdeg, indeg)."""
    e = materialize(edges.select(
        F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")
    ))
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    base = (scale * (damping_den - damping_num)) // damping_den

    pr = nodes.select("node", F.lit(int(scale)).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = pr.join(outdeg, pr["node"] == outdeg["src"]).select(
            F.col("node").alias("cnode"),
            F.expr(
                f"({damping_num} * (pr div outdeg)) div {damping_den}"
            ).alias("c"),
        )
        inflow = (
            e.join(contrib, e["src"] == contrib["cnode"])
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = nodes.join(inflow, nodes["node"] == inflow["dst"], "left").select(
            "node",
            (F.lit(int(base)) + F.coalesce("inflow", F.lit(0))).cast("long").alias("pr"),
        )
    return (
        pr.join(outdeg, pr["node"] == outdeg["src"], "left")
        .join(indeg, pr["node"] == indeg["dst"], "left")
        .select(
            "node",
            F.col("pr").alias("pagerank_q"),
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
            F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
        )
    )


def triangle_count(
    edges: DataFrame, *, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Global triangle count via degree-ordered edge orientation.

    Input: distinct undirected edges with ``src < dst``. The naive
    three-way self-join enumerates every triangle 6× and its wedge step
    explodes on hub vertices (Σ deg² with deg up to the hub's full
    degree). The standard fix (Suri & Vassilvitskii, "Counting Triangles
    and the Curse of the Last Reducer", WWW'11) orients each edge from
    the endpoint of lower (degree, id) rank to the higher: the oriented
    out-degree is O(√m) for ANY degree distribution, so the wedge join
    is bounded even on power-law graphs and each triangle appears
    exactly once (rank is a total order, so the closing edge of wedge
    u→v, v→w is necessarily oriented u→w).

    Plan shape: one degree aggregate, two broadcast joins to attach
    ranks (the degree table is vertex-sized), one equi-join on the wedge
    pivot, one equi-join against the oriented edge set, then a single-row
    count — every join keyed, no theta-join anywhere. Output:
    (n_vertices, n_edges, n_wedges, n_triangles) — all exact integers.
    """
    # e feeds deg, its own count, AND the orientation join; deg feeds two
    # rank joins and the vertex count; wedges feed their count and the
    # closing join — each diamond is persisted once or its whole build
    # (including the caller's edge derivation) re-executes per consumer
    # (CLAUDE.md: a DataFrame joined k times must be persisted).
    e = materialize(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    deg = materialize(
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        e.join(F.broadcast(deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))), "a")
        .join(F.broadcast(deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))), "b")
    )
    # a < b always, so equal degrees orient a -> b
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = materialize(ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    ))
    wedges = materialize(
        oriented.select(F.col("u").alias("x"), F.col("w").alias("y"))
        .join(oriented.select(F.col("u").alias("y"), F.col("w").alias("z")), "y")
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("x"), F.col("w").alias("z")),
        ["x", "z"],
    )
    n_vertices = deg.agg(F.count(F.lit(1)).alias("c"))
    n_edges = e.agg(F.count(F.lit(1)).alias("c"))
    n_wedges = wedges.agg(F.count(F.lit(1)).alias("c"))
    n_tri = closed.agg(F.count(F.lit(1)).alias("c"))
    return (
        n_vertices.select(F.col("c").alias("n_vertices"))
        .crossJoin(n_edges.select(F.col("c").alias("n_edges")))
        .crossJoin(n_wedges.select(F.col("c").alias("n_wedges")))
        .crossJoin(n_tri.select(F.col("c").alias("n_triangles")))
    )


def incremental_components(
    prev: DataFrame,
    new_edges: DataFrame,
    *,
    id_col: str = "id",
    comp_col: str = "component",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components MAINTAINED incrementally: yesterday's
    (id, component) table + today's new edges → today's components,
    WITHOUT re-traversing yesterday's edges.

    The algorithm is component CONTRACTION: every settled component
    collapses to its label (= min member id), new edges map their
    endpoints through yesterday's labels (unlabelled endpoints stay
    themselves), and :func:`connected_components` runs on that contracted
    graph — whose size is (touched components + new nodes), not the
    corpus. Old nodes then re-label through their old label's new
    component. Labels equal a full recompute's EXACTLY: the contracted
    min-label is the min over component labels, each of which is the min
    member id of its old component — so the overall min member id wins,
    the same label the from-scratch run assigns (property-tested over
    random edge splits).

    At 100 TB this is the daily near-dup maintenance step: the pair
    stream from :mod:`.neardup_incremental` feeds ``new_edges``; the
    cluster table updates in time proportional to the DELTA. Edges
    internal to one old component contract to self-loops and cost
    nothing."""
    labels = prev.select(F.col(id_col).alias("__id"), F.col(comp_col).alias("__c"))
    mapped = (
        new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .join(labels.withColumnRenamed("__id", "a").withColumnRenamed("__c", "ca"), "a", "left")
        .join(labels.withColumnRenamed("__id", "b").withColumnRenamed("__c", "cb"), "b", "left")
        .select(
            F.coalesce("ca", F.col("a")).alias(src),
            F.coalesce("cb", F.col("b")).alias(dst),
        )
        .filter(F.col(src) != F.col(dst))
    )
    contracted = connected_components(mapped, src=src, dst=dst, max_iter=max_iter)
    relabel = contracted.select(
        F.col("id").alias("__c"), F.col("comp").alias("__new_c")
    )
    old = prev.select(
        F.col(id_col).alias("id"), F.col(comp_col).alias("__c")
    ).join(relabel, "__c", "left").select(
        "id", F.coalesce("__new_c", F.col("__c")).alias("comp")
    )
    # new nodes: endpoints of new edges not present in prev
    new_nodes = (
        new_edges.select(F.col(src).alias("id"))
        .union(new_edges.select(F.col(dst).alias("id")))
        .distinct()
        .join(prev.select(F.col(id_col).alias("id")), "id", "left_anti")
    )
    fresh = new_nodes.join(
        contracted.select("id", "comp"), "id", "left"
    ).select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    return old.unionByName(fresh)

"""Graph read operators — the reference's JMH read-benchmark suite recast
(src/.../benchmarking/GraphReadBenchmark.scala:31-116 and the per-backend
implementations in OverflowDbReadBenchmark.scala / TinkerGraphReadBenchmark.scala).

Every pointer traversal becomes an explicit join; every hand-rolled DFS
becomes an iterative frontier join (BFS by level — set semantics make DFS
order irrelevant for reachability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plume_spark.operators.components import CHECKPOINT_EVERY


def out_neighbors(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """J6 one-hop out() — frontier join on subj."""
    return (
        nodes.join(edges, nodes["node"] == edges["subj"])
        .select(F.col("obj").alias("node"))
        .distinct()
    )


def roots(edges: DataFrame) -> DataFrame:
    """P7 degree predicate: nodes with out-edges but no in-edges (the DFS
    seed selection of OverflowDbReadBenchmark.scala:30-33) — semi-join on
    subj ∩ anti-join on obj."""
    subj = edges.select(F.col("subj").alias("node")).distinct()
    obj = edges.select(F.col("obj").alias("node")).distinct()
    return subj.join(obj, "node", "left_anti")


def reachable(edges: DataFrame, seeds: DataFrame, max_hops: int = 20) -> DataFrame:
    """J7 iterative traversal: all nodes reachable from seeds (astDFS analog,
    OverflowDbReadBenchmark.scala:52-78).  Frontier BFS with visited-set
    anti-join; localCheckpoint truncates lineage every few hops."""
    visited = seeds.select(F.col("node")).distinct().localCheckpoint(eager=True)
    frontier = visited
    for hop in range(max_hops):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["subj"])
            .select(F.col("obj").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        if hop % CHECKPOINT_EVERY == CHECKPOINT_EVERY - 1:
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt = nxt.cache()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def bfs_distances(edges: DataFrame, seeds: DataFrame, max_hops: int = 20) -> DataFrame:
    """Min-hop BFS distances from a seed set: ``(node, dist)`` with dist =
    length of the shortest directed path from any seed (distance-annotated
    variant of :func:`reachable`; the astDFS depth counter of
    OverflowDbReadBenchmark.scala:52-78 recast as synchronous frontier BFS).

    A node joins ``visited`` the first time a frontier reaches it, so its
    recorded dist is minimal by BFS level-order — no re-relaxation pass is
    needed.  Cost per hop is one shuffle (frontier⋈edges) plus the
    visited anti-join; cycles are handled by the anti-join, and lineage is
    truncated with localCheckpoint on the same cadence as the other
    iterative operators, so the plan stays O(1) deep at any hop count.
    """
    visited = (
        seeds.select(F.col("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["subj"])
            .select(F.col("obj").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
        )
        if hop % CHECKPOINT_EVERY == 0:
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt = nxt.cache()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def k_hop(edges: DataFrame, seeds: DataFrame, k: int) -> DataFrame:
    """Exactly-k-hop frontier (bounded traversal — the benchmarkable form).
    Duplicate seeds need no distinct of their own: each hop's distinct
    removes what they would add.  The edges are projected to non-null
    (subj, obj) once, so every hop joins the same plan and Spark reuses one
    exchange of it; an edge with a null obj is no edge here, so a null is
    never returned as a node.  Build ``seeds`` with ``session.local_frame``:
    a list-backed ``createDataFrame`` seed frame is a pickled Python RDD of
    ``defaultParallelism`` slices whose scan runs one Python task per slice
    on every call, while a local frame runs none."""
    if k == 0:
        return seeds.select("node").distinct()
    edges = edges.select("subj", "obj").filter(
        F.col("subj").isNotNull() & F.col("obj").isNotNull()
    )
    frontier = seeds.select("node")
    for _ in range(k):
        frontier = (
            frontier.join(edges, frontier["node"] == edges["subj"])
            .select(F.col("obj").alias("node"))
            .distinct()
        )
    return frontier


def parent_walk(edges: DataFrame, start: DataFrame, max_hops: int = 20) -> DataFrame:
    """astUp analog (root-ward walk, OverflowDbReadBenchmark.scala:70-78):
    repeatedly follow the unique in-edge; returns the set of ancestors."""
    out = start.select("node").distinct()
    frontier = out
    for _ in range(max_hops):
        frontier = (
            frontier.join(edges, frontier["node"] == edges["obj"])
            .select(F.col("subj").alias("node"))
            .distinct()
        )
        if frontier.isEmpty():
            break
        out = out.unionByName(frontier).distinct()
    return out


def point_lookup(nodes: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """J4 indexed point-lookup workload (1000 fullName lookups,
    OverflowDbReadBenchmark.scala:109-114): broadcast the key list, semi-join.
    Spark has no secondary index; the broadcast hash join IS the index probe
    (build side = keys, O(1) probe per row, one scan)."""
    return nodes.join(F.broadcast(keys), key_col, "left_semi")


def order_sum(nodes: DataFrame, col: str = "order") -> DataFrame:
    """A1 orderSum (OverflowDbReadBenchmark.scala:81-89): partial+final agg."""
    return nodes.agg(F.sum(col).alias("order_sum"))


def filtered_count(nodes: DataFrame, col: str = "order", gt: int = 2) -> DataFrame:
    """A2 callOrder (count where order > 2)."""
    return nodes.filter(F.col(col) > gt).agg(F.count("*").alias("n"))

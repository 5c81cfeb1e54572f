"""k-truss decomposition (edge-level cohesion peel).

The edge analog of PowerGraph's k-core peel
(toolkits/graph_analytics/kcore.cpp:70-185 iteratively deletes
under-degree vertices): the k-truss is the maximal subgraph in which
every edge is supported by >= k-2 triangles. The reference toolkit has
no truss; this extends the graph_analytics family with the kernel its
triangle counter uses.

Set-up, once: triangle_count's kernel (degree-ordered orientation,
sorted-list intersection per oriented edge) lists every triangle of
the edge set as (p < q < r).

Per peel round (all JVM, no Python):
- support = the occurrences of each edge in the triangle table (one
  partial-agg shuffle), 0-filled over the current edges;
- edges with support < k-2 drop, and so does every triangle that has a
  dropped edge; repeat until a round removes nothing.

A triangle of the surviving edges is a triangle of the set-up edges
whose three edges all survive, so the triangle table stays exactly the
current edge set's triangles and the intersection never re-runs. Each
round's edge and triangle tables materialize once via localCheckpoint,
so plans stay flat across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import Graph
from .triangle_count import (
    _TRIANGLE_EDGES, _edge_counts, _triangles, _und_edges,
)


def _support(cur: DataFrame, tri: DataFrame) -> DataFrame:
    """(a, b, support): every edge of ``cur`` with its count in ``tri``."""
    members = (  # unionAll is positional: every row is an (a, b) edge
        tri.select(F.col("p").alias("a"), F.col("q").alias("b"))
        .unionAll(tri.select("p", "r"))
        .unionAll(tri.select("q", "r"))
    )
    counts = members.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    return (
        cur.join(counts, ["a", "b"], "left")
        .select("a", "b", F.coalesce("support", F.lit(0)).alias("support"))
    )


def ktruss(
    graph: Graph, k: int, max_rounds: int = 100, verbose: bool = False,
    canonical_edges: bool = False,
) -> tuple[DataFrame, int]:
    """Returns ((a, b, support) — the k-truss edge set with each
    edge's triangle support inside the truss — and the number of peel
    rounds run). k >= 2; k=2 keeps every (self-loop-free) edge.
    ``canonical_edges=True`` asserts the edge rows are already strictly
    src < dst and unique, skipping the setup dedup exchange; it is
    checked (see triangle_count._und_edges)."""
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    need = k - 2
    cur = _und_edges(graph, canonical_edges).localCheckpoint(eager=True)
    ec, oriented = _edge_counts(cur, graph.num_partitions)
    tri = _triangles(ec).localCheckpoint(eager=True)
    oriented.unpersist()
    rounds = 0
    sup = _support(cur, tri).persist(StorageLevel.MEMORY_AND_DISK)
    while rounds < max_rounds:
        rounds += 1
        n_bad = sup.filter(F.col("support") < need).count()
        if verbose:
            print(f"[ktruss] round={rounds} removing={n_bad}")
        if n_bad == 0:
            break
        cur = (
            sup.filter(F.col("support") >= need)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        bad = sup.filter(F.col("support") < need)
        for x, y in _TRIANGLE_EDGES:
            tri = tri.join(
                bad.select(F.col("a").alias(x), F.col("b").alias(y)),
                [x, y], "left_anti",
            )
        tri = tri.localCheckpoint(eager=True)
        sup.unpersist()
        sup = _support(cur, tri).persist(StorageLevel.MEMORY_AND_DISK)
    out = sup.localCheckpoint(eager=True)
    sup.unpersist()
    return out, rounds

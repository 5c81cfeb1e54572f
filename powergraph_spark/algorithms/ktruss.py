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

Per peel round, one run_gas superstep over the edge state
(a, b, support, keep) (all JVM, no Python):
- every triangle with an edge the previous round flagged drops (three
  left-anti joins; the triangle table is materialized in the step);
- support = the occurrences of each kept edge in the triangle table
  (one partial-agg shuffle), 0-filled; keep = support >= k-2. The
  ballot counts the unkept edges; a round that flags none ends the run.

A triangle of the surviving edges is a triangle of the set-up edges
whose three edges all survive, so the triangle table stays exactly the
current edge set's triangles and the intersection never re-runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..gas import run_gas
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
    cur = _und_edges(graph, canonical_edges).localCheckpoint(eager=True)
    ec, oriented = _edge_counts(cur, graph.num_partitions)
    tri = _triangles(ec).localCheckpoint(eager=True)
    oriented.unpersist()

    def step(g: Graph, state: DataFrame, i: int) -> DataFrame:
        # drop the edges the previous step flagged and every triangle
        # that has one (the triangle table lives across steps), then
        # recount the kept edges' supports
        nonlocal tri
        if i > 0:
            bad = state.filter("NOT keep")
            for x, y in _TRIANGLE_EDGES:
                tri = tri.join(
                    bad.select(F.col("a").alias(x), F.col("b").alias(y)),
                    [x, y], "left_anti",
                )
            tri = tri.localCheckpoint(eager=True)
        kept = state.filter("keep").select("a", "b")
        return _support(kept, tri).withColumn("keep", F.col("support") >= k - 2)

    # superstep s checks what peel round s would: rounds == supersteps
    result = run_gas(
        graph, cur.withColumn("keep", F.lit(True)), step,
        observe_aggs=lambda: [F.expr("count_if(NOT keep)").alias("active")],
        max_iterations=max_rounds, verbose=verbose,
    )
    out = result.state
    if not result.converged:
        # a capped run returns the kept edges' recounted supports,
        # unchecked, as a peel round leaves them
        out = step(graph, out, result.supersteps)
    return out.select("a", "b", "support"), result.supersteps

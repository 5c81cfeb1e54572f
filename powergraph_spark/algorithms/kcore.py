"""k-core decomposition.

Reference: /root/reference/toolkits/graph_analytics/kcore.cpp:70-185.
Semantics: for each K, repeatedly delete vertices whose (undirected)
degree < K; deletions cascade (deleted vertices message their edge
counts to neighbors, :96-142). The reference reports per-K surviving
vertex/edge counts over [kmin, kmax].

Spark mapping: one peel wave is one run_gas superstep over the edge
state (src, dst, m, keep). It drops the edges the previous wave
flagged, recounts degrees and flags the edges of every vertex under
degree K; the ballot counts the flagged edges. `coreness` runs the
peeling once, recording for every vertex the largest K whose core
contains it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import run_gas
from ..graph import Graph


def _peel_input(graph: Graph, degree: str) -> DataFrame:
    """(src, dst, m) peel input projected from the graph's two-way
    view.

    degree='distinct' (default): m = 1 — a vertex's degree is its
    DISTINCT neighbor count. degree='multiset': m is the pair's
    ALL_EDGES multiplicity — a reciprocal directed pair (u,v),(v,u)
    counts TWICE, exactly the reference's num_in_edges()+num_out_edges()
    (kcore.cpp:154). The two semantics differ only on graphs with
    reciprocal directed edges; 'distinct' is the textbook k-core and
    the default, 'multiset' is reference-exact."""
    m = F.col("m") if degree == "multiset" else F.lit(1).cast("long")
    return graph.two_way_edges().select("src", "dst", m.alias("m"))


def _peel(graph: Graph, edges: DataFrame, k: int,
          max_iterations: int = 500) -> tuple[DataFrame, int | None]:
    """Cascade-peel `edges` (undirected (src, dst, m) view) to the
    k-core fixpoint on run_gas; degrees and edge counts are sums of m.
    Returns (core edges, their edge count sum(m); None if no wave ran)."""

    def step(g: Graph, state: DataFrame, i: int) -> DataFrame:
        # drop the edges the previous wave flagged, recount degrees,
        # and flag the edges of every vertex now under degree k
        e = state.filter("keep").select("src", "dst", "m")
        low = e.groupBy("src").agg(F.sum("m").alias("d")).filter(f"d < {k}")
        lo_s = low.selectExpr("src AS _ls").hint("shuffle_hash")
        lo_d = low.selectExpr("src AS _ld").hint("shuffle_hash")
        return (
            e.join(lo_s, e.src == lo_s._ls, "left")
            .join(lo_d, e.dst == lo_d._ld, "left")
            .selectExpr("src", "dst", "m", "_ls IS NULL AND _ld IS NULL AS keep")
        )

    # a doomed vertex always owns >= 1 edge, so a wave that flags no
    # edge is exactly the no-doomed fixpoint
    result = run_gas(
        graph, edges.withColumn("keep", F.lit(True)), step,
        observe_aggs=lambda: [
            F.expr("count_if(NOT keep)").alias("active"),
            F.expr("coalesce(sum(IF(keep, m, 0)), 0)").alias("metric"),
        ],
        max_iterations=max_iterations,
    )
    n = int(result.metrics[-1].metric) if result.metrics else None
    return result.state.filter("keep").select("src", "dst", "m"), n


def kcore_vertices(graph: Graph, k: int, max_iterations: int = 500,
                   degree: str = "distinct") -> DataFrame:
    """Vertex set (id) of the k-core."""
    core, _ = _peel(graph, _peel_input(graph, degree), k, max_iterations)
    return core.select(F.col("src").alias("id")).distinct()


def kcore_stats(graph: Graph, kmin: int, kmax: int,
                degree: str = "distinct") -> DataFrame:
    """(k, n_vertices, n_edges) per K — the reference's report
    (kcore.cpp:159-176). Peels incrementally: the (k+1)-core is
    computed from the k-core, not from scratch."""
    spark = graph.edges.sparkSession
    edges = _peel_input(graph, degree)
    rows = []
    for k in range(kmin, kmax + 1):
        edges, n = _peel(graph, edges, k)
        nv = edges.select("src").distinct().count()
        rows.append((k, nv, n // 2))
        if nv == 0:
            break
    return spark.createDataFrame(rows, "k int, n_vertices long, n_edges long")


def coreness(graph: Graph, kmax: int = 64,
             degree: str = "distinct") -> DataFrame:
    """(id, coreness): max K such that id is in the K-core. Peeling
    once, carrying the shrinking edge set across K."""
    edges = _peel_input(graph, degree)
    all_v = graph.vertices.select("id")
    core = all_v.select("id", F.lit(0).alias("coreness")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    for k in range(1, kmax + 1):
        edges, n = _peel(graph, edges, k)
        if n == 0:
            break
        survivors = edges.select(F.col("src").alias("id")).distinct()
        new_core = (
            core.join(survivors.withColumn("_in", F.lit(1)), "id", "left")
            .select(
                "id",
                F.when(F.col("_in").isNotNull(), k)
                .otherwise(F.col("coreness")).alias("coreness"),
            )
            .localCheckpoint(eager=True)
        )
        core.unpersist()
        core = new_core.persist(StorageLevel.MEMORY_AND_DISK)
    return core

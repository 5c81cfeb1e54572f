"""k-core decomposition.

Reference: /root/reference/toolkits/graph_analytics/kcore.cpp:70-185.
Semantics: for each K, repeatedly delete vertices whose (undirected)
degree < K; deletions cascade (deleted vertices message their edge
counts to neighbors, :96-142). The reference reports per-K surviving
vertex/edge counts over [kmin, kmax].

Spark mapping: the cascade is an iterative filter + degree recount on
a shrinking edge set — ONE job per peel wave: the survivor filter is
computed and materialized in the same job that counts it (via
DataFrame.observe accumulators), so no per-wave isEmpty()/count()
scans. `coreness` runs the peeling once, recording for every vertex
the largest K whose core contains it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import Graph


def _peel_input(graph: Graph, degree: str) -> tuple[DataFrame, int]:
    """(src, dst, m) peel input projected from the graph's two-way
    view, and its edge count sum(m).

    degree='distinct' (default): m = 1 — a vertex's degree is its
    DISTINCT neighbor count. degree='multiset': m is the pair's
    ALL_EDGES multiplicity — a reciprocal directed pair (u,v),(v,u)
    counts TWICE, exactly the reference's num_in_edges()+num_out_edges()
    (kcore.cpp:154). The two semantics differ only on graphs with
    reciprocal directed edges; 'distinct' is the textbook k-core and
    the default, 'multiset' is reference-exact. A projection, never the
    cached view itself: _peel unpersists its input."""
    m = F.col("m") if degree == "multiset" else F.lit(1).cast("long")
    edges = graph.two_way_edges().select("src", "dst", m.alias("m"))
    return edges, int(edges.agg(F.sum("m")).first()[0] or 0)


def _peel(edges: DataFrame, k: int, n_edges: int,
          max_iterations: int = 500) -> tuple[DataFrame, int]:
    """Cascade-peel `edges` (undirected (src, dst, m) view) to the
    k-core fixpoint; degrees and edge counts are sums of m. One job per
    wave: survivors + their count materialize together (observe).
    Returns (materialized core edges, count)."""
    for _ in range(max_iterations):
        deg = edges.groupBy(F.col("src").alias("id")).agg(
            F.sum("m").alias("d")
        )
        ok = deg.filter(F.col("d") >= k).select("id")
        obs = Observation()
        nxt = (
            edges.join(ok.hint("shuffle_hash"),
                       edges.src == ok.id, "leftsemi")
            .join(ok.hint("shuffle_hash"), edges.dst == ok.id, "leftsemi")
            .observe(obs, F.sum("m").alias("n"))
            .localCheckpoint(eager=True)
        )
        n = int(obs.get["n"] or 0)
        edges.unpersist()
        edges = nxt.persist(StorageLevel.MEMORY_AND_DISK)
        # a doomed vertex always owns >= 1 edge, so an unchanged edge
        # count is exactly the no-doomed fixpoint
        if n == n_edges:
            return edges, n
        n_edges = n
    return edges, n_edges


def kcore_vertices(graph: Graph, k: int, max_iterations: int = 500,
                   degree: str = "distinct") -> DataFrame:
    """Vertex set (id) of the k-core."""
    edges, n0 = _peel_input(graph, degree)
    core, _ = _peel(edges, k, n0, max_iterations)
    return core.select(F.col("src").alias("id")).distinct()


def kcore_stats(graph: Graph, kmin: int, kmax: int,
                degree: str = "distinct") -> DataFrame:
    """(k, n_vertices, n_edges) per K — the reference's report
    (kcore.cpp:159-176). Peels incrementally: the (k+1)-core is
    computed from the k-core, not from scratch."""
    spark = graph.edges.sparkSession
    edges, n = _peel_input(graph, degree)
    rows = []
    for k in range(kmin, kmax + 1):
        edges, n = _peel(edges, k, n)
        nv = edges.select("src").distinct().count()
        rows.append((k, nv, n // 2))
        if nv == 0:
            break
    edges.unpersist()
    return spark.createDataFrame(rows, "k int, n_vertices long, n_edges long")


def coreness(graph: Graph, kmax: int = 64,
             degree: str = "distinct") -> DataFrame:
    """(id, coreness): max K such that id is in the K-core. Peeling
    once, carrying the shrinking edge set across K."""
    edges, n = _peel_input(graph, degree)
    all_v = graph.vertices.select("id")
    core = all_v.select("id", F.lit(0).alias("coreness")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    for k in range(1, kmax + 1):
        edges, n = _peel(edges, k, n)
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
    edges.unpersist()
    return core

"""Single-source shortest paths.

Reference: /root/reference/toolkits/graph_analytics/sssp.cpp:96-201.
Semantics: message = min candidate distance (min_distance_type +=,
:49-60); apply keeps the min (:118-126); scatter relaxes
dist + edge.dist and signals improved neighbors (:137-165); source
dist = 0; unreachable vertices keep infinity. Directed by default
(--directed, :176-184); edge weight column optional (default 1.0,
matching init_edge :74-78 when no weights are loaded).

Spark mapping: classic frontier relaxation — messages flow only from
vertices improved last superstep, so work tracks the frontier exactly
like the reference's signal set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import GASResult, run_gas
from ..graph import Graph

INF = float("inf")


def sssp(
    graph: Graph,
    source: int | None = None,
    weight_col: str | None = None,
    directed: bool = True,
    max_iterations: int = 200,
    checkpoint=None,
    checkpoint_interval: int = 8,
    check_interval: int = 1,
    verbose: bool = False,
) -> GASResult:
    """Returns state (id, dist, changed). source=None picks the
    max-degree vertex (reference's default source selection via
    map_reduce_vertices, sssp.cpp:185-201; tie -> smallest id)."""
    P = graph.num_partitions
    w = (F.col(weight_col) if weight_col else F.lit(1.0)).cast("double")
    e = graph.edges.select("src", "dst", w.alias("w"))
    if not directed:
        e = e.unionAll(
            graph.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), w.alias("w")
            )
        )
    e = e.repartition(P, "src").persist(StorageLevel.MEMORY_AND_DISK)
    e.count()

    if source is None:
        deg = graph.degrees()
        source = (
            deg.orderBy(F.desc(F.col("in_deg") + F.col("out_deg")), F.asc("id"))
            .first()["id"]
        )

    init = graph.vertices.select(
        "id",
        F.when(F.col("id") == source, 0.0).otherwise(F.lit(INF)).alias("dist"),
        (F.col("id") == source).alias("changed"),
    ).repartition(P, "id")

    def step(g: Graph, state: DataFrame, i: int):
        # zero-exchange SHJ on co-partitioned frontier/edges + msgs/
        # state (see pagerank.py — stops AQE's per-superstep broadcast
        # of the full-|V| first frontiers).
        frontier = state.filter(F.col("changed")).select("id", "dist")
        msgs = (
            e.join(frontier.hint("shuffle_hash"), e.src == frontier.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        return (
            state.select("id", "dist")
            .join(msgs.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))).alias("nd"),
                "dist",
            )
            .select(
                "id",
                F.col("nd").alias("dist"),
                (F.col("nd") < F.col("dist")).alias("changed"),
            )
        )

    result = run_gas(
        graph, init, step,
        observe_aggs=lambda: [
            F.sum(F.col("changed").cast("long")).alias("active")
        ],
        max_iterations=max_iterations,
        checkpoint=checkpoint, checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        verbose=verbose,
    )
    e.unpersist()
    return result


def dijkstra_tree(
    graph: Graph,
    source: int,
    weight_col: str | None = None,
    directed: bool = True,
    max_iterations: int = 200,
) -> DataFrame:
    """(id, dist, parent): the shortest-path tree the reference's
    djikstra.cpp carries on each vertex (DjikstraNode.id = previous
    node on the best path, djikstra.cpp:26-47). Distances via the
    sssp frontier relaxation; the parent is recovered declaratively:
    parent(v) = MIN id among in-neighbors u with dist(u) + w == dist(v)
    (deterministic tie-break; the reference keeps whichever relaxation
    won the race). Source parent = -1. Unreachable vertices omitted."""
    res = sssp(graph, source=source, weight_col=weight_col,
               directed=directed, max_iterations=max_iterations)
    dist = res.state.filter(
        ~F.isnan("dist") & (F.col("dist") != float("inf"))
    ).select("id", "dist")
    w = (F.col(weight_col) if weight_col else F.lit(1.0)).cast("double")
    e = graph.edges.select("src", "dst", w.alias("w"))
    if not directed:
        e = e.unionAll(
            graph.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                w.alias("w"),
            )
        )
    du = dist.select(F.col("id").alias("src"), F.col("dist").alias("du"))
    dv = dist.select(F.col("id").alias("dst"), F.col("dist").alias("dv"))
    parents = (
        e.join(du, "src").join(dv, "dst")
        .filter(F.col("du") + F.col("w") == F.col("dv"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("parent"))
    )
    return (
        dist.join(parents, "id", "left")
        .select(
            "id", "dist",
            F.when(F.col("id") == source, F.lit(-1))
            .otherwise(F.col("parent")).cast("long").alias("parent"),
        )
    )

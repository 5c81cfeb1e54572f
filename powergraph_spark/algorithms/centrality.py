"""Betweenness / closeness centrality via multi-source BFS.

Reference: /root/reference/toolkits/graph_algorithms/betweeness.cpp
:167-310,341-360 and closeness.cpp — PowerGraph samples ~3000 root
vertices, builds one shortest-path tree per root (a map keyed by root
id on every vertex = the composite key), and averages per-tree scores.
We keep the same capability (sampled-source centrality over a
composite (source, vertex) key) but compute the standard exact
quantities per sampled source:

- closeness(v)   = |reached sources| / sum of dist(s, v) over sources
                   (classic closeness restricted to the sample;
                   closeness.cpp averages tree distances the same way)
- betweenness(v) = sum over sources s of Brandes' dependency
                   delta_s(v) — exact per source (the reference's
                   tree-descendant accumulation at betweeness.cpp:
                   341-351 is a coarser tree approximation; Brandes is
                   the standard estimator the feature exists for, and
                   is exactly checkable by a SQL oracle).

Spark mapping (the SURVEY §2.6 multi-source composite-key design):
state is keyed (src, id) so ALL sources advance in ONE frontier —
K sources cost the same number of supersteps as one. Forward pass =
level-synchronous BFS on run_gas, one superstep per level, accumulating
path counts sigma via a partially-aggregated groupBy; backward pass =
Brandes dependency accumulation walking levels deepest-first. Every join carries the shuffle_hash
hint over co-partitioned inputs (see pagerank.py).

Scale shape: frontier rows = |sources| x |frontier vertices|; edges
are read from the graph's src-hashed caches (directed betweenness
shuffles one dst-hashed copy); per-level shuffles touch only the
frontier. Depth is bounded by max_depth (web graphs: effective
diameter ~ tens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import run_gas
from ..graph import Graph


def multi_source_bfs(
    graph: Graph,
    sources: list[int],
    directed: bool = False,
    max_depth: int = 32,
) -> DataFrame:
    """(src, id, dist, sigma): hop distance and shortest-path count
    from every source to every reached vertex. Unweighted BFS —
    level-synchronous, all sources in one composite-key frontier."""
    spark = graph.edges.sparkSession
    P = graph.num_partitions
    # edge cols renamed (v -> w) so they never collide with the
    # composite source key column `src` carried by the frontier. Both
    # sources are src-hashed graph caches, so e is hashed by v.
    e = (
        graph.edges.select("src", "dst")
        if directed
        else graph.symmetrized_edges()
    ).select(F.col("src").alias("v"), F.col("dst").alias("w"))

    def step(g: Graph, state: DataFrame, i: int) -> DataFrame:
        # the frontier is the rows found last level; the (src, id)
        # pairs it reaches that are not yet visited are the next one
        level = state.filter("fresh")
        nxt = (
            e.join(level.hint("shuffle_hash"), e.v == level.id)
            .groupBy("src", "w")
            .agg(F.sum("sigma").alias("sigma"))
            .select("src", F.col("w").alias("id"), "sigma")
        )
        new = (
            nxt.join(
                state.select("src", "id").hint("shuffle_hash"),
                ["src", "id"],
                "left_anti",
            )
            .selectExpr("src", "id", f"{i + 1} AS dist", "sigma", "true AS fresh")
            .repartition(P, "id")
        )
        return state.withColumn("fresh", F.lit(False)).unionByName(new)

    init = spark.createDataFrame(
        [(int(s),) for s in sources], "src long"
    ).selectExpr("src", "src AS id", "0 AS dist", "1.0D AS sigma", "true AS fresh")
    result = run_gas(
        graph, init.repartition(P, "id"), step,
        observe_aggs=lambda: [F.expr("count_if(fresh)").alias("active")],
        max_iterations=max_depth,
    )
    return result.state.drop("fresh")


def closeness(
    graph: Graph,
    sources: list[int],
    directed: bool = False,
    max_depth: int = 32,
) -> DataFrame:
    """(id, n_sources, sum_dist, closeness): sampled-source closeness.
    closeness = n_sources / sum_dist (0.0 where sum_dist = 0, i.e. a
    vertex reached only by itself-as-source). Rounded 5dp for oracle
    comparison. Matches closeness.cpp's average-tree-distance output
    up to the reference's 1/avg convention."""
    bfs = multi_source_bfs(graph, sources, directed, max_depth)
    agg = bfs.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )
    return agg.select(
        "id",
        F.col("n_sources").cast("long").alias("n_sources"),
        "sum_dist",
        F.round(
            F.when(
                F.col("sum_dist") > 0,
                F.col("n_sources").cast("double") / F.col("sum_dist"),
            ).otherwise(F.lit(0.0)),
            5,
        ).alias("closeness"),
    )


def harmonic(
    graph: Graph,
    sources: list[int],
    directed: bool = False,
    max_depth: int = 32,
) -> DataFrame:
    """(id, n_reached, harmonic): sampled-source harmonic centrality
    sum_s 1/dist(s, v) over sources at positive distance (Boldi &
    Vigna's axiom-friendly variant of closeness — finite under
    disconnection, which closeness.cpp's average-distance output is
    not). Same BFS as closeness; one extra conditional aggregate.
    Rounded 5dp."""
    bfs = multi_source_bfs(graph, sources, directed, max_depth)
    pos = F.col("dist") > 0
    agg = bfs.groupBy("id").agg(
        F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("n_reached"),
        F.sum(
            F.when(pos, 1.0 / F.col("dist").cast("double")).otherwise(0.0)
        ).alias("h"),
    )
    return agg.select("id", "n_reached", F.round("h", 5).alias("harmonic"))


def betweenness(
    graph: Graph,
    sources: list[int],
    directed: bool = False,
    max_depth: int = 32,
) -> DataFrame:
    """(id, betweenness): Brandes dependency accumulation from the
    sampled sources (exact per source). betweenness(v) =
    sum_s delta_s(v), v != s, where
    delta_s(v) = sum_{w: succ of v in s's BFS dag}
                 sigma_s(v)/sigma_s(w) * (1 + delta_s(w)).
    Rounded 5dp."""
    spark = graph.edges.sparkSession
    P = graph.num_partitions
    bfs = multi_source_bfs(graph, sources, directed, max_depth).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    maxd = bfs.agg(F.max("dist")).first()[0] or 0

    # the dependency walk joins edges on their head w. The undirected
    # view is symmetric, so reading each pair as (dst, src) gives the
    # same edge set hashed by w; directed edges need a dst-hashed copy.
    if directed:
        e = (
            graph.edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
            .repartition(P, "w")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        e = graph.symmetrized_edges().select(
            F.col("dst").alias("v"), F.col("src").alias("w")
        )

    # deepest level: no successors -> delta = 0
    delta = bfs.filter(F.col("dist") == maxd).select(
        "src", "id", "sigma", F.lit(0.0).alias("delta")
    ).localCheckpoint(eager=True)
    acc = delta  # all (src, id, delta) rows accumulated level by level

    for d in range(maxd - 1, -1, -1):
        cur = bfs.filter(F.col("dist") == d).select("src", "id", "sigma")
        # successors of v at level d are BFS-dag neighbors at level d+1
        succ = delta.select(
            "src",
            F.col("id").alias("wid"),
            (F.lit(1.0) + F.col("delta")).alias("wfac"),
            F.col("sigma").alias("wsigma"),
        )
        contrib = (
            e.join(succ.hint("shuffle_hash"), e.w == succ.wid)
            .select("src", F.col("v").alias("vid"), "wfac", "wsigma")
            .groupBy("src", "vid")
            .agg(F.sum(F.col("wfac") / F.col("wsigma")).alias("ratio_sum"))
        )
        delta = (
            cur.join(
                contrib.withColumnRenamed("vid", "id").hint("shuffle_hash"),
                ["src", "id"],
                "left",
            )
            .select(
                "src",
                "id",
                "sigma",
                (F.col("sigma") * F.coalesce("ratio_sum", F.lit(0.0)))
                .alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        acc = acc.unionByName(delta).localCheckpoint(eager=True)

    out = (
        acc.filter(F.col("id") != F.col("src"))
        .groupBy("id")
        .agg(F.round(F.sum("delta"), 5).alias("betweenness"))
    )
    # vertices never reached (or only as sources) still get a row of 0
    result = (
        graph.vertices.select("id")
        .join(out, "id", "left")
        .select("id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"))
    )
    bfs.unpersist()
    if directed:
        e.unpersist()
    return result


def prestige(
    graph: Graph,
    sources: list[int],
    max_depth: int = 32,
) -> DataFrame:
    """(id, n_sources, sum_dist, prestige): proximity prestige over the
    sampled sources — how reachable v is FROM the sample along edge
    direction (prestige.cpp runs one Dijkstra tree per root and
    averages path costs per vertex; unweighted here, so tree distance
    = hop distance). prestige = n_sources / sum_dist, 0.0 when only
    self-reached. The same composite-key multi-source frontier as
    closeness, with direction fixed to OUT (source -> v paths)."""
    bfs = multi_source_bfs(graph, sources, directed=True, max_depth=max_depth)
    agg = bfs.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )
    return agg.select(
        "id",
        F.col("n_sources").cast("long").alias("n_sources"),
        "sum_dist",
        F.round(
            F.when(
                F.col("sum_dist") > 0,
                F.col("n_sources").cast("double") / F.col("sum_dist"),
            ).otherwise(F.lit(0.0)),
            5,
        ).alias("prestige"),
    )

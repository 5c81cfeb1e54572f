"""k-truss decomposition (edge-level cohesion peel).

The edge analog of the reference's k-core peel
(/root/reference/toolkits/graph_analytics/kcore.cpp:70-185 iteratively
deletes under-degree vertices): the k-truss is the maximal subgraph in
which every edge is supported by >= k-2 triangles. The reference
toolkit has no truss; this extends the graph_analytics family with the
same machinery its triangle counter already uses.

Per peel round (all JVM, no Python):
- degree-ordered orientation bounds every adjacency list by O(sqrt m)
  (triangle_count.py's skew-killer — a hub's full neighborhood never
  materializes on one join side);
- per-oriented-edge intersection |adj(lo) ∩ adj(hi)| enumerates each
  surviving triangle once; its three unordered edges each take one
  support credit (one partial-agg shuffle);
- edges with support < k-2 drop; repeat until a round removes nothing.

Rounds are data-dependent (usually a handful on dense graphs); each
round's surviving edge set materializes once via localCheckpoint, so
plans stay flat across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import Graph
from .triangle_count import _und_edges


def _edge_support(und: DataFrame) -> DataFrame:
    """(a, b, support) for an unordered unique (a < b) edge table."""
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    e = (
        und.join(da, und.a == F.col("da.id"))
        .join(db, und.b == F.col("db.id"))
        .select(
            "a", "b",
            F.col("da.deg").alias("deg_a"), F.col("db.deg").alias("deg_b"),
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    adj = oriented.groupBy(F.col("lo").alias("id")).agg(
        F.sort_array(F.collect_list("hi")).alias("nbrs")
    )
    alo, ahi = adj.alias("alo"), adj.alias("ahi")
    ec = (
        oriented.join(alo, oriented.lo == F.col("alo.id"), "left")
        .join(ahi, oriented.hi == F.col("ahi.id"), "left")
        .select(
            "lo", "hi",
            F.array_intersect(
                F.coalesce(F.col("alo.nbrs"), F.array().cast("array<long>")),
                F.coalesce(F.col("ahi.nbrs"), F.array().cast("array<long>")),
            ).alias("common"),
        )
    )
    pair = lambda x, y: [  # noqa: E731 — unordered edge key
        F.least(x, y).alias("a"), F.greatest(x, y).alias("b"),
    ]
    credits = (
        ec.select(*pair(F.col("lo"), F.col("hi")), F.size("common").alias("n"))
        .unionAll(
            ec.select(F.col("lo").alias("_u"), F.explode("common").alias("_w"))
            .select(*pair(F.col("_u"), F.col("_w")), F.lit(1).alias("n"))
        )
        .unionAll(
            ec.select(F.col("hi").alias("_u"), F.explode("common").alias("_w"))
            .select(*pair(F.col("_u"), F.col("_w")), F.lit(1).alias("n"))
        )
    )
    sup = credits.groupBy("a", "b").agg(F.sum("n").alias("support"))
    return (
        und.join(sup, ["a", "b"], "left")
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
    rounds = 0
    sup = _edge_support(cur).persist(StorageLevel.MEMORY_AND_DISK)
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
        sup.unpersist()
        sup = _edge_support(cur).persist(StorageLevel.MEMORY_AND_DISK)
    out = sup.localCheckpoint(eager=True)
    sup.unpersist()
    return out, rounds

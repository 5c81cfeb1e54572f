"""Synchronous modularity-ascent community detection (Louvain,
BSP-determinized): local-move rounds plus community-graph coarsening.

An engine extension (SURVEY §2.9) complementing label propagation
(/root/reference/toolkits/graph_analytics has LP only): every vertex
simultaneously joins the neighbor community with the highest
modularity gain (Blondel et al. 2008 local-move rule) evaluated
against the PREVIOUS round's assignment — the same BSP
determinization this repo uses for LP/SGD/Gibbs, so the result is
independent of partitioning and executor count. `louvain()` then
contracts communities into super-vertices (integer edge weights =
original edge counts, self-loops = internal mass) and repeats the
moves one level up, projecting labels back — the full Louvain shape.

Integer-exact scoring: all weights are integer edge counts, so the
×2m-scaled gain
    score(i, c) = 2m·k_{i,c} − k_i·(Σ_tot(c) − [c = c_i]·k_i)
involves NO float comparisons at any level — the oracle SQL replays
the argmax exactly and cross-engine rounding cannot flip a move.
(At 10^12-edge scale the products stay within int64 while
2m < ~3·10^9 and max weighted degree < ~10^5; beyond that the same
expression degrades to double with documented tie risk.)

Synchronous-oscillation guard: moves between two SINGLETON
communities are allowed only toward the smaller community id
(Lu, Halappanavar & Kalyanaraman 2015), which breaks the i↔j swap
cycle and lets cliques coalesce deterministically.

Plan shape per round: one groupBy for community masses, one
edge×label join + weighted pair aggregate for k_{i,c}, one
per-vertex partially-aggregated argmax (min-struct, no window), one
size-guard join — all JVM-side. The
coarsening is two label joins + one groupBy; each level shrinks the
vertex set to the community count, so upper levels are cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from .triangle_count import _und_edges


def _move_rounds(
    wund: DataFrame, deg: DataFrame, m: int, rounds: int
) -> DataFrame:
    """Synchronous local-move rounds on a weighted undirected graph.

    wund: (a, b, w) canonical a < b, no self-loops — self-loop weight
    is excluded from k_{i,c} (it moves with the vertex and cancels in
    gain comparisons) but must already be counted inside `deg`.
    deg: (id, deg) weighted degree incl. 2×self-loop weight.
    m: total edge weight (cross + self) — invariant across levels.
    Returns (id, community).
    """
    sym = wund.select("a", "b", "w").unionAll(
        wund.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    lab = deg.select("id", F.col("id").alias("community"))
    for _ in range(rounds):
        mass = (
            deg.join(lab, "id").groupBy("community").agg(F.sum("deg").alias("sigma"))
        )
        nbr_c = (
            sym.join(
                lab.select(F.col("id").alias("b"), F.col("community").alias("c")),
                "b",
            )
            .groupBy(F.col("a").alias("id"), "c")
            .agg(F.sum("w").alias("k_ic"))
        )
        own = lab.select("id", F.col("community").alias("c"))
        cand = nbr_c.join(own, ["id", "c"], "full").select(
            "id", "c", F.coalesce("k_ic", F.lit(0)).alias("k_ic")
        )
        scored = (
            cand.join(lab, "id")
            .join(deg, "id")
            .join(mass.withColumnRenamed("community", "c"), "c")
            .select(
                "id",
                "c",
                (
                    2 * F.lit(m) * F.col("k_ic")
                    - F.col("deg")
                    * (
                        F.col("sigma")
                        - F.when(F.col("c") == F.col("community"), F.col("deg"))
                        .otherwise(F.lit(0))
                    )
                ).alias("score"),
            )
        )
        # per-vertex argmax as an AGGREGATE, not a row_number window
        # (r5 verdict item 6 / r6 opt): min(struct(-score, c)) is the
        # same (max score, tie -> smallest c) selection — scores are
        # integer-exact so negation is lossless — but gets map-side
        # partial aggregation, so a hub's candidate rows combine before
        # the shuffle instead of all landing in one window task.
        best = scored.groupBy("id").agg(
            F.min(
                F.struct(
                    (-F.col("score")).alias("ns"), F.col("c").alias("c")
                )
            ).alias("b")
        ).select("id", F.col("b.c").alias("best_c"))
        sizes = lab.groupBy("community").agg(F.count(F.lit(1)).alias("n"))
        own_n = sizes.withColumnRenamed("community", "own_c").withColumnRenamed(
            "n", "own_n"
        )
        tgt_n = sizes.withColumnRenamed("community", "best_c").withColumnRenamed(
            "n", "tgt_n"
        )
        lab = (
            best.join(lab.withColumnRenamed("community", "own_c"), "id")
            .join(own_n, "own_c")
            .join(tgt_n, "best_c")
            .select(
                "id",
                F.when(
                    (F.col("own_n") == 1)
                    & (F.col("tgt_n") == 1)
                    & (F.col("best_c") > F.col("own_c")),
                    F.col("own_c"),
                )
                .otherwise(F.col("best_c"))
                .alias("community"),
            )
        )
        lab = lab.localCheckpoint(eager=True)  # truncate per-round lineage
    return lab


def _unit_inputs(graph: Graph):
    """(wund, deg, m) for the unweighted level-1 graph."""
    wund = _und_edges(graph).withColumn("w", F.lit(1).cast("long"))
    deg = (
        wund.select(F.col("a").alias("id"), "w")
        .unionAll(wund.select(F.col("b").alias("id"), "w"))
        .groupBy("id")
        .agg(F.sum("w").alias("deg"))
    )
    m = wund.count()
    return wund, deg, m


def louvain_moves(graph: Graph, rounds: int = 2) -> DataFrame:
    """(id, community) after `rounds` synchronous local-move rounds
    from singleton communities (level 1 only)."""
    wund, deg, m = _unit_inputs(graph)
    return _move_rounds(wund, deg, m, rounds)


def _contract(wedges: DataFrame, lab: DataFrame) -> DataFrame:
    """Contract a weighted canonical edge list (a, b, w — self-loops
    allowed) by a (id, community) map: (a, b, w) on community ids,
    a <= b, self-loops carrying the internal mass."""
    la = lab.select(F.col("id").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("id").alias("b"), F.col("community").alias("cb"))
    return (
        wedges.join(la, "a")
        .join(lb, "b")
        .select(
            F.least("ca", "cb").alias("a"),
            F.greatest("ca", "cb").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )


def community_graph(
    graph: Graph, labels: DataFrame, label_col: str = "community"
) -> DataFrame:
    """Public rollup: contract the graph's undirected edge set by any
    (id, <label_col>) map into a weighted super-graph (a, b, w) with
    a <= b — w = number of original edges between (or, on the
    diagonal, inside) the two communities. The host_graph shape,
    generalized to computed communities."""
    lab = labels.select("id", F.col(label_col).alias("community"))
    wund = _und_edges(graph).withColumn("w", F.lit(1).cast("long"))
    return _contract(wund, lab)


def louvain(
    graph: Graph, rounds_per_level: int = 2, levels: int = 2
) -> DataFrame:
    """Full multi-level Louvain: local moves, contract communities to
    a weighted super-graph (cross-community edge counts as weights,
    internal mass as self-loops), move again one level up, project
    back. Returns (id, community) on the ORIGINAL vertex ids."""
    wund, deg, m = _unit_inputs(graph)
    lab = _move_rounds(wund, deg, m, rounds_per_level)
    cur_edges = wund
    for _ in range(1, levels):
        ce = _contract(cur_edges, lab).persist()
        wund2 = ce.filter(F.col("a") != F.col("b"))
        wself2 = ce.filter(F.col("a") == F.col("b")).select(
            F.col("a").alias("id"), "w"
        )
        deg2 = (
            wund2.select(F.col("a").alias("id"), "w")
            .unionAll(wund2.select(F.col("b").alias("id"), "w"))
            .unionAll(wself2.select("id", (2 * F.col("w")).alias("w")))
            .groupBy("id")
            .agg(F.sum("w").alias("deg"))
        )
        lab_up = _move_rounds(wund2, deg2, m, rounds_per_level)
        # project: community of v = level-up community of v's community
        lab = (
            lab.join(
                lab_up.select(
                    F.col("id").alias("community"),
                    F.col("community").alias("community_up"),
                ),
                "community",
            )
            .select("id", F.col("community_up").alias("community"))
            .localCheckpoint(eager=True)
        )
        ce.unpersist()
        # carry self-loops forward so a further coarsening keeps the
        # internal mass of already-merged communities
        cur_edges = wund2.unionAll(
            wself2.select(F.col("id").alias("a"), F.col("id").alias("b"), "w")
        )
    return lab

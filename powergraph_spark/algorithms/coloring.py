"""Greedy graph coloring (Jones-Plassmann style) — three priority orders.

Reference: /root/reference/toolkits/graph_analytics/simple_coloring.cpp
:49-158 — gather the neighbor color set, apply the minimum free color;
the reference runs this on the ASYNC engine with edge consistency
because synchronous parallel recoloring oscillates. Spark is BSP, so we
use the Jones-Plassmann independent-set schedule, the standard
synchronous-parallel formulation of the same greedy: each round, every
uncolored vertex whose priority beats all uncolored neighbors takes the
minimum color unused by its colored neighbors. Same capability
contract — a valid coloring (validated like the reference's
zero-conflict check via map_reduce_edges, simple_coloring.cpp:262) —
with deterministic results (hash tie-breaks).

The reference ships three further colorers that differ ONLY in the
selection order; they map onto the same JP loop as priority swaps:

- order='jp'         priority = hash(id)                (simple_coloring.cpp)
- order='degree'     priority = (degree, hash)          — high-degree
  vertices color first; measurably fewer colors on power-law graphs
  (degree_ordered_coloring.cpp:1-401, priority at :150-170)
- order='saturation' priority = (saturation, degree, hash) — DSATUR:
  saturation = count of DISTINCT colors among already-colored
  neighbors, recomputed every wave
  (saturation_ordered_coloring.cpp:1-412, saturation gather at :120-190)

Loop discipline note: the per-wave `uncolored.isEmpty()` is a REAL
action on the filtered state and is REQUIRED — with localCheckpoint
alone this loop exhibits a per-wave task-time blowup (measured; see
BENCH notes). Do not replace it with observe/count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import Graph

ORDERS = ("jp", "degree", "saturation")


def coloring(
    graph: Graph,
    max_iterations: int = 200,
    order: str = "jp",
    check_interval: int = 1,
    verbose: bool = False,
) -> DataFrame:
    """Returns (id, color int). Deterministic for every order (hash
    tie-breaks). See module docstring for the three priority orders.

    ``check_interval=k`` evaluates the depletion check (the per-wave
    ``uncolored.isEmpty()`` job) only every k waves. Colors are
    IDENTICAL for any k: once every vertex is colored the wave is a
    fixed point (the uncolored candidate set is empty, so ``newly`` is
    empty and the state projection is the identity), so the at most
    k-1 overshoot waves are no-ops; runs that hit ``max_iterations``
    never overshoot at all. Measured r6 (sf0.01 co-graph, jp, 212
    waves): the ~31 ms isEmpty job × one per wave is ~9 % of the wall;
    k=4 cut 76.5 → 71.7 s with a byte-identical coloring. The isEmpty
    remains a REAL action on the filtered state (see module docstring)
    — only its frequency changes."""
    if order not in ORDERS:
        raise ValueError(f"order must be one of {ORDERS}, got {order!r}")
    P = graph.num_partitions
    sym = graph.symmetrized_edges()
    # co-partition state with the gather joins (hash by id == the join
    # key); filters below preserve the partitioning, so the hinted
    # shuffle-hash joins run with zero exchange on the state side —
    # the same discipline as pagerank.py (AQE otherwise broadcasts the
    # |V|-row uncolored set every wave).
    if order == "jp":
        base_prio = [F.xxhash64("id").alias("prio")]
        state = graph.vertices.select(
            "id", F.lit(None).cast("int").alias("color"), *base_prio
        ).repartition(P, "id").persist(StorageLevel.MEMORY_AND_DISK)
    else:
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        state = (
            graph.vertices.select("id")
            .join(deg, "id", "left")
            .select(
                "id",
                F.lit(None).cast("int").alias("color"),
                F.struct(
                    F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
                    F.xxhash64("id").alias("h"),
                ).alias("prio"),
            )
            .repartition(P, "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    # min free color given the gathered used-color set (empty set -> 0)
    def _free(used_col):
        return F.coalesce(
            F.element_at(
                F.filter(
                    F.sequence(F.lit(0), F.size(used_col)),
                    lambda c: ~F.array_contains(used_col, c),
                ), 1,
            ),
            F.lit(0),
        )

    beats = F.col("max_np").isNull() | (
        F.struct(F.col("p").alias("np"), F.col("id").alias("nid"))
        > F.struct(F.col("max_np").alias("np"), F.col("max_nid").alias("nid"))
    )

    if check_interval < 1:
        raise ValueError(f"check_interval must be >= 1, got {check_interval}")
    for it in range(max_iterations):
        uncolored = state.filter(F.col("color").isNull())
        if it % check_interval == 0 and uncolored.isEmpty():
            break
        # FUSED wave gather (r6 opt, byte-identical colors): ONE pass
        # over sym joined with the full state computes, per vertex, BOTH
        # the max priority among UNCOLORED neighbors (the JP winner
        # test) and the color set of COLORED neighbors (the min-free
        # input — and DSATUR's saturation IS its size, so the separate
        # countDistinct gather collapses into the same aggregate).
        # Replaces 2 (jp/degree) or 3 (saturation) sym-joins + shuffles
        # per wave with 1 (2 for saturation: the neighbor-priority
        # gather must see per-wave saturations, a chained gather).
        nbr = state.select(
            F.col("id").alias("src"), F.col("color").alias("nc"),
            F.col("prio").alias("np0"),
        )
        if order == "saturation":
            # NOTE: cand (carrying this g1 aggregate) feeds BOTH the
            # priority gather and the winner projection; the duplicate
            # subtree is served by Catalyst/AQE exchange reuse
            # (measured: the dsatur oracle query dropped ~246s ->
            # ~100s with this shape — a third sym pass would show up
            # immediately in that number if reuse ever broke).
            g1 = (
                sym.join(nbr.hint("shuffle_hash"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(
                    F.collect_set(
                        F.when(F.col("nc").isNotNull(), F.col("nc"))
                    ).alias("used")
                )
            )
            cand = (
                uncolored.join(g1.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    F.struct(
                        F.coalesce(F.size("used"), F.lit(0))
                        .cast("long").alias("sat"),
                        F.col("prio.deg").alias("deg"),
                        F.col("prio.h").alias("h"),
                    ).alias("p"),
                    F.coalesce(
                        "used", F.array().cast("array<int>")
                    ).alias("used"),
                )
            )
            nbr_prio = (
                sym.join(
                    cand.select(F.col("id").alias("src"), F.col("p").alias("np"))
                    .hint("shuffle_hash"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max(F.struct(F.col("np"), F.col("src").alias("nid")))
                     .alias("mx"))
                .select("id", F.col("mx.np").alias("max_np"),
                        F.col("mx.nid").alias("max_nid"))
            )
            newly = (
                cand.join(nbr_prio.hint("shuffle_hash"), "id", "left")
                .filter(beats)
                .select("id", _free(F.col("used")).alias("new_color"))
            )
        else:
            gath = (
                sym.join(nbr.hint("shuffle_hash"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(
                    F.max(
                        F.when(
                            F.col("nc").isNull(),
                            F.struct(F.col("np0").alias("np"),
                                     F.col("src").alias("nid")),
                        )
                    ).alias("mx"),
                    F.collect_set(
                        F.when(F.col("nc").isNotNull(), F.col("nc"))
                    ).alias("used"),
                )
            )
            newly = (
                uncolored.select("id", F.col("prio").alias("p"))
                .join(gath.hint("shuffle_hash"), "id", "left")
                .select(
                    "id", "p",
                    F.col("mx.np").alias("max_np"),
                    F.col("mx.nid").alias("max_nid"),
                    F.coalesce(
                        "used", F.array().cast("array<int>")
                    ).alias("used"),
                )
                .filter(beats)
                .select("id", _free(F.col("used")).alias("new_color"))
            )
        # materialization discipline UNCHANGED from r5 (measured, r6):
        # localCheckpoint severs the RDD lineage and the persist on top
        # makes the next wave's plans read an InMemoryRelation LEAF —
        # without it the state re-enters the wave plan through three
        # branches and the optimizer's origin-chain walk compounds
        # geometrically (the gas.truncate_plan failure mode; a
        # checkpoint-only variant of this loop was measured >3x slower
        # by wave ~200 during the r6 rewrite and reverted)
        new_state = (
            state.join(newly.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.coalesce("color", F.col("new_color")).alias("color"),
                "prio",
            )
            .localCheckpoint(eager=True)
        )
        state.unpersist()
        state = new_state.persist(StorageLevel.MEMORY_AND_DISK)
        if verbose:
            print(f"[coloring:{order}] round {it}")

    return state.select("id", F.col("color").cast("int").alias("color"))


def count_colors(colors: DataFrame) -> int:
    """Number of distinct colors used (the quality metric the ordered
    variants improve). A NULL color (vertex left uncolored because the
    wave loop hit max_iterations) is NOT a color — counting it would
    inflate the metric and mask the incomplete coloring, so it raises."""
    row = colors.agg(
        F.count_distinct("color").alias("n"),
        F.sum(F.col("color").isNull().cast("long")).alias("nulls"),
    ).first()
    if row["nulls"]:
        raise ValueError(
            f"{row['nulls']} vertices are uncolored (NULL color) — "
            "the coloring did not complete; raise max_iterations"
        )
    return int(row["n"])


def count_conflicts(graph: Graph, colors: DataFrame) -> int:
    """Zero-conflict validation (simple_coloring.cpp:262):
    map_reduce_edges counting monochromatic edges."""
    a = colors.select(F.col("id").alias("src"), F.col("color").alias("ca"))
    b = colors.select(F.col("id").alias("dst"), F.col("color").alias("cb"))
    return (
        graph.edges.join(a, "src").join(b, "dst")
        .filter(F.col("ca") == F.col("cb"))
        .count()
    )

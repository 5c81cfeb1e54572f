"""Strongly connected components — Trim + forward-max coloring +
backward containment (the FW-BW / Orzan coloring family, public).

The reference ships undirected CC only
(/root/reference/toolkits/graph_analytics/connected_component.cpp);
this extends the directed toolkit on the same superstep discipline.

Phase structure (each phase removes every SCC it identifies):
  1. TRIM to exhaustion: a remaining vertex with no in-edges or no
     out-edges is its own SCC (it can't lie on a cycle) — iterative
     peeling dissolves chains/tails that would otherwise cost one
     coloring phase each (the classic FW-BW-Trim speedup).
  2. Forward MAX-label propagation to fixpoint: color(v) = max id
     among v and its ancestors. A root r (color(r) = r) is the
     maximum id of its SCC, and every SCC member has color r.
  3. Backward containment: starting from the roots, grow S along
     REVERSED edges restricted to equal colors; S is exactly the
     union of the roots' SCCs (the equal-color restriction is
     complete: any v->..->r path stays inside color r).
  4. Remove S, repeat on the remainder.

Scale shape: every inner step is the CC superstep plan — frontier
scatter join (shuffle-hash, zero-exchange against the co-partitioned
edge view) + partial/final agg + apply — with origin-free
materialization per step. The per-phase restricted edge views persist
and co-partition on the join keys; labels are the only iterating
state. Phase count is graph-dependent (bounded by max_phases);
Trim + coloring handles the web graph's bow-tie shape in few phases.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import truncate_plan
from ..graph import Graph


@dataclass
class SCCResult:
    state: DataFrame   # (id, scc) — scc = max vertex id in the SCC
    phases: int
    n_sccs: int


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def scc(
    graph: Graph,
    max_phases: int = 64,
    max_iterations: int = 500,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> SCCResult:
    """Exact SCC labeling: (id, scc) with scc = the maximum vertex id
    of the component (deterministic canonical label)."""
    P = num_partitions or graph.num_partitions
    assigned: list[DataFrame] = []
    remaining = _persist(
        graph.vertices.select("id").repartition(P, "id")
    )
    edges = graph.edges.select("src", "dst")

    phases = 0
    while True:
        n = remaining.count()
        if n == 0:
            break
        phases += 1
        if phases > max_phases:
            raise RuntimeError(
                f"scc: exceeded max_phases={max_phases} "
                f"({n} vertices unresolved)"
            )
        # restrict edges to the remaining vertices
        er = _persist(
            edges.join(
                remaining.selectExpr("id AS src").hint("shuffle_hash"),
                "src",
            )
            .join(
                remaining.selectExpr("id AS dst").hint("shuffle_hash"),
                "dst",
            )
            .select("src", "dst")
            .repartition(P, "src")
        )

        # ---- 1. trim to exhaustion -------------------------------
        # live/e_live handles owned here: every replaced persist is
        # released (the initial ones — remaining/er — are released by
        # the phase epilogue, so only trim-created ones unpersist)
        live = remaining
        e_live = er
        trimmed: list[DataFrame] = []
        while True:
            has_out = e_live.select("src").distinct()
            has_in = e_live.select("dst").distinct()
            keep = truncate_plan(
                live.join(
                    has_out.selectExpr("src AS id").hint("shuffle_hash"),
                    "id",
                )
                .join(
                    has_in.selectExpr("dst AS id").hint("shuffle_hash"),
                    "id",
                )
            )
            n_keep = keep.count()
            if n_keep == live.count():
                break
            peeled = truncate_plan(
                live.join(keep.hint("shuffle_hash"), "id", "left_anti")
                .select("id", F.col("id").alias("scc"))
            )
            trimmed.append(peeled)
            old_live, old_elive = live, e_live
            live = _persist(keep.repartition(P, "id"))
            e_live = _persist(
                old_elive.join(
                    live.selectExpr("id AS src").hint("shuffle_hash"),
                    "src",
                )
                .join(
                    live.selectExpr("id AS dst").hint("shuffle_hash"),
                    "dst",
                )
                .select("src", "dst")
                .repartition(P, "src")
            )
            if old_live is not remaining:
                old_live.unpersist()
            if old_elive is not er:
                old_elive.unpersist()
            if n_keep == 0:
                break
        assigned.extend(trimmed)
        if verbose:
            print(f"[scc] phase {phases}: trim left {live.count()}")
        if live.count() == 0:
            er.unpersist()
            if live is not remaining:
                live.unpersist()
            if e_live is not er:
                e_live.unpersist()
            remaining.unpersist()
            remaining = _persist(
                graph.vertices.sparkSession.createDataFrame(
                    [], "id long"
                )
            )
            continue

        # ---- 2. forward max-label propagation --------------------
        color = truncate_plan(
            live.select(
                "id",
                F.col("id").alias("color"),
                F.lit(True).alias("changed"),
            )
        )
        for _ in range(max_iterations):
            frontier = color.filter("changed").selectExpr(
                "id AS src", "color"
            )
            msgs = (
                e_live.join(frontier.hint("shuffle_hash"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max("color").alias("rcv"))
            )
            color = truncate_plan(
                color.select("id", "color")
                .join(msgs.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    F.greatest(
                        "color", F.coalesce("rcv", F.col("color"))
                    ).alias("nc"),
                    "color",
                )
                .select(
                    "id",
                    F.col("nc").alias("color"),
                    (F.col("nc") > F.col("color")).alias("changed"),
                )
            )
            if color.filter("changed").count() == 0:
                break

        # ---- 3. backward containment within equal colors ---------
        ec = _persist(
            e_live.join(
                color.selectExpr("id AS src", "color AS cs"), "src"
            )
            .join(color.selectExpr("id AS dst", "color AS cd"), "dst")
            .filter(F.col("cs") == F.col("cd"))
            .select("src", "dst", F.col("cs").alias("c"))
            .repartition(P, "dst")
        )
        S = truncate_plan(
            color.filter(F.col("color") == F.col("id")).select(
                "id", F.col("color").alias("scc")
            )
        )
        frontier = S
        for _ in range(max_iterations):
            cand = (
                ec.join(
                    frontier.selectExpr("id AS dst").hint(
                        "shuffle_hash"
                    ),
                    "dst",
                )
                .select(
                    F.col("src").alias("id"), F.col("c").alias("scc")
                )
                .distinct()
            )
            newly = truncate_plan(
                cand.join(
                    S.select("id").hint("shuffle_hash"),
                    "id",
                    "left_anti",
                )
            )
            if newly.count() == 0:
                break
            S = truncate_plan(S.unionAll(newly))
            frontier = newly
        assigned.append(S)
        if verbose:
            print(f"[scc] phase {phases}: assigned {S.count()}")

        # ---- 4. shrink --------------------------------------------
        new_rem = _persist(
            live.join(S.select("id").hint("shuffle_hash"), "id",
                      "left_anti").repartition(P, "id")
        )
        er.unpersist()
        ec.unpersist()
        if live is not remaining:
            live.unpersist()
        if e_live is not er:
            e_live.unpersist()
        remaining.unpersist()
        remaining = new_rem

    out = assigned[0] if assigned else graph.vertices.sparkSession.createDataFrame([], "id long, scc long")
    for part in assigned[1:]:
        out = out.unionAll(part)
    out = truncate_plan(out.select("id", F.col("scc").cast("long")))
    n_sccs = out.select("scc").distinct().count()
    remaining.unpersist()
    return SCCResult(state=out, phases=phases, n_sccs=n_sccs)

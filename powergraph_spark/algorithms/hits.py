"""HITS hubs & authorities (Kleinberg 1998).

Canonical link-analysis companion to PageRank for web graphs: a page
is a good AUTHORITY if many good hubs link to it, a good HUB if it
links to many good authorities — two interleaved power iterations
(a = Aᵀh then h = Aa, each L2-normalized). The reference toolkit has
no HITS; this extends the link-graph surface the same way
personalized/weighted PageRank do, following top_eigenvector's proven
plan style (eigen.py): each half-step is one mat-vec (scatter join +
partial-agg sum) materialized via localCheckpoint, with the L2 norm
folded back in as a literal so every projection stays
whole-stage-codegen. Per iteration: 2 joins + 2 aggs + one tiny norm
row per half-step — at 100 TB only (id, value) rows shuffle.

Classic update order (authorities from CURRENT hubs, hubs from the
NEW authorities) — deterministic at any parallelism, replayable in
ANSI SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import Graph


def hits(
    graph: Graph,
    max_iterations: int = 20,
    tol: float = 1e-8,
    verbose: bool = False,
) -> tuple[DataFrame, int, bool]:
    """Returns ((id, hub, auth) with both columns L2-normalized,
    iterations run, converged?). Convergence: max per-vertex change of
    the normalized authority vector <= tol. Vertices with no in-links
    (out-links) get authority (hub) 0."""
    P = graph.num_partitions
    edges = graph.edges.select("src", "dst")
    verts = graph.vertices.select("id").repartition(P, "id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    verts.count()

    def matvec(vec: DataFrame, col: str, key_in: str, key_out: str,
               out: str) -> DataFrame:
        """A (or Aᵀ) times vec: join on key_in, sum per key_out."""
        contrib = (
            edges.join(
                vec.selectExpr(f"id AS _j", f"{col} AS _x").hint(
                    "shuffle_hash"
                ),
                F.col(key_in) == F.col("_j"),
            )
            .groupBy(F.col(key_out).alias("id"))
            .agg(F.sum("_x").alias(out))
        )
        return (
            verts.join(contrib.hint("shuffle_hash"), "id", "left")
            .selectExpr("id", f"coalesce({out}, 0.0) AS {out}")
        )

    def normalized(vec: DataFrame, col: str) -> DataFrame:
        ss = vec.agg(F.sum(F.col(col) * F.col(col))).first()[0]
        norm = math.sqrt(float(ss or 0.0))
        if norm == 0.0:
            return vec.localCheckpoint(eager=True)
        return vec.selectExpr(
            "id", f"{col} / {norm!r} AS {col}"
        ).localCheckpoint(eager=True)

    h = verts.selectExpr("id", "CAST(1.0 AS DOUBLE) AS hub")
    h = normalized(h, "hub")
    a_prev: DataFrame | None = None
    a = None
    it = 0
    converged = False
    for it in range(1, max_iterations + 1):
        a = normalized(matvec(h, "hub", "src", "dst", "auth"), "auth")
        h = normalized(matvec(a, "auth", "dst", "src", "hub"), "hub")
        if a_prev is not None:
            delta = (
                a.join(a_prev.selectExpr("id", "auth AS _p"), "id")
                .agg(F.max(F.abs(F.col("auth") - F.col("_p"))))
                .first()[0]
            )
            if verbose:
                print(f"[hits] it={it} max|Δauth|={delta:.3e}")
            if delta is not None and float(delta) <= tol:
                converged = True
                a_prev = a
                break
        a_prev = a
    out = (
        h.join(a, "id")
        .select("id", "hub", "auth")
        .localCheckpoint(eager=True)
    )
    verts.unpersist()
    return out, it, converged

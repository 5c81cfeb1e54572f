"""HITS hubs & authorities (Kleinberg 1998).

Canonical link-analysis companion to PageRank for web graphs: a page
is a good AUTHORITY if many good hubs link to it, a good HUB if it
links to many good authorities — two interleaved power iterations
(a = Aᵀh then h = Aa, each L2-normalized). The reference toolkit has
no HITS; this extends the link-graph surface the same way
personalized/weighted PageRank do.

One iteration is one :func:`~powergraph_spark.gas.run_gas` superstep
over the state (id, hub, auth, dauth). Each half-step is one mat-vec
(scatter join + partial-agg sum) joined back onto the state and
materialized once; its L2 norm rides that materialization job as an
observed sum of squares and is folded back in as a literal, so every
projection stays whole-stage-codegen and the mat-vec never runs twice.
Only (id, value) rows shuffle. ``dauth`` = |auth - previous auth| is the termination
ballot: a vertex is active while it is NULL (first iteration) or
above ``tol``.

Classic update order (authorities from CURRENT hubs, hubs from the
NEW authorities) — deterministic at any parallelism, replayable in
ANSI SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..gas import run_gas
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
    edges = graph.edges.select("src", "dst")

    def scaled(col: str, norm: float) -> str:
        return f"{col} / {norm!r} AS {col}" if norm else col

    def half_step(state: DataFrame, col: str, key_in: str, key_out: str,
                  out: str) -> tuple[DataFrame, float]:
        """state plus ``out`` = A (or Aᵀ) times state[col], materialized,
        and the L2 norm of ``out`` observed by the same job."""
        contrib = (
            edges.join(
                state.selectExpr("id AS _j", f"{col} AS _x").hint(
                    "shuffle_hash"
                ),
                F.col(key_in) == F.col("_j"),
            )
            .groupBy(F.col(key_out).alias("id"))
            .agg(F.sum("_x").alias("_s"))
        )
        obs = Observation()
        raw = (
            state.join(contrib.hint("shuffle_hash"), "id", "left")
            .selectExpr("*", f"coalesce(_s, 0.0) AS {out}")
            .drop("_s")
            .observe(obs, F.sum(F.col(out) * F.col(out)).alias("ss"))
            .localCheckpoint(eager=True)
        )
        return raw, math.sqrt(float(obs.get["ss"] or 0.0))

    def step(g: Graph, state: DataFrame, i: int) -> DataFrame:
        a, na = half_step(state.selectExpr("id", "hub", "auth AS _prev"),
                          "hub", "src", "dst", "auth")
        a = a.selectExpr("id", "_prev", scaled("auth", na))
        h, nh = half_step(a, "auth", "dst", "src", "hub")
        return h.selectExpr(
            "id", scaled("hub", nh), "auth", "abs(auth - _prev) AS dauth"
        )

    # the uniform hub vector, L2-normalized; auth starts NULL so the
    # first iteration always votes active
    n = graph.num_vertices()
    hub0 = 1.0 / math.sqrt(n) if n else 0.0
    init = graph.vertices.select("id").repartition(
        graph.num_partitions, "id"
    ).selectExpr(
        "id",
        f"CAST({hub0!r} AS DOUBLE) AS hub",
        "CAST(NULL AS DOUBLE) AS auth",
        "CAST(NULL AS DOUBLE) AS dauth",
    )
    result = run_gas(
        graph, init, step,
        observe_aggs=lambda: [
            F.expr(f"count_if(dauth IS NULL OR dauth > {float(tol)!r})")
            .alias("active"),
            F.max("dauth").alias("metric"),
        ],
        max_iterations=max_iterations, verbose=verbose,
    )
    return (result.state.select("id", "hub", "auth"), result.supersteps,
            result.converged)

"""Top eigenvector via power iteration (TSC analog).

Reference: /root/reference/toolkits/graph_analytics/TSC.cpp:87-310 —
repeated warp::map_reduce_neighborhood mat-vec products with
transform_vertices normalization, inner products via
map_reduce_vertices. Also covers eigen_vector_normalization.cpp.

Spark mapping: mat-vec = the same edge join + sum aggregation as the
PageRank gather; norms/dots = vertices.agg — exactly the reference's
primitives, so this rides the tuned GAS machinery.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..gas import run_gas
from ..graph import Graph


def top_eigenvector(
    graph: Graph,
    max_iterations: int = 50,
    tol: float = 1e-7,
    symmetric: bool = True,
    verbose: bool = False,
) -> tuple[DataFrame, float]:
    """Returns ((id, value) unit eigenvector, eigenvalue estimate) of
    the (symmetrized) adjacency matrix. Deterministic init x0 = 1/sqrt(n).
    """
    # both views are src-hashed graph caches: no copy to build or release
    edges = (
        graph.symmetrized_edges() if symmetric
        else graph.edges.select("src", "dst")
    )

    def step(g: Graph, state: DataFrame, i: int) -> DataFrame:
        # y = A v (mat-vec == gather join + sum agg) joined onto the
        # state and materialized once; |y|^2 and y.v (the Rayleigh
        # quotient, v unit) ride that job as observed sums
        y = (
            edges.join(state.selectExpr("id AS _j", "v AS _x").hint(
                "shuffle_hash"), edges.src == F.col("_j"))
            .groupBy(F.col("dst").alias("id")).agg(F.sum("_x").alias("_s"))
        )
        obs = Observation()
        y = (
            state.join(y.hint("shuffle_hash"), "id", "left")
            .selectExpr("id", "v", "lam", "coalesce(_s, 0.0) AS y")
            .observe(obs, F.expr("sum(y * y)").alias("yy"),
                     F.expr("sum(y * v)").alias("xy"))
            .localCheckpoint(eager=True)
        )
        norm, xy = math.sqrt(obs.get["yy"]), obs.get["xy"]
        if norm == 0.0:  # A v = 0: keep v, report lambda 0 and stop
            return y.selectExpr("id", "v", "0.0D AS lam", "0.0D AS dlam")
        return y.selectExpr("id", f"y / {norm} AS v", f"{xy!r}D AS lam",
                            f"abs({xy!r}D - lam) AS dlam")

    # lam and dlam are the same on every row: the run stops once the
    # Rayleigh quotient moves by at most tol * max(1, |lambda|)
    init = graph.vertices.selectExpr(
        "id", f"{1.0 / math.sqrt(graph.num_vertices())!r}D AS v",
        "0.0D AS lam", "CAST(NULL AS DOUBLE) AS dlam",
    )
    result = run_gas(
        graph, init, step,
        observe_aggs=lambda: [
            F.expr(f"count_if(dlam IS NULL OR dlam > {float(tol)!r}D "
                   "* greatest(1.0D, abs(lam)))").alias("active"),
            F.max("lam").alias("metric"),
        ],
        max_iterations=max_iterations, verbose=verbose,
    )
    lam = result.metrics[-1].metric if result.metrics else 0.0
    return result.state.select("id", "v"), lam


def normalize_eigenvector(
    vec: DataFrame, value_col: str = "v", out_col: str | None = None
) -> DataFrame:
    """L2-normalize a per-vertex vector column — the standalone
    eigen-vector-normalization utility
    (/root/reference/toolkits/graph_analytics/eigen_vector_normalization.cpp
    :15-27,159-161: sum of squares -> sqrt -> divide). One aggregate +
    one projection; the aggregate result is folded in as a literal so
    the projection stays whole-stage-codegen."""
    out = out_col or value_col
    ss = vec.agg(F.sum(F.col(value_col) * F.col(value_col))).first()[0]
    norm = math.sqrt(float(ss or 0.0))
    if norm == 0.0:
        return vec.withColumn(out, F.col(value_col) * 0.0)
    return vec.withColumn(out, F.col(value_col) / F.lit(norm))

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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

    n = graph.num_vertices()
    x = graph.vertices.select(
        "id", F.lit(1.0 / math.sqrt(n)).alias("v")
    ).localCheckpoint(eager=True)

    lam = 0.0
    for it in range(max_iterations):
        # y = A x  (mat-vec == gather join + sum agg)
        y = (
            edges.join(x.selectExpr("id", "v AS xv"), edges.src == F.col("id"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("xv").alias("y"))
        )
        y = (
            graph.vertices.select("id")
            .join(y, "id", "left")
            .selectExpr("id", "coalesce(y, 0.0) AS y")
            .localCheckpoint(eager=True)
        )
        row = (
            y.join(x, "id")
            .agg(
                F.sum(F.col("y") * F.col("y")).alias("yy"),
                F.sum(F.col("y") * F.col("v")).alias("xy"),
            )
            .first()
        )
        norm = math.sqrt(float(row["yy"] or 0.0))
        new_lam = float(row["xy"] or 0.0)  # Rayleigh quotient (x unit)
        if norm == 0.0:
            return x, 0.0
        x = y.selectExpr("id", f"y / {norm} AS v").localCheckpoint(eager=True)
        if verbose:
            print(f"[eigen] it={it} lambda={new_lam:.8f}")
        if abs(new_lam - lam) <= tol * max(1.0, abs(new_lam)):
            lam = new_lam
            break
        lam = new_lam

    return x, lam


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

"""Whole-graph summary metrics: local clustering coefficients,
degree assortativity, and modularity of a community assignment.

These extend the reference's per-vertex triangle toolkit
(/root/reference/toolkits/graph_analytics/undirected_triangle_count.cpp:350-660,
PER_VERTEX_COUNT mode) with the three standard link-graph summary
statistics computed FROM those counts — the numbers a crawl-analytics
user reads off the graph before deciding how to sample it. All three
are pure DataFrame aggregations over the undirected edge view:

- local clustering coefficient: lcc(v) = 2*T(v) / (d(v)*(d(v)-1)),
  T(v) from the degree-ordered triangle intersection — no extra
  shuffle beyond the triangle pass itself plus one degree join;
- degree assortativity: Pearson correlation of (deg(u), deg(v)) over
  the symmetrized edge list (Newman 2002, eq. 4 in its correlation
  form) — two degree joins + one JVM `corr` aggregate, no Python;
- modularity: Q = sum_c [ L_c/m - (D_c/(2m))^2 ] for a given label
  column (e.g. label-propagation communities) — integer aggregates
  (per-community internal-edge count and degree mass) first, float
  math only in the final scalar expression, so the value is exact up
  to one ~|C|-term float sum.

Scale shape: every step is a partial-aggregated groupBy or a
broadcast-able dimension join; nothing materializes per-pair state
beyond the triangle pass the repo already bounds by orientation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from .triangle_count import (
    _und_degrees,
    _und_edges,
    triangle_count,
    triangle_total,
)


def local_clustering_coefficients(
    graph: Graph, canonical_edges: bool = False
) -> DataFrame:
    """Per-vertex (id, degree, n_triangles, lcc).

    lcc = 2*T / (d*(d-1)) for d >= 2, else 0.0. Triangle counts come
    from the oriented-intersection pass (triangle_count.py:97), so the
    marginal cost over a triangle query is one degree aggregation and
    one co-partitioned join.
    """
    per_v, _total = triangle_count(graph, canonical_edges=canonical_edges)
    deg = _und_degrees(_und_edges(graph, canonical_edges))
    d = F.col("deg").cast("double")
    return (
        per_v.join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("deg", F.lit(0)).alias("degree"),
            "n_triangles",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                2.0 * F.col("n_triangles") / (d * (d - 1.0)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def degree_assortativity(
    graph: Graph, canonical_edges: bool = False
) -> DataFrame:
    """One row (assortativity): Pearson correlation of endpoint
    degrees over the symmetrized undirected edge list (each edge
    counted in both directions, which makes the statistic symmetric
    without a remaining-degree correction term).
    """
    und = _und_edges(graph, canonical_edges)
    deg = _und_degrees(und)
    sym = und.select("a", "b").unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    return (
        sym.join(da, "a")
        .join(db, "b")
        .agg(
            F.corr(
                F.col("deg_a").cast("double"), F.col("deg_b").cast("double")
            ).alias("assortativity")
        )
    )


def transitivity(graph: Graph, canonical_edges: bool = False) -> DataFrame:
    """One row (n_triangles, n_wedges, transitivity): global
    clustering coefficient 3*T / W with W = sum_v d(v)*(d(v)-1)/2.
    One triangle pass + one degree aggregate; the ratio is a single
    driver-side-free scalar expression. Uses the total-only triangle
    path (no per-vertex cache — r6 opt)."""
    total = triangle_total(graph, canonical_edges=canonical_edges)
    deg = _und_degrees(_und_edges(graph, canonical_edges))
    d = F.col("deg").cast("double")
    w = deg.agg(F.sum(d * (d - 1.0) / 2.0).alias("w")).collect()[0]["w"]
    spark = graph.edges.sparkSession
    t = float(total)
    ratio = 3.0 * t / w if w and w > 0 else 0.0
    return spark.createDataFrame(
        [(int(total), int(w), ratio)],
        "n_triangles long, n_wedges long, transitivity double",
    )


def reciprocity(graph: Graph) -> DataFrame:
    """One row (n_directed, n_reciprocal, reciprocity): fraction of
    directed edges whose reverse edge also exists (self-loops
    excluded). A single self-semi-join on the reversed key — at scale
    this is the same co-partitioned shuffle both sides already share.
    """
    e = graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n = e.count()
    r = e.join(rev, ["src", "dst"], "left_semi").count()
    spark = graph.edges.sparkSession
    return spark.createDataFrame(
        [(n, r, (float(r) / n) if n else 0.0)],
        "n_directed long, n_reciprocal long, reciprocity double",
    )


def modularity(
    graph: Graph,
    labels: DataFrame,
    label_col: str = "label",
    canonical_edges: bool = False,
) -> DataFrame:
    """One row (modularity, n_communities) for a vertex->label map.

    Q = sum_c [ L_c/m - (D_c/(2m))^2 ] with m = |undirected edges|,
    L_c = edges internal to community c, D_c = degree mass of c.
    `labels` must carry (id, <label_col>). All heavy aggregation is
    integer-exact; the float expression is evaluated once per
    community, then summed.
    """
    und = _und_edges(graph, canonical_edges)
    deg = _und_degrees(und)
    lab = labels.select("id", F.col(label_col).alias("_c"))
    la = lab.select(F.col("id").alias("a"), F.col("_c").alias("ca"))
    lb = lab.select(F.col("id").alias("b"), F.col("_c").alias("cb"))
    m = und.count()
    internal = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("_c"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    mass = (
        deg.join(lab, "id")
        .groupBy("_c")
        .agg(F.sum("deg").alias("d_c"))
    )
    # (d_c / 2m)^2 spelled as x*x, not pow(), so the oracle SQL can
    # mirror the exact IEEE expression
    frac = F.col("d_c").cast("double") / (2.0 * m)
    per_c = mass.join(internal, "_c", "left").select(
        (
            F.coalesce("l_c", F.lit(0)).cast("double") / float(m) - frac * frac
        ).alias("q_c")
    )
    return per_c.agg(
        F.sum("q_c").alias("modularity"), F.count(F.lit(1)).alias("n_communities")
    )

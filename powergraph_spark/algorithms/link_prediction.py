"""Neighborhood-overlap link prediction: common-neighbors,
Adamic-Adar, and Jaccard scores for non-adjacent vertex pairs.

An engine extension (SURVEY §2.9): the reference's triangle toolkits
(/root/reference/toolkits/graph_analytics/undirected_triangle_count.cpp)
score CLOSED wedges; link prediction scores the OPEN ones — the
standard crawl-graph "which links are missing" primitive (Liben-Nowell
& Kleinberg 2003).

Plan shape: one wedge self-join of the symmetrized edge list on the
center vertex (dst < dst2 so each unordered pair appears once per
center), partial-aggregated groupBy on the pair key, then a left-anti
join against the existing-edge set. Wedge volume is Σ_v C(d(v), 2),
quadratic in the hub degrees; it is summed from the degree table
before the join, and a call above `_MAX_WEDGES` is refused. The knob
that bounds it: `hub_degree_cap` drops wedge CENTERS above the cap
(scores become lower bounds that ignore super-hub intermediaries,
which for link prediction is usually the desired behavior anyway —
a hub in common carries almost no signal, exactly why Adamic-Adar
down-weights by 1/ln d). All expressions are JVM-side; the only
floats are the final per-pair score divisions.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from .triangle_count import _und_degrees, _und_edges

# Wedge rows the self-join may pair, Σ_c C(d_c, 2) over the kept centers;
# above it link_scores refuses instead of running a hub-quadratic join.
_MAX_WEDGES = 10**9


def link_scores(
    graph: Graph,
    min_common: int = 2,
    hub_degree_cap: Optional[int] = None,
    canonical_edges: bool = False,
) -> DataFrame:
    """(a, b, cn, aa, jacc) for every non-adjacent pair a < b with at
    least `min_common` common neighbors.

    cn   = |N(a) ∩ N(b)|                    (common neighbors)
    aa   = Σ_{c ∈ N(a)∩N(b)} 1 / ln d(c)    (Adamic-Adar)
    jacc = cn / (d(a) + d(b) - cn)          (Jaccard overlap)
    """
    und = _und_edges(graph, canonical_edges)
    deg = _und_degrees(und)
    sym = und.select("a", "b").unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    centers = deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "d_c")
    if hub_degree_cap is not None:
        centers = centers.filter(F.col("d_c") <= hub_degree_cap)
    n_wedges = (
        centers.agg(F.sum(F.col("d_c") * (F.col("d_c") - 1))).first()[0] or 0
    ) // 2
    if n_wedges > _MAX_WEDGES:
        raise ValueError(
            f"link_scores would pair {n_wedges} wedges (budget "
            f"{_MAX_WEDGES}); pass a smaller hub_degree_cap to drop the "
            "highest-degree centers"
        )
    # wedge (center, x < y): join the center's degree once, pair the
    # two adjacency sides with a strict order so each pair counts once
    left = sym.join(centers, "a").select(
        F.col("a").alias("c"), F.col("b").alias("x"), "d_c"
    )
    right = sym.select(F.col("a").alias("c"), F.col("b").alias("y"))
    wedges = left.join(right, "c").filter(F.col("x") < F.col("y"))
    pairs = wedges.groupBy(F.col("x").alias("a"), F.col("y").alias("b")).agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(1.0 / F.log(F.col("d_c").cast("double"))).alias("aa"),
    )
    if min_common > 1:
        pairs = pairs.filter(F.col("cn") >= min_common)
    # drop pairs that are already edges (und is canonical a < b)
    open_pairs = pairs.join(und, ["a", "b"], "left_anti")
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("d_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("d_b"))
    return (
        open_pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            "aa",
            (
                F.col("cn").cast("double")
                / (F.col("d_a") + F.col("d_b") - F.col("cn")).cast("double")
            ).alias("jacc"),
        )
    )


def top_link_predictions(
    graph: Graph,
    k: int = 100,
    min_common: int = 2,
    hub_degree_cap: Optional[int] = None,
    canonical_edges: bool = False,
) -> DataFrame:
    """Top-k candidate links ordered by (cn desc, a, b) — the integer
    ordering key makes the cut deterministic across partitionings and
    engines; aa/jacc ride along as score columns."""
    scores = link_scores(graph, min_common=min_common,
                         hub_degree_cap=hub_degree_cap,
                         canonical_edges=canonical_edges)
    return scores.orderBy(
        F.col("cn").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(k)

"""Directed triangle census.

Reference: PowerGraph toolkits/graph_analytics/directed_triangle_count.cpp
:288-345 (the four classes), :560-606 (per-edge intersections),
:612-640 (per-vertex gather), :666-668 (totals).

Per directed edge (u -> v) the reference counts three intersections
(:588-600, "notation from the paper"):
    s_s(u,v)   = |out(u) ∩ out(v)|
    st_st(u,v) = |in(u)  ∩ in(v)|
    st_s(u,v)  = |in(u)  ∩ out(v)|
and folds them into per-vertex counts (:625-636):
    out_triangles(x)     = Σ_{x->t}  s_s(x,t)
    through_triangles(x) = Σ_{x->t}  st_st(x,t)
    cycle_triangles(x)   = Σ_{x->t}  st_s(x,t)
    in_triangles(x)      = Σ_{s->x}  st_st(s,x)
Totals are the plain vertex sums (:666-668, no normalization).

Spark mapping: triangle_count's kernel on the undirected pair set.
Every term above is a triangle {x, t, w} of the pairs joined by at
least one arc, and the kernel lists each such triangle once through
the degree-oriented sorted-list intersection (every oriented list has
at most sqrt(2m) entries, so no hub's neighbourhood is paired with
itself). With A(u, v) the number of u -> v arc rows, each triangle
credits its vertices through its 6 ordered role triples (x, t, w):
    in(x)      += A(t,x)·A(w,t)·A(w,x)
    out(x)     += A(x,t)·A(x,w)·A(t,w)
    through(x) += A(x,t)·A(w,x)·A(w,t)
    cycle(x)   += A(x,t)·A(w,x)·A(t,w)
On a deduplicated graph A is 0/1; on a ``dedup=False`` graph every
duplicate row counts, the multiset reading of the same sums.
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import Graph
from .triangle_count import _TRIANGLE_EDGES, _edge_counts, _triangles

_CLASSES = ("in_triangles", "out_triangles", "through_triangles",
            "cycle_triangles")


def directed_triangle_counts(graph: Graph) -> DataFrame:
    """(id, in_triangles, out_triangles, through_triangles,
    cycle_triangles) for every vertex."""
    fwd = (F.col("src") < F.col("dst")).cast("long")
    arcs = (  # (a < b, n_ab = #a->b rows, n_ba = #b->a rows)
        graph.edges.filter(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .agg(F.sum(fwd).alias("n_ab"), F.sum(1 - fwd).alias("n_ba"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ec, oriented = _edge_counts(arcs.select("a", "b"), graph.num_partitions)
    tri = _triangles(ec)
    for x, y in _TRIANGLE_EDGES:
        tri = tri.join(
            arcs.select(
                F.col("a").alias(x), F.col("b").alias(y),
                F.col("n_ab").alias(f"A_{x}{y}"), F.col("n_ba").alias(f"A_{y}{x}"),
            ),
            [x, y],
        )

    def A(u, v):
        return F.col(f"A_{u}{v}")

    roles = [
        F.struct(
            F.col(x).alias("id"),
            (A(t, x) * A(w, t) * A(w, x)).alias("in_triangles"),
            (A(x, t) * A(x, w) * A(t, w)).alias("out_triangles"),
            (A(x, t) * A(w, x) * A(w, t)).alias("through_triangles"),
            (A(x, t) * A(w, x) * A(t, w)).alias("cycle_triangles"),
        )
        for x, t, w in permutations("pqr")
    ]
    per_v = (
        tri.select(F.explode(F.array(*roles)).alias("s"))
        .select("s.*")
        .groupBy("id")
        .agg(*[F.sum(c).alias(c) for c in _CLASSES])
    )
    out = (
        graph.vertices.select("id")
        .join(per_v, "id", "left")
        .select("id", *[F.coalesce(c, F.lit(0)).cast("long").alias(c)
                        for c in _CLASSES])
        .localCheckpoint(eager=True)
    )
    oriented.unpersist()
    arcs.unpersist()
    return out


def directed_triangle_totals(graph: Graph) -> DataFrame:
    """One-row totals, the reference's default output (:759-763)."""
    per_v = directed_triangle_counts(graph)
    return per_v.agg(*[F.sum(c).cast("long").alias(c) for c in _CLASSES])

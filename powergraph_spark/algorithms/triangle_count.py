"""Triangle counting via degree-ordered neighbor-set intersection.

Reference: /root/reference/toolkits/graph_analytics/
undirected_triangle_count.cpp:148-560 (orientation rule at :463 — keep
neighbor w in v's set only if (deg(w), w) > (deg(v), v)) and
simple_undirected_triangle_count.cpp:118-288 (sorted-vector
intersection, iterate the smaller set, :279-310).

Algorithm (one pass, no iteration):
1. undirected edge set (dedup both directions, drop self-loops);
2. total degree per vertex;
3. orient every edge lo->hi by (degree, id) — each vertex's oriented
   out-neighborhood has size <= O(sqrt(m)), which bounds the adjacency
   lists that get joined (the skew-killer: a hub's huge neighborhood
   is never materialized on one side);
4. adjacency lists adj(v) = sorted oriented neighbors;
5. per-edge count = |adj(lo) ∩ adj(hi)| — each triangle counted
   exactly once, at its (min,mid) oriented edge;
6. per-vertex counts re-aggregated: lo and hi credit the pair count,
   every w in the intersection credits 1.

The intersection runs JVM-side (array_intersect inside whole-stage
codegen) — no Python in the hot path. Steps 2-5 are the one triangle
kernel, ``_edge_counts``: ktruss and the directed census enumerate
their triangles through it too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import Graph


def _und_edges(graph: Graph, canonical_edges: bool = False) -> DataFrame:
    """The one undirected view: edges as (a < b), self-loops dropped,
    reciprocal pairs collapsed by a dedup on (a, b).

    ``canonical_edges=True`` is a caller assertion that every edge row
    already satisfies src < dst with (src, dst) unique — what
    Graph.from_edges produces for a strictly-ordered pair ingest (e.g.
    the co-purchase graph's ``l_partkey < p2`` builder). On such input
    least/greatest is the identity and the (a, b) dedup is a full
    exchange + hash-agg of the edge set that removes nothing, so it is
    skipped (r6 opt, guide §2.4 "a distinct on data that is already
    unique"; measured −35 % on the warm total-count pipeline at sf0.1,
    identical totals). The assertion is checked with one count over
    the cached ``graph.edges``: a row with src > dst raises ValueError,
    since its reciprocal pair would otherwise be counted twice
    (ingest already drops self-loops and duplicate rows).
    """
    if canonical_edges:
        n_bad = graph.edges.filter(F.col("src") > F.col("dst")).count()
        if n_bad:
            raise ValueError(
                f"canonical_edges=True, but {n_bad} edge rows have "
                "src > dst; pass canonical_edges=False to dedup "
                "reciprocal pairs"
            )
    und = graph.edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).filter(F.col("a") != F.col("b"))
    if not canonical_edges:
        und = und.dropDuplicates(["a", "b"])
    return und


def _und_degrees(und: DataFrame) -> DataFrame:
    """(id, deg) over the undirected dedup edge list."""
    return (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _oriented(und: DataFrame) -> DataFrame:
    """The unique (a < b) edges of ``und`` oriented lo->hi by (total
    degree, id)."""
    # NOT persisted on purpose: Catalyst's ReusedExchange already
    # serves the three consumers from one dedup shuffle, and an
    # explicit cache was MEASURED SLOWER (11.2 vs 8.2 s at sf0.1 —
    # materializing the cache blocks exchange reuse/pipelining)
    deg = _und_degrees(und)
    da, db = deg.alias("da"), deg.alias("db")
    e = (
        und.join(da, und.a == F.col("da.id"))
        .join(db, und.b == F.col("db.id"))
        .select(
            "a", "b", F.col("da.deg").alias("deg_a"), F.col("db.deg").alias("deg_b")
        )
    )
    # orientation: lo = smaller (deg, id)  (undirected_triangle_count.cpp:463)
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )


def _edge_counts(
    und: DataFrame, P: int, persist: bool = True
) -> tuple[DataFrame, DataFrame]:
    """((lo, hi, common), oriented handle) for a unique (a < b) edge
    table ``und`` — the one triangle kernel that triangle counting,
    k-truss and the directed census share. The oriented table is
    hashed by ``lo`` into ``P`` partitions.

    ``persist=True`` caches it and materializes it at once, so the
    adjacency build and the ``lo`` side of the intersection join read
    that layout without an exchange. The caller owns the handle and
    must unpersist it once its own actions are done — an earlier
    version leaked one cached copy of the oriented edge set per
    invocation (r6 fix). ``persist=False`` makes it a LAZY
    localCheckpoint instead (which does not keep the hash layout):
    still computed once across the three consumers, but cleaned up by
    the ContextCleaner when the returned DataFrame is garbage-collected
    — the right mode when the handle cannot be returned to the caller
    (public triangle_edge_counts)."""
    oriented = _oriented(und).repartition(P, "lo")
    if persist:
        # materialized before adj is planned: an unmaterialized cache
        # reports UnknownPartitioning under AQE, and groupBy(lo) would
        # re-shuffle the oriented table
        oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
        oriented.count()
    else:
        oriented = oriented.localCheckpoint(eager=False)
    adj = oriented.groupBy(F.col("lo").alias("id")).agg(
        F.sort_array(F.collect_list("hi")).alias("nbrs")
    )
    a_lo, a_hi = adj.alias("alo"), adj.alias("ahi")
    ec = (
        oriented.join(a_lo, oriented.lo == F.col("alo.id"), "left")
        .join(a_hi, oriented.hi == F.col("ahi.id"), "left")
        .select(
            "lo",
            "hi",
            F.array_intersect(
                F.coalesce(F.col("alo.nbrs"), F.array().cast("array<long>")),
                F.coalesce(F.col("ahi.nbrs"), F.array().cast("array<long>")),
            ).alias("common"),
        )
    )
    return ec, oriented


# the three edges of a _triangles row, each as (smaller, larger) id
_TRIANGLE_EDGES = (("p", "q"), ("p", "r"), ("q", "r"))


def _triangles(ec: DataFrame) -> DataFrame:
    """(p, q, r), p < q < r: every triangle of the kernel's output once,
    one row per element of an edge's ``common`` array."""
    t = ec.select("lo", "hi", F.explode("common").alias("w"))
    lo, hi, w = F.col("lo"), F.col("hi"), F.col("w")
    p, r = F.least(lo, hi, w), F.greatest(lo, hi, w)
    return t.select(
        p.alias("p"),
        F.when((lo != p) & (lo != r), lo)
        .when((hi != p) & (hi != r), hi)
        .otherwise(w)
        .alias("q"),
        r.alias("r"),
    )


def triangle_edge_counts(graph: Graph, canonical_edges: bool = False) -> DataFrame:
    """(lo, hi, common) — triangles closed over each oriented edge,
    plus the intersection itself for per-vertex attribution. The
    shared oriented table rides a lazy localCheckpoint (computed once,
    GC-cleaned) rather than an explicit persist this entry point could
    never release (r6 leak fix for the public API). ``canonical_edges``:
    see :func:`_und_edges`."""
    und = _und_edges(graph, canonical_edges)
    return _edge_counts(und, graph.num_partitions, persist=False)[0]


def triangle_total(graph: Graph, canonical_edges: bool = False) -> int:
    """Total triangle count only — the TOTAL_COUNT mode of the
    reference (undirected_triangle_count.cpp:520-560 folds per-edge
    counts straight into a global counter without storing them).

    Same oriented-intersection pipeline as :func:`triangle_count`, but
    the per-edge intersection is consumed as ``size(...)`` inside the
    final aggregate: the ``common`` arrays are never materialized into
    a cache and the whole reduction is one partially-aggregated SUM —
    no ec persist, no second pass (r6 opt; ``triangle_count`` keeps the
    cached counts because per-vertex attribution reads them thrice).
    """
    und = _und_edges(graph, canonical_edges)
    ec, oriented = _edge_counts(und, graph.num_partitions)
    total = int(
        ec.select(F.size("common").alias("c")).agg(F.sum("c")).first()[0] or 0
    )
    oriented.unpersist()
    return total


def triangle_count(
    graph: Graph, canonical_edges: bool = False
) -> tuple[DataFrame, int]:
    """Returns (per-vertex counts (id, n_triangles), total_triangles).

    Per-vertex semantics match the reference's second GAS round
    (simple_undirected_triangle_count.cpp:216-288): every vertex counts
    the triangles it participates in; sum(per-vertex) = 3 * total.

    The per-vertex table is materialized (localCheckpoint) before the
    intermediate caches are released, so callers that act on it later
    never silently recompute the whole intersection pipeline (r6 fix —
    previously ec was unpersisted while per_vertex was still lazy).
    """
    und = _und_edges(graph, canonical_edges)
    ec0, oriented = _edge_counts(und, graph.num_partitions)
    ec = ec0.withColumn("c", F.size("common")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    total = int(ec.agg(F.sum("c")).first()[0] or 0)
    credits = (
        ec.select(F.col("lo").alias("id"), F.col("c").alias("n"))
        .unionAll(ec.select(F.col("hi").alias("id"), F.col("c").alias("n")))
        .unionAll(
            ec.select(F.explode("common").alias("id"), F.lit(1).alias("n"))
        )
    )
    per_vertex = (
        graph.vertices.select("id")
        .join(credits.groupBy("id").agg(F.sum("n").alias("n_triangles")), "id", "left")
        .select("id", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
        .localCheckpoint(eager=True)
    )
    ec.unpersist()
    oriented.unpersist()
    return per_vertex, total

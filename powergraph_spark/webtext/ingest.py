"""pages -> graph ingest (the finalize()/ingress analog).

Pipeline (one Spark job, SURVEY.md §7 Phase 1):

  pages(url, html, ...)                                [Iceberg/Parquet scan,
                                                        column-pruned to url+html]
    -> link_pairs (vectorized href extraction)          [no shuffle]
    -> vertex ids: xxhash64(url)                        [analog of
       graph_hash::hash_vertex, /root/reference/src/graphlab/graph/graph_hash.hpp:32-34]
    -> self-loop filter                                 [local_graph.hpp:341-346]
    -> repartition by src + (src,dst) dedup             [the single ingest all-to-all;
                                                         local_graph.hpp:196-199]
    -> vertices (id, url) from url universe

Collision audit: xxhash64 on 10^12 urls has birthday-collision
expectation ~0.027 per 10^12 at 64 bits — audit_collisions() verifies
|distinct urls| == |distinct ids| and is cheap enough to run at ingest.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from .extract import link_pairs


def url_id(col: F.Column) -> F.Column:
    return F.xxhash64(col)


def pages_to_graph(
    pages: DataFrame,
    num_partitions: int | None = None,
    salt_cap: int | None = None,
) -> Graph:
    """The extracted link-pair table feeds BOTH the edge set and the
    vertex universe. Persisting it for the duration of the build means
    the html decode + regex extraction scan runs ONCE instead of once
    per consumer (r6 opt, guide §2.3/§5): the graph's edge and vertex
    caches are materialized eagerly while the pair cache is hot, then
    the pair cache is dropped — the returned Graph is self-contained
    (its own persisted edges/vertices) exactly as before.

    ``salt_cap`` is deprecated and ignored: the edge layout is
    src-hashed (Graph.from_edges) and no longer salts hubs."""
    from pyspark.storagelevel import StorageLevel

    if salt_cap is not None:
        warnings.warn(
            "pages_to_graph(salt_cap=...) is deprecated and ignored: the "
            "edge layout is src-hashed and does not salt hubs",
            DeprecationWarning,
            stacklevel=2,
        )
    pairs = link_pairs(pages).persist(StorageLevel.MEMORY_AND_DISK)
    edges = pairs.select(
        url_id(F.col("src_url")).alias("src"),
        url_id(F.col("dst_url")).alias("dst"),
    )
    page_urls = pages.select(F.col("url"))
    target_urls = pairs.select(F.col("dst_url").alias("url"))
    vertices = (
        page_urls.unionAll(target_urls)
        .distinct()
        .select(url_id(F.col("url")).alias("id"), "url")
    )
    g = Graph.from_edges(
        edges,
        vertices=vertices,
        num_partitions=num_partitions,
    )
    # materialize the graph's own caches off the hot pair cache, then
    # release it (unpersist is safe either way: the lineage still
    # recomputes correctly if a partition were ever evicted)
    g.num_edges()
    g.num_vertices()
    pairs.unpersist()
    return g


def audit_collisions(vertices: DataFrame) -> int:
    """Number of 64-bit hash collisions among urls (must be 0)."""
    row = vertices.agg(
        F.count_distinct("url").alias("u"), F.count_distinct("id").alias("i")
    ).first()
    return int(row["u"]) - int(row["i"])

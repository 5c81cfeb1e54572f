"""Vertex-cut quality of the graph's edge layout.

PowerGraph places each *edge* on exactly one machine and replicates
*vertices* across every machine holding one of their edges (the
vertex-cut; PowerGraph src/graphlab/graph/distributed_graph.hpp:251-274).
Here the one edge layout is Spark's own hash partitioning by src
(``Graph.from_edges``), and the ``pid`` column is that partition's
index. A vertex's out-edges share one partition, so it spans at most
1 + in-degree partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def replication_factor(edges: DataFrame, src: str = "src", dst: str = "dst") -> float:
    """nreplicas/nverts — the reference's ingress quality metric.

    /root/reference/src/graphlab/graph/ingress/distributed_ingress_base.hpp:545-551
    A vertex is replicated once per distinct pid among its edges.
    """
    ends = edges.select(F.col(src).alias("id"), "pid").unionAll(
        edges.select(F.col(dst).alias("id"), "pid")
    )
    row = ends.groupBy("id").agg(
        F.count_distinct("pid").alias("nrep")
    ).agg(F.sum("nrep").alias("r"), F.count(F.lit(1)).alias("v")).first()
    return float(row["r"]) / max(1, int(row["v"]))

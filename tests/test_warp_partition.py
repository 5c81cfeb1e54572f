"""Tests for the warp named API, Laplacian, and eigenvector
normalization."""

from __future__ import annotations

import math
from collections import defaultdict

from oracles import powerlaw_edges
from pyspark.sql import functions as F

from powergraph_spark.algorithms import (
    graph_laplacian,
    normalize_eigenvector,
    top_eigenvector,
)
from powergraph_spark.graph import Graph
from powergraph_spark.warp import (
    bond_percolation,
    broadcast_neighborhood,
    map_reduce_neighborhood,
    transform_neighborhood,
)

EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (2, 4), (6, 7)]


def build(spark, edges, **kw):
    return Graph.from_pandas(spark, edges, **kw)


# ------------------------------------------------------------------ warp
def test_map_reduce_neighborhood_in_sum(spark):
    g = build(spark, EDGES, num_partitions=4)
    vd = g.vertices.select("id", (F.col("id") * 10).alias("val"))
    got = {
        r["id"]: r["agg"]
        for r in map_reduce_neighborhood(
            g, vd, None, combine="sum", direction="in", value_col="val"
        ).collect()
    }
    ins = defaultdict(int)
    for u, v in EDGES:
        ins[v] += u * 10
    for v, s in ins.items():
        assert got[v] == s
    assert got[6] is None  # no in-edges -> null like the reference default


def test_broadcast_neighborhood(spark):
    g = build(spark, EDGES, num_partitions=4)
    vd = g.vertices.select("id", (F.col("id") + 100).alias("msg"))
    rows = broadcast_neighborhood(g, vd, "msg", direction="out").collect()
    got = {(r["from_id"], r["id"]): r["msg"] for r in rows}
    assert got[(1, 2)] == 101
    assert len(rows) == len(EDGES)


def test_transform_neighborhood(spark):
    g = build(spark, EDGES, num_partitions=4)
    vd = g.vertices.select("id", F.col("id").cast("double").alias("val"))
    g2 = transform_neighborhood(g, vd, lambda s, d: s + d, "val", "wsum")
    got = {(r["src"], r["dst"]): r["wsum"] for r in g2.edges.collect()}
    assert got[(1, 2)] == 3.0 and got[(4, 5)] == 9.0


def test_bond_percolation_determinism(spark):
    g = build(spark, powerlaw_edges(150, seed=5), num_partitions=4)
    a = {r["id"]: r["component"] for r in bond_percolation(g, 0.5).collect()}
    b = {r["id"]: r["component"] for r in bond_percolation(g, 0.5).collect()}
    assert a == b
    # survival extremes: p=1 keeps the graph, p=0 isolates everything
    full = bond_percolation(g, 1.01)
    ncomp_full = full.select("component").distinct().count()
    iso = bond_percolation(g, -0.01)
    assert iso.select("component").distinct().count() == g.num_vertices()
    assert ncomp_full <= g.num_vertices()


# ------------------------------------------------------------- laplacian
def test_laplacian_normalized_cut(spark):
    g = build(spark, EDGES, num_partitions=4)
    rows = graph_laplacian(g, mode="normalized_cut").collect()
    got = {(r["i"], r["j"]): r["value"] for r in rows}
    deg = defaultdict(int)
    und = set()
    for u, v in EDGES:
        und.add((u, v))
        und.add((v, u))
    for u, v in und:
        deg[u] += 1
    for u, v in und:
        exp = 1.0 / math.sqrt(deg[u] * deg[v])
        assert abs(got[(u, v)] - exp) < 1e-12, (u, v)
    for v in deg:
        assert got[(v, v)] == 2.0  # graph_laplacian.cpp:190


def test_laplacian_ratio_cut(spark):
    g = build(spark, EDGES, num_partitions=4)
    got = {(r["i"], r["j"]): r["value"]
           for r in graph_laplacian(g, mode="ratio_cut").collect()}
    assert got[(1, 2)] == 1.0
    # vertex 3 has undirected degree 4 -> diag = 5.0 - 4
    assert got[(3, 3)] == 1.0
    assert got[(6, 6)] == 4.0


def test_normalize_eigenvector(spark):
    g = build(spark, EDGES, num_partitions=4)
    vec, lam = top_eigenvector(g, max_iterations=30)
    scaled = vec.select("id", (F.col("v") * 7.5).alias("v"))
    normed = normalize_eigenvector(scaled)
    ss = normed.agg(F.sum(F.col("v") * F.col("v"))).first()[0]
    assert abs(ss - 1.0) < 1e-9

"""Oracle tests for betweenness / closeness / directed triangle census
against independent pure-python implementations."""

from __future__ import annotations

from collections import defaultdict, deque

import pytest
from oracles import powerlaw_edges
from pyspark.sql import functions as F

from powergraph_spark.algorithms import (
    betweenness,
    closeness,
    directed_triangle_counts,
    directed_triangle_totals,
    multi_source_bfs,
)
from powergraph_spark.graph import Graph

MULTI_EDGES = [
    (1, 2), (2, 3), (3, 1),
    (3, 4), (4, 5), (5, 3),
    (2, 4),
    (6, 7), (7, 6),
    (7, 8),
    (10, 11),
]
PL_EDGES = powerlaw_edges(120, seed=7)


def build(spark, edges, P=4):
    return Graph.from_pandas(spark, edges, num_partitions=P)


def _undirected_adj(edges):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


def _bfs_py(adj, s):
    dist = {s: 0}
    sigma = defaultdict(float)
    sigma[s] = 1.0
    order = [s]
    q = deque([s])
    while q:
        v = q.popleft()
        for w in sorted(adj[v]):
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
                order.append(w)
            if dist[w] == dist[v] + 1:
                sigma[w] += sigma[v]
    return dist, sigma, order


def _brandes_py(edges, sources):
    """Exact Brandes dependency accumulation restricted to sources."""
    adj = _undirected_adj(edges)
    verts = set(adj)
    bc = defaultdict(float)
    for s in sources:
        dist, sigma, order = _bfs_py(adj, s)
        delta = defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v, -2) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return {v: round(bc[v], 5) for v in verts}, verts


def _closeness_py(edges, sources):
    adj = _undirected_adj(edges)
    agg = defaultdict(lambda: [0, 0])  # id -> [n_sources, sum_dist]
    for s in sources:
        dist, _, _ = _bfs_py(adj, s)
        for v, d in dist.items():
            agg[v][0] += 1
            agg[v][1] += d
    return {
        v: round(n / sd, 5) if sd > 0 else 0.0 for v, (n, sd) in agg.items()
    }


@pytest.mark.parametrize("edges,sources", [
    (MULTI_EDGES, [1, 6]),
    (PL_EDGES, [0, 1, 2, 3]),
], ids=["multi", "powerlaw120"])
def test_betweenness_matches_brandes(spark, edges, sources):
    g = build(spark, edges)
    got = {r["id"]: r["betweenness"]
           for r in betweenness(g, sources).collect()}
    exp, verts = _brandes_py(edges, sources)
    for v in verts:
        assert abs(got[v] - exp[v]) < 1e-4, (v, got[v], exp[v])


@pytest.mark.parametrize("edges,sources", [
    (MULTI_EDGES, [1, 6]),
    (PL_EDGES, [0, 1, 2, 3]),
], ids=["multi", "powerlaw120"])
def test_closeness_matches_bfs(spark, edges, sources):
    g = build(spark, edges)
    got = {r["id"]: r["closeness"] for r in closeness(g, sources).collect()}
    exp = _closeness_py(edges, sources)
    for v, c in exp.items():
        assert abs(got[v] - c) < 1e-4, (v, got[v], c)


def test_multi_source_bfs_sigma(spark):
    """Path counts: square 1-2-4-3-1 gives sigma=2 on the far corner."""
    edges = [(1, 2), (1, 3), (2, 4), (3, 4)]
    g = build(spark, edges)
    rows = multi_source_bfs(g, [1]).collect()
    by_id = {r["id"]: (r["dist"], r["sigma"]) for r in rows}
    assert by_id[1] == (0, 1.0)
    assert by_id[2] == (1, 1.0)
    assert by_id[3] == (1, 1.0)
    assert by_id[4] == (2, 2.0)


def _directed_census_py(edges):
    outs, ins = defaultdict(set), defaultdict(set)
    verts = set()
    for u, v in edges:
        if u != v:
            outs[u].add(v)
            ins[v].add(u)
            verts |= {u, v}
    res = {v: [0, 0, 0, 0] for v in verts}  # in, out, through, cycle
    for u, v in {(u, v) for u, v in edges if u != v}:
        s_s = len(outs[u] & outs[v])
        st_st = len(ins[u] & ins[v])
        st_s = len(ins[u] & outs[v])
        res[u][1] += s_s
        res[u][2] += st_st
        res[u][3] += st_s
        res[v][0] += st_st
    return res


@pytest.mark.parametrize("edges", [
    # through 1->2, 3->1, 3->2 ; cycle 4->5,5->6,6->4 ; out 7->8,7->9,8->9
    [(1, 2), (3, 1), (3, 2), (4, 5), (5, 6), (6, 4), (7, 8), (7, 9), (8, 9),
     (2, 1)],
    powerlaw_edges(120, seed=11),
], ids=["handmade", "powerlaw120"])
def test_directed_census_matches_python(spark, edges):
    g = build(spark, edges)
    got = {r["id"]: (r["in_triangles"], r["out_triangles"],
                     r["through_triangles"], r["cycle_triangles"])
           for r in directed_triangle_counts(g).collect()}
    exp = _directed_census_py(edges)
    for v, (i, o, t, c) in exp.items():
        assert got[v] == (i, o, t, c), (v, got[v], (i, o, t, c))
    tot = directed_triangle_totals(g).first()
    assert tot["in_triangles"] == sum(x[0] for x in exp.values())
    assert tot["cycle_triangles"] == sum(x[3] for x in exp.values())


def test_directed_census_hub_path(spark, monkeypatch):
    """A planted hub: per-vertex results stay exact, and the shared
    triangle kernel the census runs never pairs the hub's neighbourhood
    with itself — every degree-oriented adjacency list holds at most
    floor(sqrt(2m)) entries (m = undirected pairs), their total is m."""
    import importlib
    import math

    # planted in-hub: 200 spokes -> hub 0, spokes chained so every
    # direction class has hub-centered triangles; plus a low-degree tail
    n = 200
    edges = [(i, 0) for i in range(1, n + 1)]            # spokes -> hub
    edges += [(i, i + 1) for i in range(1, n, 2)]        # spoke pairs
    edges += [(0, 1), (0, 5), (300, 301), (301, 302), (300, 302)]
    g = build(spark, edges)

    dt = importlib.import_module(
        "powergraph_spark.algorithms.directed_triangles"
    )
    lists = {}
    kernel = dt._edge_counts

    def recording_kernel(und, P, *args, **kw):
        ec, oriented = kernel(und, P, *args, **kw)
        lists["m"] = und.count()
        lists["sizes"] = [r["n"] for r in oriented.groupBy("lo").agg(
            F.count(F.lit(1)).alias("n")).collect()]
        return ec, oriented

    monkeypatch.setattr(dt, "_edge_counts", recording_kernel)
    exp = _directed_census_py(edges)
    got = {r["id"]: (r["in_triangles"], r["out_triangles"],
                     r["through_triangles"], r["cycle_triangles"])
           for r in directed_triangle_counts(g).collect()}
    for v, (i, o, t, c) in exp.items():
        assert got[v] == (i, o, t, c), (v, got[v], (i, o, t, c))

    m = len({(min(u, v), max(u, v)) for u, v in edges})
    assert lists["m"] == m
    assert sum(lists["sizes"]) == m
    assert max(lists["sizes"]) <= math.isqrt(2 * m), lists["sizes"]


def test_directed_census_random_packed(spark):
    """30 random small digraphs with reciprocal pairs, packed into one
    graph on disjoint id ranges: one census call equals the oracle."""
    import random

    rng = random.Random(5)
    edges = []
    for gi in range(30):
        base, nv = 100 * gi, rng.randint(4, 12)
        for u in range(nv):
            for v in range(u + 1, nv):
                x = rng.random()
                if x < 0.2:
                    edges.append((base + u, base + v))
                elif x < 0.4:
                    edges.append((base + v, base + u))
                elif x < 0.55:
                    edges += [(base + u, base + v), (base + v, base + u)]
    g = build(spark, edges)
    got = {r["id"]: (r["in_triangles"], r["out_triangles"],
                     r["through_triangles"], r["cycle_triangles"])
           for r in directed_triangle_counts(g).collect()}
    exp = {v: tuple(c) for v, c in _directed_census_py(edges).items()}
    assert got == exp

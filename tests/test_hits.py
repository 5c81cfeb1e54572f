"""HITS hubs/authorities vs a pure-python replica."""

from __future__ import annotations

import math

import pytest
from oracles import powerlaw_edges

from powergraph_spark.algorithms import hits
from powergraph_spark.graph import Graph

PL_EDGES = powerlaw_edges(100, seed=9)


def _replica(edges, iterations):
    verts = sorted({v for e in edges for v in e})
    h = {v: 1.0 for v in verts}
    nh = math.sqrt(sum(x * x for x in h.values()))
    h = {v: x / nh for v, x in h.items()}
    a = {v: 0.0 for v in verts}
    for _ in range(iterations):
        a = {v: 0.0 for v in verts}
        for s, d in edges:
            a[d] += h[s]
        na = math.sqrt(sum(x * x for x in a.values()))
        if na:
            a = {v: x / na for v, x in a.items()}
        h = {v: 0.0 for v in verts}
        for s, d in edges:
            h[s] += a[d]
        nh = math.sqrt(sum(x * x for x in h.values()))
        if nh:
            h = {v: x / nh for v, x in h.items()}
    return h, a


def test_hits_matches_replica(spark):
    g = Graph.from_pandas(spark, PL_EDGES, num_partitions=4)
    out, it, _ = hits(g, max_iterations=3, tol=0.0)
    eh, ea = _replica(PL_EDGES, 3)
    got = {r["id"]: (r["hub"], r["auth"]) for r in out.collect()}
    assert set(got) == set(eh)
    for v in eh:
        assert got[v][0] == pytest.approx(eh[v], abs=1e-9)
        assert got[v][1] == pytest.approx(ea[v], abs=1e-9)
    g.unpersist()


def test_hits_hub_authority_structure(spark):
    # 0 links to every "content" page; pages 1..4 are linked only by 0
    # and link nowhere -> 0 is the hub, 1..4 are the authorities
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (5, 1)]
    g = Graph.from_pandas(spark, edges, num_partitions=2)
    out, it, converged = hits(g, max_iterations=50, tol=1e-10)
    got = {r["id"]: r for r in out.collect()}
    assert converged
    assert it == 14
    assert got[0]["hub"] > got[5]["hub"] > 0
    assert got[0]["auth"] == 0.0          # nothing links to 0
    assert got[1]["auth"] > got[2]["auth"] > 0   # 1 has an extra in-link
    assert got[1]["hub"] == 0.0
    g.unpersist()


def test_hits_parallelism_invariant(spark):
    g2 = Graph.from_pandas(spark, PL_EDGES, num_partitions=2)
    g8 = Graph.from_pandas(spark, PL_EDGES, num_partitions=8)
    a, _, _ = hits(g2, max_iterations=2, tol=0.0)
    b, _, _ = hits(g8, max_iterations=2, tol=0.0)
    da = {r["id"]: (r["hub"], r["auth"]) for r in a.collect()}
    db = {r["id"]: (r["hub"], r["auth"]) for r in b.collect()}
    assert set(da) == set(db)
    # partial-agg sum order differs across partitionings -> agree to
    # float-ulp level, not byte level (the norm divisions amplify one
    # ulp of the sums)
    for v in da:
        assert da[v][0] == pytest.approx(db[v][0], abs=1e-12)
        assert da[v][1] == pytest.approx(db[v][1], abs=1e-12)
    g2.unpersist()
    g8.unpersist()

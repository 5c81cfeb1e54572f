"""k-truss peel vs a pure-python replica."""

from __future__ import annotations

from itertools import combinations

import pytest
from oracles import powerlaw_edges

from powergraph_spark.algorithms import ktruss
from powergraph_spark.graph import Graph

PL_EDGES = powerlaw_edges(80, seed=17)


def _replica(edges, k):
    """(support per truss edge, peel rounds); the rounds include the
    final one that removes nothing, as ktruss counts them."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    need = k - 2
    rounds = 0
    while True:
        rounds += 1
        nbrs = {}
        for a, b in es:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        sup = {
            (a, b): len(nbrs[a] & nbrs[b]) for a, b in es
        }
        bad = {e for e, s in sup.items() if s < need}
        if not bad:
            return sup, rounds
        es -= bad


def test_ktruss_matches_replica(spark):
    g = Graph.from_pandas(spark, PL_EDGES, num_partitions=4)
    for k in (3, 4):
        out, rounds = ktruss(g, k)
        got = {(r["a"], r["b"]): r["support"] for r in out.collect()}
        exp, exp_rounds = _replica(PL_EDGES, k)
        assert got == exp, f"k={k}"
        assert rounds == exp_rounds, f"k={k}"
    g.unpersist()


def test_ktruss_known_structures(spark):
    # K5 clique + a pendant path: K5 edges have support 3 (4-truss and
    # 5-truss); the path edges peel away for any k >= 3
    k5 = list(combinations(range(5), 2))
    edges = k5 + [(4, 10), (10, 11)]
    g = Graph.from_pandas(spark, edges, num_partitions=2)
    out5, _ = ktruss(g, 5)
    got = {(r["a"], r["b"]): r["support"] for r in out5.collect()}
    assert got == {e: 3 for e in k5}
    out6, _ = ktruss(g, 6)
    assert out6.count() == 0          # K5 cannot support a 6-truss
    out2, _ = ktruss(g, 2)
    assert out2.count() == len(edges)  # k=2 keeps every edge
    g.unpersist()


def test_ktruss_rejects_bad_k(spark):
    g = Graph.from_pandas(spark, [(1, 2)], num_partitions=2)
    with pytest.raises(ValueError):
        ktruss(g, 1)
    g.unpersist()

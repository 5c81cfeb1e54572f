"""Hand-computed oracles for the whole-graph summary metrics
(summary.py): local clustering coefficient, degree assortativity,
modularity.

Fixture: the "kite + tail" graph —

    1 - 2
    | x |      (1,2,3,4 complete except edge 2-3 missing: edges
    3 - 4       1-2, 1-3, 1-4, 2-4, 3-4)
        |
        5      (tail)

Degrees: 1:3, 2:2, 3:2, 4:4, 5:1.  Triangles: {1,2,4}, {1,3,4}.
"""

from __future__ import annotations

import math

import pytest

from powergraph_spark.algorithms.summary import (
    degree_assortativity,
    local_clustering_coefficients,
    modularity,
    reciprocity,
    transitivity,
)
from powergraph_spark.graph import Graph

EDGES = [(1, 2), (1, 3), (1, 4), (2, 4), (3, 4), (4, 5)]


def _graph(spark):
    return Graph.from_pandas(spark, EDGES, num_partitions=4)


def test_local_clustering(spark):
    g = _graph(spark)
    rows = {r["id"]: r for r in local_clustering_coefficients(g).collect()}
    # T(1)=2 over d=3 -> 2*2/(3*2)=2/3; T(2)=1 over d=2 -> 1;
    # T(3)=1 -> 1; T(4)=2 over d=4 -> 4/12=1/3; T(5)=0, d=1 -> 0.
    assert rows[1]["n_triangles"] == 2 and abs(rows[1]["lcc"] - 2 / 3) < 1e-12
    assert rows[2]["n_triangles"] == 1 and rows[2]["lcc"] == 1.0
    assert rows[3]["n_triangles"] == 1 and rows[3]["lcc"] == 1.0
    assert rows[4]["n_triangles"] == 2 and abs(rows[4]["lcc"] - 1 / 3) < 1e-12
    assert rows[5]["n_triangles"] == 0 and rows[5]["lcc"] == 0.0
    assert {r["degree"] for r in rows.values()} == {3, 2, 2, 4, 1}


def test_assortativity_matches_pearson(spark):
    g = _graph(spark)
    got = degree_assortativity(g).collect()[0]["assortativity"]
    # Pearson r over both directions of each edge.
    deg = {1: 3, 2: 2, 3: 2, 4: 4, 5: 1}
    xs, ys = [], []
    for a, b in EDGES:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    n = len(xs)
    mx = sum(xs) / n
    my = sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    sx = math.sqrt(sum((x - mx) ** 2 for x in xs))
    sy = math.sqrt(sum((y - my) ** 2 for y in ys))
    assert abs(got - cov / (sx * sy)) < 1e-12


def test_transitivity_hand_value(spark):
    g = _graph(spark)
    row = transitivity(g).collect()[0]
    # T = 2; W = 3+1+1+6+0 = 11; 3T/W = 6/11
    assert row["n_triangles"] == 2
    assert row["n_wedges"] == 11
    assert abs(row["transitivity"] - 6 / 11) < 1e-12


def test_reciprocity_hand_value(spark):
    g = Graph.from_pandas(
        spark, [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)], num_partitions=4
    )
    row = reciprocity(g).collect()[0]
    assert row["n_directed"] == 5
    assert row["n_reciprocal"] == 4
    assert abs(row["reciprocity"] - 0.8) < 1e-12


def test_link_prediction_hand_values(spark):
    from powergraph_spark.algorithms.link_prediction import (
        link_scores,
        top_link_predictions,
    )

    g = _graph(spark)
    # min_common=2: only (2,3) qualifies — common neighbors {1, 4}
    rows = link_scores(g, min_common=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["cn"]) == (2, 3, 2)
    assert abs(r["aa"] - (1 / math.log(3) + 1 / math.log(4))) < 1e-12
    assert abs(r["jacc"] - 1.0) < 1e-12  # 2 / (2 + 2 - 2)

    # min_common=1 adds the tail pairs through center 4
    all_rows = {(r["a"], r["b"]): r["cn"] for r in link_scores(g, min_common=1).collect()}
    assert all_rows == {(2, 3): 2, (1, 5): 1, (2, 5): 1, (3, 5): 1}

    # hub cap drops center 4 (degree 4): only the wedge through 1 remains
    capped = {
        (r["a"], r["b"]): r["cn"]
        for r in link_scores(g, min_common=1, hub_degree_cap=3).collect()
    }
    assert capped == {(2, 3): 1}

    top = top_link_predictions(g, k=2, min_common=1).collect()
    assert [(r["a"], r["b"]) for r in top] == [(2, 3), (1, 5)]


def test_link_prediction_wedge_budget(spark, monkeypatch):
    """Σ_c C(d_c, 2) over the kite's kept centers is 11 (degrees 3, 2,
    2, 4, 1); above the budget link_scores refuses and names the cap,
    and a cap that drops the hub brings it back under (5 wedges)."""
    from powergraph_spark.algorithms import link_prediction

    monkeypatch.setattr(link_prediction, "_MAX_WEDGES", 10)
    g = _graph(spark)
    with pytest.raises(ValueError, match="11 wedges.*hub_degree_cap"):
        link_prediction.link_scores(g, min_common=1)
    capped = {
        (r["a"], r["b"]): r["cn"]
        for r in link_prediction.link_scores(
            g, min_common=1, hub_degree_cap=3).collect()
    }
    assert capped == {(2, 3): 1}


def test_harmonic_hand_values(spark):
    from powergraph_spark.algorithms import harmonic

    g = _graph(spark)
    rows = {r["id"]: r for r in harmonic(g, [1, 5], max_depth=8).collect()}
    # distances: from 1 -> {2:1, 3:1, 4:1, 5:2}; from 5 -> {4:1, rest:2}
    assert (rows[1]["n_reached"], rows[1]["harmonic"]) == (1, 0.5)
    assert (rows[2]["n_reached"], rows[2]["harmonic"]) == (2, 1.5)
    assert (rows[3]["n_reached"], rows[3]["harmonic"]) == (2, 1.5)
    assert (rows[4]["n_reached"], rows[4]["harmonic"]) == (2, 2.0)
    assert (rows[5]["n_reached"], rows[5]["harmonic"]) == (1, 0.5)


def test_modularity_hand_value(spark):
    g = _graph(spark)
    spark_labels = [(1, 10), (2, 10), (3, 10), (4, 10), (5, 50)]
    lab = spark.createDataFrame(spark_labels, "id long, label long")
    row = modularity(g, lab).collect()[0]
    # m=6; community 10: L=5 internal edges, D=3+2+2+4=11;
    # community 50: L=0, D=1.
    expect = (5 / 6 - (11 / 12) ** 2) + (0 / 6 - (1 / 12) ** 2)
    assert abs(row["modularity"] - expect) < 1e-12
    assert row["n_communities"] == 2


def test_modularity_single_community_value(spark):
    """All vertices in one community: Q = L/m - 1/4 ... with every
    edge internal, Q = 1 - (2m/2m)^2 * ... = 1 - 1 = 0 only for a
    degree-regular reasoning; compute exactly instead."""
    g = _graph(spark)
    lab = spark.createDataFrame([(i, 7) for i in [1, 2, 3, 4, 5]], "id long, label long")
    row = modularity(g, lab).collect()[0]
    # one community holding everything: Q = 6/6 - (12/12)^2 = 0
    assert abs(row["modularity"] - 0.0) < 1e-12
    assert row["n_communities"] == 1

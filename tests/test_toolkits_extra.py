from __future__ import annotations

import math
from collections import defaultdict

from conftest import REF_EDGES, REF_VERTICES, count_jobs
from oracles import powerlaw_edges, sssp_oracle
from pyspark.sql import functions as F

from powergraph_spark.algorithms import (
    approx_diameter,
    coloring,
    coreness,
    count_conflicts,
    kcore_stats,
    kcore_vertices,
    sssp,
)
from powergraph_spark.graph import Graph

MULTI_EDGES = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (2, 4),
    (6, 7), (7, 6), (7, 8), (10, 11),
]
MULTI_VERTICES = {1, 2, 3, 4, 5, 6, 7, 8, 10, 11}


# ------------------------------------------------------------------- SSSP
def test_sssp_matches_dijkstra(spark):
    g = Graph.from_pandas(spark, MULTI_EDGES, num_partitions=4)
    res = sssp(g, source=1, directed=True)
    got = {r["id"]: r["dist"] for r in res.state.collect()}
    exp = sssp_oracle([(s, d, 1.0) for s, d in MULTI_EDGES], MULTI_VERTICES, 1)
    for v in MULTI_VERTICES:
        assert (math.isinf(got[v]) and math.isinf(exp[v])) or got[v] == exp[v], v


def test_sssp_undirected_and_default_source(spark):
    g = Graph.from_pandas(spark, REF_EDGES, num_partitions=4)
    # max total degree is a TIE between 0 and 5 (both 4); the engine's
    # deterministic tie-break picks the smallest id -> source = 0
    # (the reference's += max-reducer is merge-order-dependent there,
    # sssp.cpp:185-201, so determinism is our choice).
    res = sssp(g, directed=False)
    got = {r["id"]: r["dist"] for r in res.state.collect()}
    und = [(s, d, 1.0) for s, d in REF_EDGES] + [(d, s, 1.0) for s, d in REF_EDGES]
    exp = sssp_oracle(und, REF_VERTICES, 0)
    assert got == exp


def test_sssp_weighted(spark):
    edges = [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    g = Graph.from_edges(df, num_partitions=2)
    res = sssp(g, source=1, weight_col="w")
    got = {r["id"]: r["dist"] for r in res.state.collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 2.0}


# ------------------------------------------------------------------ kcore
def _py_core(edges, vertices, k):
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    alive = set(vertices)
    while True:
        doomed = {v for v in alive if len(adj[v] & alive) < k}
        if not doomed:
            break
        alive -= doomed
    return {v for v in alive if len(adj[v] & alive) > 0 or k == 0}


def test_kcore_matches_python(spark):
    edges = powerlaw_edges(120, seed=5)
    verts = set(range(120))
    g = Graph.from_pandas(spark, edges, num_partitions=4)
    for k in (1, 2, 3):
        got = {r["id"] for r in kcore_vertices(g, k).collect()}
        assert got == _py_core(edges, verts, k), k


def test_kcore_stats_and_coreness(spark):
    g = Graph.from_pandas(spark, MULTI_EDGES, num_partitions=4)
    stats = {r["k"]: (r["n_vertices"], r["n_edges"]) for r in
             kcore_stats(g, 1, 3).collect()}
    assert stats[2][0] == 5  # the 1-2-3-4-5 cluster is the 2-core
    core = {r["id"]: r["coreness"] for r in coreness(g, kmax=4).collect()}
    exp = {}
    for v in MULTI_VERTICES:
        exp[v] = 0
        for k in range(1, 5):
            if v in _py_core(MULTI_EDGES, MULTI_VERTICES, k):
                exp[v] = k
    assert core == exp


# --------------------------------------------------------------- coloring
def test_coloring_valid(spark):
    for edges in (REF_EDGES, MULTI_EDGES, powerlaw_edges(150, seed=3)):
        g = Graph.from_pandas(spark, edges, num_partitions=4)
        colors = coloring(g)
        assert count_conflicts(g, colors) == 0
        assert colors.filter(F.col("color").isNull()).count() == 0


def test_coloring_deterministic(spark):
    g1 = Graph.from_pandas(spark, MULTI_EDGES, num_partitions=2)
    g2 = Graph.from_pandas(spark, MULTI_EDGES, num_partitions=8)
    c1 = sorted(tuple(r) for r in coloring(g1).collect())
    c2 = sorted(tuple(r) for r in coloring(g2).collect())
    assert c1 == c2


def test_coloring_check_interval_identical(spark):
    """Batched depletion checks (check_interval > 1, r6 opt) must give
    byte-identical colors: post-completion waves are fixed-point no-ops
    and capped runs never overshoot. Intervals chosen so the true wave
    count is NOT a multiple (exercises the overshoot no-op path), for
    all three orders."""
    edges = powerlaw_edges(150, seed=3)
    g = Graph.from_pandas(spark, edges, num_partitions=4)
    for order in ("jp", "degree", "saturation"):
        base = sorted(tuple(r) for r in coloring(g, order=order).collect())
        for k in (4, 7):
            got = sorted(
                tuple(r)
                for r in coloring(g, order=order, check_interval=k).collect()
            )
            assert got == base, (order, k)


def test_coloring_ordered_variants_valid_and_fewer_colors(spark):
    """degree/saturation orders: valid colorings, deterministic across
    parallelism, and on a power-law graph use no MORE colors than the
    hash-ordered JP baseline (the quality knob the reference's
    degree_ordered/saturation_ordered colorers exist for)."""
    from powergraph_spark.algorithms import count_colors

    edges = powerlaw_edges(300, seed=11)
    g = Graph.from_pandas(spark, edges, num_partitions=4)
    n_jp = count_colors(coloring(g, order="jp"))
    for order in ("degree", "saturation"):
        colors = coloring(g, order=order)
        assert count_conflicts(g, colors) == 0, order
        assert colors.filter(F.col("color").isNull()).count() == 0, order
        assert count_colors(colors) <= n_jp, order
        # determinism across partitioning
        g8 = Graph.from_pandas(spark, edges, num_partitions=8)
        c1 = sorted(tuple(r) for r in colors.collect())
        c2 = sorted(tuple(r) for r in coloring(g8, order=order).collect())
        assert c1 == c2, order


# ----------------------------------------------------------- approx diam
def test_approx_diameter_path_graph(spark):
    # directed path 0->1->...->9: diameter ~9 hops until masks stabilize
    path = [(i, i + 1) for i in range(9)]
    g = Graph.from_pandas(spark, path, num_partitions=2)
    hops, history = approx_diameter(g, r=8, max_hops=20)
    assert 7 <= hops <= 11
    assert history[-1] >= history[0]


def test_approx_diameter_star(spark):
    star = [(0, i) for i in range(1, 12)]
    g = Graph.from_pandas(spark, star, num_partitions=2)
    hops, _ = approx_diameter(g, r=8, max_hops=10)
    assert hops <= 2


# ------------------------------------------------------------- eigenvector
def test_top_eigenvector_matches_numpy(spark):
    import numpy as np
    from powergraph_spark.algorithms import top_eigenvector

    edges = powerlaw_edges(80, seed=11)
    g = Graph.from_pandas(spark, edges, num_partitions=4)
    ids = sorted(r["id"] for r in g.vertices.collect())
    ix = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for s, d in edges:
        if s in ix and d in ix:
            A[ix[s], ix[d]] = 1.0
            A[ix[d], ix[s]] = 1.0
    w, V = np.linalg.eigh(A)
    lam_np = w[-1]
    v_np = V[:, -1]
    v_np = v_np / np.linalg.norm(v_np)

    vec, lam = top_eigenvector(g, max_iterations=300, tol=1e-10)
    assert abs(lam - lam_np) < 1e-4
    got = {r["id"]: r["v"] for r in vec.collect()}
    gv = np.array([got[v] for v in ids])
    if np.dot(gv, v_np) < 0:
        gv = -gv
    assert np.allclose(gv, v_np, atol=1e-3)


def test_kcore_multiset_reference_semantics(spark):
    """degree='multiset' counts a reciprocal pair twice
    (kcore.cpp:154 num_in+num_out); 'distinct' counts it once."""
    edges = [(1, 2), (2, 1)]
    g = Graph.from_pandas(spark, edges, num_partitions=2)
    # multiset: the reciprocal pair gives both vertices degree 2
    multi2 = {r["id"] for r in
              kcore_vertices(g, 2, degree="multiset").collect()}
    assert multi2 == {1, 2}
    # distinct: degree 1 each -> 2-core empty
    dist2 = {r["id"] for r in kcore_vertices(g, 2).collect()}
    assert dist2 == set()


def test_write_spectral_inputs_roundtrip(spark, tmp_path):
    """partitioning.cpp solver-prep contract: .glap COO text matches
    graph_laplacian exactly; .datanum = |V|; .init has |V|+1 rows of
    the reference's 0.1*((i+1)%10)/10.0 seed values."""
    import glob as globmod

    from powergraph_spark.algorithms import graph_laplacian, write_spectral_inputs

    g = Graph.from_pandas(spark, MULTI_EDGES, num_partitions=4)
    out = write_spectral_inputs(g, str(tmp_path / "spec"), mode="ratio_cut")

    def read_lines(d):
        lines = []
        for f in globmod.glob(f"{d}/part-*"):
            with open(f) as fh:
                lines += [ln for ln in fh.read().splitlines() if ln]
        return lines

    got = sorted(
        (int(a), int(b), round(float(c), 9))
        for a, b, c in (ln.split() for ln in read_lines(out["glap"]))
    )
    exp = sorted(
        (r["i"], r["j"], round(r["value"], 9))
        for r in graph_laplacian(g, mode="ratio_cut").collect()
    )
    assert got == exp
    with open(out["datanum"]) as fh:
        assert int(fh.read().strip()) == g.num_vertices() == out["num_data"]
    init = [float(x) for x in read_lines(out["init"])]
    assert len(init) == g.num_vertices() + 1
    for i in range(3):
        assert math.isclose(init[i], 0.1 * ((i + 1) % 10) / 10.0, abs_tol=1e-12)


# ------------------------------------------------------------- capped runs
def test_capped_runs_pinned(spark):
    """Each loop stopped by its iteration cap before its fixpoint
    returns what the hand-rolled loops returned (values recorded from
    them): the state after exactly the capped number of rounds."""
    from powergraph_spark.algorithms import ktruss, multi_source_bfs, top_eigenvector

    g = Graph.from_pandas(spark, powerlaw_edges(80, seed=17), num_partitions=4)
    # ktruss: one (two) peel rounds, then the supports of the kept
    # edges recounted but not yet checked; the fixpoint takes 4 rounds
    out, rounds = ktruss(g, 5, max_rounds=1)
    rows = [tuple(r) for r in out.collect()]
    assert (rounds, len(rows), sum(r[2] for r in rows)) == (1, 99, 108)
    out, rounds = ktruss(g, 5, max_rounds=2)
    assert rounds == 2
    assert [tuple(r) for r in out.collect()] == [(17, 33, 0)]

    path = [(i, i + 1) for i in range(9)]
    gp = Graph.from_pandas(spark, path, num_partitions=2)
    hops, history = approx_diameter(gp, r=8, max_hops=2)
    assert (hops, len(history)) == (2, 3)
    assert approx_diameter(gp, r=8, max_hops=0)[0] == 0

    bfs = {tuple(r) for r in multi_source_bfs(g, [0, 5], max_depth=1).collect()}
    assert bfs == {
        (0, 0, 0, 1.0), (0, 13, 1, 1.0), (0, 14, 1, 1.0), (0, 15, 1, 1.0),
        (0, 17, 1, 1.0), (0, 33, 1, 1.0), (5, 5, 0, 1.0), (5, 8, 1, 1.0),
        (5, 9, 1, 1.0), (5, 15, 1, 1.0), (5, 17, 1, 1.0), (5, 33, 1, 1.0),
    }

    # one wave of the 5-core peel (the fixpoint keeps 14 vertices)
    got = {r["id"] for r in kcore_vertices(g, 5, max_iterations=1).collect()}
    assert got == {
        0, 1, 2, 4, 5, 13, 14, 15, 17, 18, 19, 20, 21, 22, 24, 27, 31, 32,
        33, 34, 35, 36, 37, 43, 46, 49, 53, 58, 59, 60, 63, 67, 68, 75, 76,
    }

    vec, lam = top_eigenvector(g, max_iterations=0)
    assert lam == 0.0
    assert {r["v"] for r in vec.collect()} == {1.0 / math.sqrt(80)}
    vec, lam = top_eigenvector(g, max_iterations=1)
    assert math.isclose(lam, 6.625, rel_tol=1e-12)
    got = {r["id"]: r["v"] for r in vec.collect()}
    for vid, v in ((0, 0.04773392043446406), (2, 0.11456140904271375),
                   (3, 0.038187136347571246)):
        assert math.isclose(got[vid], v, rel_tol=1e-12), vid
    g.unpersist()


def test_top_eigenvector_zero_vector(spark):
    """A directed single edge: the first mat-vec gives v = e_2, the
    second is zero, so the call returns the previous v and lambda 0."""
    from powergraph_spark.algorithms import top_eigenvector

    g = Graph.from_pandas(spark, [(1, 2)], num_partitions=2)
    vec, lam = top_eigenvector(g, symmetric=False)
    assert {r["id"]: r["v"] for r in vec.collect()} == {1: 0.0, 2: 1.0}
    assert lam == 0.0


def test_loop_jobs_per_iteration(spark):
    """Spark jobs per extra iteration of the run_gas loops: the mat-vec,
    BFS level, peel wave or truss round and its ballot ride one
    materialization (bounds: the maximum over 3 runs, 4 vCPUs; the
    hand-rolled loops took 10, 7, 8 and 10)."""
    from powergraph_spark.algorithms import ktruss, multi_source_bfs, top_eigenvector

    g = Graph.from_pandas(spark, powerlaw_edges(300, seed=42), num_partitions=4)
    # every run is capped: BFS from {0, 1} reaches depth 5, the 5-core
    # peel takes 11 waves and the 5-truss peel 4 rounds
    runs = {
        "eigen": (lambda n: top_eigenvector(g, max_iterations=n, tol=0.0)[0],
                  (2, 4), 5),
        "bfs": (lambda n: multi_source_bfs(g, [0, 1], max_depth=n), (2, 4), 5),
        "kcore": (lambda n: kcore_vertices(g, 5, max_iterations=n), (2, 4), 4),
        "ktruss": (lambda n: ktruss(g, 5, max_rounds=n)[0], (1, 3), 5),
    }
    for name, (fn, (lo, hi), bound) in runs.items():
        fn(lo).count()  # warm-up: the graph views and their caches
        j_lo = count_jobs(spark, lambda: fn(lo).count(), f"{name}_lo")[1]
        j_hi = count_jobs(spark, lambda: fn(hi).count(), f"{name}_hi")[1]
        assert (j_hi - j_lo) / (hi - lo) <= bound, (name, j_lo, j_hi)
    g.unpersist()

from __future__ import annotations

import os

from conftest import REF_EDGES
from oracles import powerlaw_edges

from powergraph_spark.algorithms import connected_components, pagerank
from powergraph_spark.checkpoint import CheckpointStore
from powergraph_spark.graph import Graph


def _ranks(df):
    return sorted((r["id"], round(r["rank"], 10)) for r in df.collect())


def test_checkpoint_commit_and_manifest(spark, tmp_path):
    g = Graph.from_pandas(spark, REF_EDGES, num_partitions=4)
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    res = pagerank(g, tol=1e-8, checkpoint=store, checkpoint_interval=1)
    steps = store.committed_supersteps()
    assert steps and steps[-1] == res.supersteps
    m = store.manifest(steps[-1])
    assert m["superstep"] == res.supersteps
    assert sum(p["rows"] for p in m["lineage"]) == 5  # per-partition lineage
    assert "metrics" in m and m["metrics"]["superstep"] == res.supersteps
    assert os.path.exists(tmp_path / "ck" / "metrics.jsonl")
    # metrics stream: one record per committed superstep, ordered,
    # merged across the append-log and per-step-file layouts
    log = store.metrics_log()
    assert [m["superstep"] for m in log] == steps


def test_resume_reproduces_uninterrupted_run(spark, tmp_path):
    """Kill after superstep k, resume -> identical final state
    (FIXTURES.md §6; stronger than the reference's save_binary which
    pins machine count, distributed_graph.hpp:1720-1833)."""
    edges = powerlaw_edges(200, seed=7)
    g = Graph.from_pandas(spark, edges, num_partitions=4)

    full = pagerank(g, tol=1e-9, max_iterations=12)
    expected = _ranks(full.state)

    store = CheckpointStore(spark, str(tmp_path / "ck2"))
    pagerank(g, tol=1e-9, max_iterations=12, checkpoint=store, checkpoint_interval=1)
    # simulate a crash: drop everything after superstep 3
    store.truncate_after(3)
    assert store.committed_supersteps()[-1] == 3
    resumed = pagerank(
        g, tol=1e-9, max_iterations=12, checkpoint=store,
        checkpoint_interval=1, resume=True,
    )
    assert _ranks(resumed.state) == expected


def test_resume_from_wide_state_checkpoint(spark, tmp_path):
    """A checkpoint is input from outside the run: one written in the
    wide (id, rank, out_deg, delta) layout must resume to the
    uninterrupted ranks (run_gas selects the slim state's columns),
    and one missing `rank` must fail with a clear error naming it
    instead of an ambiguous AnalysisException mid-superstep."""
    import pytest

    from powergraph_spark.gas import SuperstepMetrics

    edges = powerlaw_edges(200, seed=7)
    g = Graph.from_pandas(spark, edges, num_partitions=4)
    expected = _ranks(pagerank(g, tol=1e-9, max_iterations=12).state)

    # pagerank's public state after 3 supersteps IS the wide layout
    wide = pagerank(g, tol=1e-9, max_iterations=3).state
    assert wide.columns == ["id", "rank", "out_deg", "delta"]
    store = CheckpointStore(spark, str(tmp_path / "ck_wide"))
    store.commit(3, wide, SuperstepMetrics(3, -1, None, 0.0))
    resumed = pagerank(
        g, tol=1e-9, max_iterations=12, checkpoint=store,
        checkpoint_interval=1, resume=True,
    )
    assert _ranks(resumed.state) == expected

    store2 = CheckpointStore(spark, str(tmp_path / "ck_no_rank"))
    store2.commit(3, wide.drop("rank"), SuperstepMetrics(3, -1, None, 0.0))
    with pytest.raises(ValueError, match=r"lack \[.rank.\]"):
        pagerank(g, tol=1e-9, max_iterations=12, checkpoint=store2,
                 checkpoint_interval=1, resume=True)


def test_resume_cc_exact(spark, tmp_path):
    edges = powerlaw_edges(150, seed=9)
    g = Graph.from_pandas(spark, edges, num_partitions=4)
    full = connected_components(g)
    expected = sorted((r["id"], r["component"]) for r in full.state.collect())

    store = CheckpointStore(spark, str(tmp_path / "ck3"))
    connected_components(g, checkpoint=store, checkpoint_interval=1)
    store.truncate_after(2)
    resumed = connected_components(
        g, checkpoint=store, checkpoint_interval=1, resume=True
    )
    got = sorted((r["id"], r["component"]) for r in resumed.state.collect())
    assert got == expected

"""The three crawl-graph workloads: one timed pass each through the
engine's public API, plus the checks that verify the pass's answers.

crawl_pagerank   pages -> pages_to_graph (hub salting inert) -> dense
                 pagerank; the dense superstep loop dominates.
crawl_toolkits   pages -> pages_to_graph with hub salting ->
                 connected_components -> label_propagation (fixed
                 rounds) -> triangle_total; no dense pagerank.
crawl_refresh    base shard -> pagerank_delta with a durable commit per
                 superstep -> restart through CheckpointStore.latest ->
                 full-crawl ingest -> pagerank_warm_start over the
                 appended shard's edges.

Every pass does the same amount of work at every seed. The number of
supersteps PageRank needs to converge moves by 15-30% from seed to seed,
which would swamp the timing, so the PageRank loops run a fixed number
of supersteps (their tolerances are far from reached by then) and are
checked against oracles run for the same number of supersteps.
Connected components converges in the same number of supersteps at
every seed tried, and label propagation runs fixed rounds.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import functions as F

from powergraph_spark.algorithms import (connected_components, label_propagation,
                                         pagerank, pagerank_delta,
                                         pagerank_warm_start)
from powergraph_spark.algorithms.triangle_count import triangle_total
from powergraph_spark.webtext import pages_to_graph, url_id

from . import oracles
from .corpus import Corpus, LinkGraph

PARTITIONS = 4
PAGERANK_TOL = 1e-6
PAGERANK_CHECK_INTERVAL = 5
PAGERANK_SUPERSTEPS = 10  # converging to 1e-6 takes 45-90
SALT_CAP = 64
LP_ROUNDS = 4
REFRESH_TOL = 1e-2
DELTA_SUPERSTEPS = 5  # converging takes 31-43 at this tolerance
WARM_SUPERSTEPS = 5  # converging takes 21-76
REFRESH_BASE_SHARE = 0.9


@dataclass(frozen=True)
class Workload:
    """``run_pass(spark, probe, tables, work, cap)`` runs one pass; ``cap``
    bounds every loop's supersteps (the set-up warm-up pass uses it)."""
    name: str
    n_pages: int
    split: bool  # needs base/new shard tables
    run_pass: Callable
    verify: Callable
    # issue-level metric -> engine calls whose seconds it sums
    call_metrics: dict


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def _collect(df, *cols):
    return df.select(*cols).toPandas()


def _check(fn, *args) -> str | None:
    try:
        return fn(*args)
    except Exception as exc:  # a crash in a check is a failed operation
        return f"{type(exc).__name__}: {exc}"


def _verify_graph(g, n: int, src, dst, vertices):
    """Returns (IdMap or None, error)."""
    try:
        imap = oracles.IdMap(_collect(g.vertices, "id", "url"), n)
    except Exception as exc:
        return None, f"{type(exc).__name__}: {exc}"
    return imap, _check(oracles.check_graph, _collect(g.edges, "src", "dst"),
                        imap, src, dst, vertices)


# ---------------------------------------------------------- crawl_pagerank
def pagerank_pass(spark, probe, tables, work: str, cap: int = 10**9):
    g = probe.call("webtext.pages_to_graph", "graph", pages_to_graph,
                   tables["pages"], num_partitions=PARTITIONS)
    probe.graph_size(g)
    if probe.traced:
        probe.partition_metrics(g)
    res = probe.call("algorithms.pagerank", "compute", pagerank, g,
                     tol=PAGERANK_TOL, check_interval=PAGERANK_CHECK_INTERVAL,
                     max_iterations=min(cap, PAGERANK_SUPERSTEPS))
    probe.graph_size(g)
    return {"graph": g, "pagerank": res, "graphs": [g]}


def pagerank_verify(out, corpus: Corpus, lg: LinkGraph):
    n = corpus.n_pages
    imap, err = _verify_graph(out["graph"], n, lg.src, lg.dst, np.arange(n))
    res = out["pagerank"]
    if imap is None:
        return [("webtext.pages_to_graph", err), ("algorithms.pagerank", err)]
    want = oracles.pagerank_power(lg.src, lg.dst, n, res.supersteps)
    pr_err = _check(oracles.check_ranks, _collect(res.state, "id", "rank"), imap,
                    want, f"{res.supersteps} power-iteration supersteps")
    return [("webtext.pages_to_graph", err), ("algorithms.pagerank", pr_err)]


# ---------------------------------------------------------- crawl_toolkits
def toolkits_pass(spark, probe, tables, work: str, cap: int = 10**9):
    g = probe.call("webtext.pages_to_graph", "graph", pages_to_graph,
                   tables["pages"], num_partitions=PARTITIONS, salt_cap=SALT_CAP)
    probe.graph_size(g)
    if probe.traced:
        probe.partition_metrics(g)
    cc = probe.call("algorithms.connected_components", "compute",
                    connected_components, g, max_iterations=min(cap, 200))
    probe.graph_size(g)
    lp = probe.call("algorithms.label_propagation", "compute", label_propagation,
                    g, max_iterations=min(cap, LP_ROUNDS))
    probe.graph_size(g)
    tri = probe.call("algorithms.triangle_total", "compute", triangle_total, g)
    probe.graph_size(g)
    return {"graph": g, "cc": cc, "lp": lp, "triangles": tri, "graphs": [g]}


def toolkits_verify(out, corpus: Corpus, lg: LinkGraph):
    n = corpus.n_pages
    imap, err = _verify_graph(out["graph"], n, lg.src, lg.dst, np.arange(n))
    names = ["algorithms.connected_components", "algorithms.label_propagation",
             "algorithms.triangle_total"]
    if imap is None:
        return [("webtext.pages_to_graph", err)] + [(k, err) for k in names]
    cc = out["cc"]
    cc_err = (None if cc.converged else f"not converged ({cc.termination})") or _check(
        oracles.check_components, _collect(cc.state, "id", "component"), imap,
        lg.src, lg.dst)
    lp_err = _check(oracles.check_labels, _collect(out["lp"].state, "id", "label"),
                    imap, lg.src, lg.dst, LP_ROUNDS)
    want = oracles.triangle_total(lg.src, lg.dst)
    tri_err = None if out["triangles"] == want else (
        f"triangle total {out['triangles']} != {want}")
    return [("webtext.pages_to_graph", err), (names[0], cc_err),
            (names[1], lp_err), (names[2], tri_err)]


# ----------------------------------------------------------- crawl_refresh
def refresh_pass(spark, probe, tables, work: str, cap: int = 10**9):
    base = probe.call("webtext.pages_to_graph", "graph", pages_to_graph,
                      tables["base"], num_partitions=PARTITIONS)
    probe.graph_size(base)
    root = os.path.join(work, "checkpoint")
    shutil.rmtree(root, ignore_errors=True)
    store = probe.checkpoint_store(spark, root)
    delta = probe.call("algorithms.pagerank_delta", "compute", pagerank_delta,
                       base, tol=REFRESH_TOL, checkpoint=store,
                       max_iterations=min(cap, DELTA_SUPERSTEPS))
    probe.graph_size(base)
    step, prev = probe.call("checkpoint.latest", "compute", store.latest)
    full = probe.call("webtext.pages_to_graph", "graph", pages_to_graph,
                      tables["pages"], num_partitions=PARTITIONS)
    probe.graph_size(full)
    if probe.traced:
        probe.partition_metrics(full)
    appended = tables["new"].select(url_id(F.col("url")).alias("src"))
    new_edges = full.edges.join(appended, "src").select("src", "dst")
    warm = probe.call("algorithms.pagerank_warm_start", "compute",
                      pagerank_warm_start, full, prev, new_edges,
                      tol=REFRESH_TOL, max_iterations=min(cap, WARM_SUPERSTEPS))
    probe.graph_size(full)
    return {"base": base, "delta": delta, "store": store, "latest": (step, prev),
            "full": full, "warm": warm, "written_mb": _dir_mb(root),
            "graphs": [base, full]}


def _manifests_error(store, supersteps: int) -> str | None:
    steps = store.committed_supersteps()
    if steps != list(range(1, supersteps + 1)):
        return f"committed supersteps {steps[:3]}..{steps[-3:]} != 1..{supersteps}"
    bad = [n for n in steps if store.manifest(n).get("superstep") != n]
    return f"manifests disagree at supersteps {bad}" if bad else None


def refresh_verify(out, corpus: Corpus, lg: LinkGraph):
    n = corpus.n_pages
    cut = int(n * REFRESH_BASE_SHARE)
    bsrc, bdst = lg.restrict_sources(cut)
    bverts = np.union1d(np.arange(cut), bdst)
    delta, warm = out["delta"], out["warm"]
    # oracle: the cold delta run on the base crawl, then the warm start
    # over the full crawl; each new edge u->v owes v the standing
    # emission of u
    rank, acc, sent = oracles.delta_pagerank(bsrc, bdst, n, REFRESH_TOL, delta.supersteps)
    new = lg.src >= cut
    acc = acc + np.bincount(lg.dst[new], weights=sent[lg.src[new]], minlength=n)
    warm_rank, _, _ = oracles.delta_pagerank(lg.src, lg.dst, n, REFRESH_TOL,
                                             warm.supersteps, acc, sent)
    checks = []
    bmap, err = _verify_graph(out["base"], n, bsrc, bdst, bverts)
    checks.append(("webtext.pages_to_graph", err))
    d_err = err if bmap is None else (
        _check(_manifests_error, out["store"], delta.supersteps)
        or _check(oracles.check_ranks, _collect(delta.state, "id", "rank"), bmap,
                  rank, f"{delta.supersteps} delta supersteps"))
    checks.append(("algorithms.pagerank_delta", d_err))
    step, prev = out["latest"]
    checks.append(("checkpoint.latest", None if step == delta.supersteps and
                   prev.count() == len(bverts) else f"latest() returned superstep {step}"))
    fmap, err = _verify_graph(out["full"], n, lg.src, lg.dst, np.arange(n))
    checks.append(("webtext.pages_to_graph", err))
    w_err = err if fmap is None else _check(
        oracles.check_ranks, _collect(warm.state, "id", "rank"), fmap, warm_rank,
        f"{warm.supersteps} warm-start supersteps")
    checks.append(("algorithms.pagerank_warm_start", w_err))
    return checks


WORKLOADS = {
    w.name: w for w in (
        Workload("crawl_pagerank", 10000, False, pagerank_pass, pagerank_verify,
                 {"ranks_s": ["algorithms.pagerank"]}),
        Workload("crawl_toolkits", 10000, False, toolkits_pass, toolkits_verify,
                 {"components_s": ["algorithms.connected_components"],
                  "communities_s": ["algorithms.label_propagation"],
                  "triangles_s": ["algorithms.triangle_total"]}),
        Workload("crawl_refresh", 10000, True, refresh_pass, refresh_verify,
                 {"checkpointed_ranks_s": ["algorithms.pagerank_delta"],
                  "refresh_s": ["checkpoint.latest",
                                "algorithms.pagerank_warm_start"]}),
    )
}

"""The synchronous GAS engine as a driver-side superstep loop.

Reproduces the semantics of the reference's synchronous engine
(/root/reference/src/graphlab/engine/synchronous_engine.hpp:1302-1421):

  1. exchange_messages + receive_messages  -> the gather join+agg shuffle
  2. execute_gathers (per-replica partial, += merged at master)
                                           -> Spark partial+final hash agg
  3. execute_applys (master mutates, broadcast to mirrors)
                                           -> vertices join messages + apply expr
  4. execute_scatters (signal next frontier)
                                           -> delta/changed-based active set
  5. aggregator tick + snapshot_interval   -> per-superstep metrics + checkpoint

Termination: active set empty (TASK_DEPLETION,
synchronous_engine.hpp:1359-1368), max_iterations, or timeout
(engine options at synchronous_engine.hpp:986-1059).

Execution discipline (measured, see BENCH notes): each superstep is
materialized EXACTLY ONCE — either by a durable checkpoint commit or
by an eager localCheckpoint — and the frontier/convergence checks then
run against the materialized RDD (cheap scans). This both truncates
the logical plan every superstep (the #1 Spark iterative-loop pitfall:
unbounded lineage) and avoids the cache-miss re-execution blowup that
a persist-only chain exhibits under AQE. A superstep's plan is a
shuffle-hash scatter join + gather partial/final agg + apply
projection; AQE submits each shuffle-map stage as its own job, so a
steady dense PageRank superstep runs 3 Spark jobs (10k-page crawl, 4
partitions, 4 vCPUs).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .checkpoint import CheckpointStore
from .graph import Graph

# step_fn returns (new_state, frontier_builder | None); the builder is
# applied to the MATERIALIZED state so frontier counting never re-runs
# the superstep plan.
FrontierFn = Callable[[DataFrame], DataFrame]


def truncate_plan(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` AND sever its Catalyst origin chain.

    ``Dataset.localCheckpoint`` truncates the RDD lineage but the
    resulting LogicalRDD still carries ``originStats`` /
    ``originConstraints`` captured from the pre-checkpoint plan — whose
    own leaves are the PREVIOUS superstep's LogicalRDD with ITS origin,
    and so on for the whole run. A superstep state that re-enters the
    next plan through TWO join branches (e.g. lbp's per-edge message
    state joined with beliefs on src AND dst) makes the optimizer's
    walk over that origin chain compound geometrically: measured on the
    4x4-grid LBP fixture, superstep wall time grew 0.4s -> 0.9 -> 4.1
    -> 19 -> 95s by superstep 14 (driver-side, `InjectRuntimeFilter`
    alone accounted for 2.11s of a 2.13s optimize at step 11; disabling
    it only moved the cost to the next stats consumer). Rebuilding the
    checkpointed RDD as a FRESH LogicalRDD with no origin keeps every
    superstep flat (0.12s at step 19, same fixture).

    Trade-off: the fresh LogicalRDD loses outputPartitioning, so a
    downstream co-partitioned zero-exchange join would re-exchange.
    Loops that rely on that (pagerank's slim-state gather) keep the
    plain localCheckpoint; loops whose state re-enters through multiple
    shuffle branches (lbp) opt in via run_gas(origin_free_checkpoint=
    True). Falls back to the plain localCheckpoint if the private
    internalCreateDataFrame bridge is unavailable.
    """
    d2 = df.localCheckpoint(eager=True)
    if not _ORIGIN_FREE_BRIDGE:
        return d2
    try:
        spark = d2.sparkSession
        jrdd = d2._jdf.queryExecution().toRdd()
        jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, d2._jdf.schema(), False
        )
        return DataFrame(jdf, spark)
    except Exception:
        return d2


# Test seam (tests/test_graph.py pins both paths): setting this False
# forces the plain-localCheckpoint fallback, which is correct but
# re-exposes the origin-chain optimizer cost documented above. A loud
# bridge-liveness test guards against a Spark upgrade silently
# demoting every origin_free_checkpoint loop to the fallback.
_ORIGIN_FREE_BRIDGE = True


@dataclass
class SuperstepMetrics:
    superstep: int
    active: int
    metric: float | None  # None (JSON null) when not yet measured —
    # NaN would make the manifest non-strict JSON.
    wall_sec: float
    extras: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "superstep": self.superstep,
                "active": self.active,
                "metric": self.metric,
                "wall_sec": round(self.wall_sec, 4),
                **self.extras,
            }
        )


@dataclass
class GASResult:
    state: DataFrame
    supersteps: int
    converged: bool
    termination: str  # TASK_DEPLETION | MAX_ITERATIONS | TIMEOUT
    metrics: list[SuperstepMetrics]


def make_delta_step(
    edges: DataFrame,
    *,
    frontier_pred: str,
    emit_expr: str,
    merge_exprs: dict[str, str],
    monoid: str = "sum",
    hint: str = "shuffle_hash",
):
    """ENGINE-LEVEL gather cache / delta execution for ANY vertex
    program — the generalization of the reference's per-vertex gather
    cache + post_delta path (synchronous_engine.hpp:1589-1643 caches
    the gather; ivertex_program.hpp post_delta folds increments into a
    neighbor's cache) as a declarative factory:

      frontier_pred  SQL predicate over state: who emits this superstep
      emit_expr      SQL expr over an emitting vertex's state: the
                     message value ``d`` (for additive caches, the
                     INCREMENT since last emission; for monotone
                     monoids, the value itself)
      monoid         'sum' | 'min' | 'max' — the += merge. Cached/delta
                     execution is sound exactly for abelian + and for
                     monotone monoids, the same families the reference
                     supports (commutative += over IS_POD gathers).
      merge_exprs    {col: SQL expr} building the new state row from
                     the old columns plus ``din`` (the folded incoming
                     message, NULL when none) — the apply + scatter
                     re-signal logic. Must produce every state column
                     including the next frontier flag.

    Returns a ``step_fn`` for :func:`run_gas`. The constructed plan is
    the engine's standard zero-exchange superstep: frontier filter
    (partitioning-preserving) -> shuffle-hash scatter join onto the
    src-hashed persisted edge table -> partial+final ``monoid`` agg ->
    shuffle-hash apply join back to state. Only CHANGED vertices emit,
    so late supersteps touch the shrinking frontier, not |V| — the
    reference's dynamic/delta scheduling on BSP.

    ``powergraph_spark.algorithms.pagerank_delta`` is the additive
    instantiation; a min-monoid instantiation (delta CC) is exercised
    in tests against the dense engine result.
    """
    aggs = {"sum": F.sum, "min": F.min, "max": F.max}
    if monoid not in aggs:
        raise ValueError(f"monoid must be one of {sorted(aggs)}, got {monoid!r}")
    agg = aggs[monoid]
    out_cols = [f"{expr} AS {name}" for name, expr in merge_exprs.items()]

    def step(graph: Graph, state: DataFrame, i: int):
        frontier = state.filter(frontier_pred).selectExpr(
            "id", f"{emit_expr} AS d"
        )
        msgs = (
            edges.join(frontier.hint(hint), edges.src == F.col("id"))
            .groupBy(F.col("dst").alias("id"))
            .agg(agg("d").alias("din"))
        )
        new_state = state.join(msgs.hint(hint), "id", "left").selectExpr(
            "id", *out_cols
        )
        return new_state, None

    return step


def _edge_state_view(graph: Graph, state: DataFrame) -> DataFrame:
    """Edge rows joined with BOTH endpoints' current vertex state —
    the map input of the reference's edge aggregators / map_reduce_edges
    with vertex access (distributed_aggregator.hpp:458). State columns
    appear twice, prefixed ``src_`` and ``dst_``. Two shuffle-joins of
    the slim state onto the persisted edge layout — same shape as one
    scatter, partial-agg'd by the caller's agg columns."""
    src_side = state.select(
        *[state[c].alias(f"src_{c}") for c in state.columns]
    )
    dst_side = state.select(
        *[state[c].alias(f"dst_{c}") for c in state.columns]
    )
    # shuffle_hash for the same reason as the scatter join: under AQE a
    # |V|-row state side can flip to a per-call broadcast at scale.
    e = graph.edges
    return e.join(
        src_side.hint("shuffle_hash"), e.src == src_side.src_id
    ).join(dst_side.hint("shuffle_hash"), e.dst == dst_side.dst_id)


def total_shuffle_write_bytes(spark) -> int:
    """Cumulative shuffle-write bytes of this application (summed over
    executors, from the live AppStatusStore). -1 when unavailable."""
    try:
        execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
        return sum(
            execs.apply(i).totalShuffleWrite() for i in range(execs.size())
        )
    except Exception:
        return -1


def _eval_aggregators(df: DataFrame, aggs: dict[str, list] | None) -> dict:
    """Evaluate every named aggregator in ONE df.agg(...) job, slicing
    the single result row back out per name (the reference evaluates
    all registered aggregators in one engine tick too,
    synchronous_engine.hpp:1414)."""
    if not aggs:
        return {}
    flat, slices, pos = [], [], 0
    for name, cols in aggs.items():
        flat.extend(cols)
        slices.append((name, pos, pos + len(cols)))
        pos += len(cols)
    row = list(df.agg(*flat).first())
    return {
        name: (row[a:b] if b - a > 1 else row[a]) for name, a, b in slices
    }


def run_gas(
    graph: Graph,
    init_state: DataFrame,
    step_fn: Callable[[Graph, DataFrame, int], tuple[DataFrame, FrontierFn | None]],
    *,
    convergence_fn: Callable[[DataFrame, DataFrame], tuple[int, float]] | None = None,
    observe_aggs: Callable[[], list[Column]] | None = None,
    tol: float = 0.0,
    max_iterations: int = 100,
    timeout_sec: float | None = None,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 1,
    check_interval: int = 1,
    aggregators: dict[str, list] | None = None,
    edge_aggregators: dict[str, list] | None = None,
    plan_hook: Callable[[DataFrame, int], None] | None = None,
    resume: bool = False,
    audit_shuffle: bool = False,
    origin_free_checkpoint: bool = False,
    verbose: bool = False,
) -> GASResult:
    """Run the superstep loop to TASK_DEPLETION / max_iterations.

    ``step_fn(graph, state, i) -> (new_state, frontier_fn_or_None)``
        one gather-apply-scatter superstep as DataFrame ops;
        ``frontier_fn(materialized_state)`` returns the slim active set
        whose emptiness terminates the loop (signal semantics).
    ``convergence_fn(old_state, new_state) -> (active_count, metric)``
        used when step_fn returns no frontier builder: delta-based
        convergence (scatter's signal-if-|delta|>tol, pagerank.cpp:
        124-135). Terminates when active_count == 0 or metric <= tol.
    ``observe_aggs() -> [Column, ...]`` FREE convergence: aggregate
        expressions attached to the superstep's own materialization job
        via ``DataFrame.observe`` (accumulator-based — no extra scan,
        no extra job). The first column must be aliased ``active``
        (count of still-active vertices); an optional second aliased
        ``metric`` (e.g. max delta). Takes precedence over frontier_fn
        and convergence_fn when provided. This is the analog of the
        reference engine folding its termination ballot into the
        superstep barrier instead of running a second pass.
    ``check_interval=k`` evaluates termination only every k supersteps
        (states still materialize every superstep). Safe for fixpoint
        algorithms; termination may overshoot by at most k-1 steps.
    ``aggregators``: {name: [agg Columns over state]} — the reference's
        add_vertex_aggregator / aggregate_periodic surface
        (/root/reference/src/graphlab/aggregation/distributed_aggregator.hpp:
        396,595; engine tick at synchronous_engine.hpp:1414). Evaluated
        at every termination check ("periodic" == every check_interval
        supersteps — wall-clock periodicity is meaningless in BSP) and
        recorded in the metrics stream.
    ``edge_aggregators``: {name: [agg Columns]} — the reference's
        add_edge_aggregator surface (distributed_aggregator.hpp:458):
        map_reduce over every edge WITH both endpoints' current vertex
        data. The agg columns see the persisted edge table's columns
        plus the materialized state's columns prefixed ``src_`` /
        ``dst_`` (e.g. ``F.sum((F.col("src_component") !=
        F.col("dst_component")).cast("long"))``). Evaluated at each
        termination check against the MATERIALIZED state (cheap scans,
        never re-runs the superstep) and recorded in metrics extras.
    ``resume``: continue from ``checkpoint.latest()``. The checkpoint
        must carry every column of ``init_state`` (extra columns are
        dropped); a missing one raises ValueError.
    """
    _ckpt = truncate_plan if origin_free_checkpoint else (
        lambda df: df.localCheckpoint(eager=True)
    )
    t_start = time.time()
    state = _ckpt(init_state)
    start_step = 0

    if resume and checkpoint is not None:
        resumed = checkpoint.latest()
        if resumed is not None:
            start_step, state = resumed
            # a checkpoint is input from outside this run: it may carry
            # an older state layout. Select init_state's columns in
            # order, or fail here instead of with an ambiguous-column
            # AnalysisException mid-superstep.
            missing = [c for c in init_state.columns if c not in state.columns]
            if missing:
                raise ValueError(
                    f"resumed checkpoint columns {state.columns} lack "
                    f"{missing} of the state layout {init_state.columns}"
                )
            state = state.select(*init_state.columns)
            if verbose:
                print(f"[gas] resumed at superstep {start_step}")

    metrics: list[SuperstepMetrics] = []
    converged = False
    termination = "MAX_ITERATIONS"
    i = start_step
    # audit_shuffle: record shuffle-write bytes per check window — the
    # per-superstep shuffle-volume evidence (state rows only, never the
    # edge table) that a plan regression would show up in immediately
    shuffle_base = (
        total_shuffle_write_bytes(init_state.sparkSession)
        if audit_shuffle else None
    )
    while i < max_iterations:
        t0 = time.time()
        new_state, frontier_fn = step_fn(graph, state, i)
        i += 1
        check_due = i % check_interval == 0 or i >= max_iterations
        if plan_hook is not None:
            # plan-quality inspection point (tests assert e.g. that no
            # BroadcastExchange of vertex state appears in a superstep)
            plan_hook(new_state, i)

        # free convergence metrics: piggyback on the materialization job
        obs: Observation | None = None
        if observe_aggs is not None and check_due:
            obs = Observation()
            new_state = new_state.observe(obs, *observe_aggs())

        # materialize exactly once (durable or local)
        durable_due = checkpoint is not None and i % checkpoint_interval == 0
        if durable_due:
            pre = SuperstepMetrics(i, -1, None, time.time() - t0)
            new_state = checkpoint.commit(i, new_state, pre)
        else:
            new_state = _ckpt(new_state)
        state = new_state

        # termination check (free via observe; else cheap scans over
        # the materialized state)
        if check_due:
            if obs is not None:
                vals = obs.get
                n_active = int(vals.get("active") or 0)
                metric = (
                    float(vals["metric"]) if vals.get("metric") is not None
                    else float(n_active)
                )
            elif frontier_fn is not None:
                n_active = frontier_fn(state).count()
                metric = float(n_active)
            elif convergence_fn is not None:
                n_active, metric = convergence_fn(None, state)
            else:
                n_active, metric = state.count(), float("inf")

            # ONE agg job over state and one over the edge view per
            # check, regardless of how many named aggregators are
            # registered (each .first() used to be its own Spark job)
            extras = {}
            extras.update(_eval_aggregators(state, aggregators))
            if edge_aggregators:
                ev = _edge_state_view(graph, state)
                extras.update(_eval_aggregators(ev, edge_aggregators))
            if shuffle_base is not None:
                cur = total_shuffle_write_bytes(state.sparkSession)
                # -1 means the counter is unavailable: no delta to report
                extras["shuffle_write_bytes"] = (
                    None if -1 in (cur, shuffle_base) else cur - shuffle_base
                )
                shuffle_base = cur

            m = SuperstepMetrics(i, n_active, metric, time.time() - t0, extras)
            metrics.append(m)
            if verbose:
                print(f"[gas] {m.to_json()}")

            if n_active == 0 or (tol > 0 and metric <= tol):
                converged = True
                termination = "TASK_DEPLETION"
                # make sure the terminal state is durably committed
                if checkpoint is not None and not durable_due:
                    state = checkpoint.commit(i, state, m)
                break
        if timeout_sec is not None and time.time() - t_start > timeout_sec:
            termination = "TIMEOUT"
            break

    return GASResult(
        state=state,
        supersteps=i,
        converged=converged,
        termination=termination,
        metrics=metrics,
    )

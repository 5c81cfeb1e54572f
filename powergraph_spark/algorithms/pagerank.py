"""PageRank — reference semantics from
/root/reference/toolkits/graph_analytics/pagerank.cpp.

Reference contract (pagerank.cpp:76-146):
- init rank = 1.0 (pagerank.cpp:52)
- update: rank'(v) = 0.15 + 0.85 * sum_{u->v} rank(u)/out_deg(u)
  (RESET_PROB at :31, gather at :87-92, apply at :99-106). This is the
  *unnormalized* PowerGraph PageRank — no dangling-mass redistribution,
  no 1/N scaling.
- dynamic convergence: scatter signals a neighbor when |delta| > tol
  (pagerank.cpp:124-135); synchronous full-update to max|delta| <= tol
  is convergence-equivalent and is what we run.

GAS -> DataFrame mapping (SURVEY.md §2.6): scatter join of rank state
onto the edge table + gather groupBy(dst).sum() + apply expression.
Per superstep: exactly two shuffles (state->edge partitions = the
master->mirror vdata broadcast; contributions->dst = the mirror->master
partial-gather merge, synchronous_engine.hpp:1860-1877). Partial
map-side aggregation of the sum is Spark's built-in analog of
pre/post_local_gather (ivertex_program.hpp:729-765), and is what makes
hub in-degrees scale: each edge partition emits one partial sum per
(partition, dst).

Scale notes: each call shuffles the edge table once (repartition by
src, persisted); every superstep shuffles only the vertex-state table
(|V| rows, orders of magnitude smaller than |E| at web scale) plus
the partially-aggregated contributions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..checkpoint import CheckpointStore
from ..gas import GASResult, make_delta_step, run_gas
from ..graph import Graph

RESET_PROB = 0.15  # pagerank.cpp:31


def _src_hashed_edges(
    graph: Graph, cols: list, norm_col: str, norm_agg: Column
) -> tuple[DataFrame, DataFrame]:
    """The loop's edge layout plus its per-source normalizer.

    Edges are hash-partitioned by src and persisted, so the
    per-superstep scatter join shuffles only the (small) vertex-state
    side. The normalizer (id, ``norm_col``) aggregates ``norm_agg``
    over each source's out-edges (out-degree or out-weight)."""
    edges = (
        graph.edges.select(*cols)
        .repartition(graph.num_partitions, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges.count()
    norm = edges.groupBy(F.col("src").alias("id")).agg(
        norm_agg.alias(norm_col)
    )
    return edges, norm


def _dense_pagerank(
    graph: Graph,
    vertices: DataFrame,
    *,
    edge_cols: list,
    norm_col: str,
    norm_agg: Column,
    message: Column,
    init_rank: Column,
    upd: str,
    tol: float,
    **loop,
) -> GASResult:
    """The dense superstep loop behind every synchronous PageRank.

    ``vertices`` is (id, *carried): carried columns ride in the static
    table and in the iteration state. ``edge_cols`` select the edge
    view, ``norm_agg`` aggregates each source's normalizer
    ``norm_col`` over it (sources with ``norm_col <= 0`` are dangling
    and contribute nothing). ``message`` is the per-edge gather term
    over the edge columns and ``c = rank / norm_col``; ``init_rank``
    seeds the rank; ``upd`` is the SQL apply expression over
    ``gathered`` and the carried columns. ``loop`` goes to
    :func:`run_gas`. Returns state (id, rank, ``norm_col``, delta).
    """
    edges, norm = _src_hashed_edges(graph, edge_cols, norm_col, norm_agg)
    carried = [c for c in vertices.columns if c != "id"]

    # SLIM iteration state: the normalizer never changes, so it lives in
    # its own cached co-partitioned table and the state that
    # re-materializes every superstep is (id, *carried, rank, delta)
    # only — measured ~11% per-superstep on the 1M-page corpus at
    # local[2] AND local[8] (less state serialized per localCheckpoint,
    # narrower join rows), byte-identical ranks. The public contract
    # (state includes the normalizer) is restored by one final join.
    static = (
        vertices
        # shuffle_hash: one-time setup join, but its subtree is part of
        # the cached static table's plan — keeping it broadcast-free
        # keeps the whole superstep plan broadcast-free (testable).
        .join(norm.hint("shuffle_hash"), "id", "left")
        .select(
            "id", *carried, F.coalesce(norm_col, F.lit(0)).alias(norm_col)
        )
        .repartition(graph.num_partitions, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    static.count()
    # init rides the hot static cache: rank/delta are literals, so there
    # is nothing to join.
    init = static.select(
        "id",
        *carried,
        init_rank.alias("rank"),
        F.lit(float("inf")).alias("delta"),
    )

    def step(g: Graph, state: DataFrame, i: int):
        # selectExpr keeps driver-side plan building cheap (one py4j
        # call vs dozens — measurable at ~85 supersteps).
        #
        # shuffle_hash hints: state, static, and edges are all
        # co-partitioned on the join key (state by id from the previous
        # apply, static by id at setup, edges by src at setup), so both
        # SHJs run with ZERO exchange. Without the hints AQE converts
        # these to broadcast joins — a DRIVER-SERIAL collect + rebuild
        # of |V| rows every superstep, which flatlines scaling
        # (measured: ~4s/superstep at 1M vertices regardless of cores).
        contrib = (
            edges.join(
                state.join(static.hint("shuffle_hash"), "id")
                .filter(f"{norm_col} > 0")
                .selectExpr("id", f"rank / {norm_col} AS c")
                .hint("shuffle_hash"),
                edges.src == F.col("id"),
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(message).alias("gathered"))
        )
        new_state = state.join(
            contrib.hint("shuffle_hash"), "id", "left"
        ).selectExpr(
            "id",
            *carried,
            f"{upd} AS rank",
            f"abs(({upd}) - rank) AS delta",
        )
        return new_state, None

    # convergence is observed on the superstep's own materialization
    # job (DataFrame.observe -> accumulators): zero extra jobs/scans.
    def observe_aggs():
        return [
            F.sum(F.when(F.col("delta") > tol, 1).otherwise(0))
            .cast("long").alias("active"),
            F.max("delta").alias("metric"),
        ]

    try:
        result = run_gas(
            graph, init, step, observe_aggs=observe_aggs, tol=tol, **loop
        )
        # materialized so callers can collect after the caches below
        # are released
        result.state = (
            result.state.join(static.hint("shuffle_hash"), "id")
            .select("id", "rank", norm_col, "delta")
            .localCheckpoint(eager=True)
        )
        return result
    finally:
        static.unpersist()
        edges.unpersist()


def pagerank(
    graph: Graph,
    tol: float = 1e-6,
    max_iterations: int = 200,
    damping: float = 0.85,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 1,
    check_interval: int = 1,
    plan_hook=None,
    resume: bool = False,
    audit_shuffle: bool = False,
    verbose: bool = False,
) -> GASResult:
    """Returns GASResult whose state is (id, rank, out_deg, delta).

    The gather is Catalyst's partial+final hash aggregate — whole-stage
    codegen end to end — and each superstep is one gather/apply round.
    """
    return _dense_pagerank(
        graph,
        graph.vertices.select("id"),
        edge_cols=["src", "dst"],
        norm_col="out_deg",
        norm_agg=F.count(F.lit(1)),
        message=F.col("c"),
        init_rank=F.lit(1.0),  # pagerank.cpp:52
        upd=f"{RESET_PROB} + {damping} * coalesce(gathered, 0.0)",
        tol=tol,
        max_iterations=max_iterations,
        checkpoint=checkpoint,
        checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        plan_hook=plan_hook,
        resume=resume,
        audit_shuffle=audit_shuffle,
        verbose=verbose,
    )


def pagerank_weighted(
    graph: Graph,
    weight_col: str = "weight",
    tol: float = 1e-6,
    max_iterations: int = 200,
    damping: float = 0.85,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 1,
    check_interval: int = 1,
    resume: bool = False,
    verbose: bool = False,
) -> GASResult:
    """Weighted PageRank: an out-edge contributes rank * w / Σ_out w
    instead of rank / out_degree — the natural ranking for edge tables
    carrying multiplicities, e.g. the host graph's link counts
    (webtext.urls.host_graph). Reduces exactly to :func:`pagerank`
    when every weight is 1 (differential-tested). The reference's
    pagerank is unweighted (pagerank.cpp:99-106); this extends the
    toolkit on the same dense superstep: slim (id, rank, delta) state,
    a static (id, wout) cache, zero-exchange shuffle-hash joins,
    observe-fused convergence, one materialization per superstep.
    Vertices with non-positive total out-weight are dangling
    (contribute nothing). Weights must be pre-aggregated to ONE row
    per (src, dst) — Graph.from_edges dedups pairs, so duplicate-pair
    weight rows never reach this function intact (host_graph output
    already satisfies this). Returns state (id, rank, wout, delta)."""
    return _dense_pagerank(
        graph,
        graph.vertices.select("id"),
        edge_cols=["src", "dst", F.col(weight_col).cast("double").alias("w")],
        norm_col="wout",
        norm_agg=F.sum("w"),
        message=F.col("w") * F.col("c"),
        init_rank=F.lit(1.0),
        upd=f"{RESET_PROB} + {damping} * coalesce(gathered, 0.0)",
        tol=tol,
        max_iterations=max_iterations,
        checkpoint=checkpoint,
        checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        resume=resume,
        verbose=verbose,
    )


def personalized_pagerank(
    graph: Graph,
    sources,
    tol: float = 1e-6,
    max_iterations: int = 200,
    damping: float = 0.85,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 1,
    check_interval: int = 1,
    resume: bool = False,
    verbose: bool = False,
) -> GASResult:
    """Personalized (topic-sensitive) PageRank: the reset mass lands
    only on ``sources`` (list of vertex ids, or a DataFrame with an
    ``id`` column) — r = reset + damping * Aᵀ r with
    reset(v) = RESET_PROB·1[v ∈ S], the unnormalized analog of the
    reference's uniform reset (pagerank.cpp:99-106; uniform S = every
    vertex recovers standard pagerank ranks exactly). Standard
    link-graph primitive for seed-relative relevance (crawl frontier
    scoring, related-page ranking). Same dense superstep as
    :func:`pagerank`, with is_src in the static table and the state.
    Returns state (id, rank, out_deg, delta)."""
    if isinstance(sources, DataFrame):
        flag = sources.select("id").distinct().withColumn(
            "is_src", F.lit(True)
        )
        vertices = (
            graph.vertices.select("id")
            .join(flag.hint("shuffle_hash"), "id", "left")
            .select("id", F.coalesce("is_src", F.lit(False)).alias("is_src"))
        )
    else:
        vertices = graph.vertices.select(
            "id", F.col("id").isin([int(s) for s in sources]).alias("is_src")
        )
    # explicit DOUBLE casts: bare 0.15/0.0 literals parse as DECIMAL
    # in selectExpr and would leak decimal.Decimal into the rank column
    reset = (
        f"CASE WHEN is_src THEN CAST({RESET_PROB} AS DOUBLE)"
        " ELSE CAST(0.0 AS DOUBLE) END"
    )
    # is_src rides IN the state row (one boolean) so apply is a single
    # state ⋈ contrib join — the flagship's exact superstep shape. An
    # earlier draft joined static AND state in apply (state re-entering
    # the plan through an extra aliased branch) and hit the geometric
    # origin-chain blowup truncate_plan documents: measured 0.4 -> 1.4
    # -> 3.5 -> 8.4 -> 22 -> 59 s/superstep by step 24 on a 5-vertex
    # fixture. The flagship shape stays flat for 100+ supersteps.
    return _dense_pagerank(
        graph,
        vertices,
        edge_cols=["src", "dst"],
        norm_col="out_deg",
        norm_agg=F.count(F.lit(1)),
        message=F.col("c"),
        init_rank=F.expr(reset),
        upd=f"({reset}) + {damping} * coalesce(gathered, 0.0)",
        tol=tol,
        max_iterations=max_iterations,
        checkpoint=checkpoint,
        checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        resume=resume,
        verbose=verbose,
    )


def total_rank(state: DataFrame) -> float:
    """map_reduce_vertices(total_rank) self-check (pagerank.cpp:257-258)."""
    return float(state.agg(F.sum("rank")).first()[0])


def _delta_pagerank(
    graph: Graph,
    seed: Callable[[DataFrame], DataFrame],
    tol: float,
    damping: float,
    **loop,
) -> GASResult:
    """The gather-cache loop behind pagerank_delta and
    pagerank_warm_start — the additive instantiation of the engine's
    delta factory (gas.make_delta_step): acc is the cached gather, the
    emission is the increment since last send, receivers fold deltas
    with SUM. ``seed(base)`` maps base = (id, out_deg), out_deg NULL
    for vertices without out-edges, to the initial state (id, rank,
    out_deg, acc, sent, changed). ``loop`` goes to :func:`run_gas`."""
    edges, out_deg = _src_hashed_edges(
        graph, ["src", "dst"], "out_deg", F.count(F.lit(1))
    )
    init = seed(
        graph.vertices.select("id").join(out_deg, "id", "left")
    ).repartition(graph.num_partitions, "id")
    step = make_delta_step(
        edges,
        frontier_pred="changed AND out_deg > 0",
        emit_expr="rank / out_deg - sent",
        monoid="sum",
        merge_exprs={
            "rank": f"{RESET_PROB} + {damping} * (acc + coalesce(din, 0.0))",
            "out_deg": "out_deg",
            "acc": "acc + coalesce(din, 0.0)",
            # emission updates `sent` for this step's frontier
            "sent": "CASE WHEN changed AND out_deg > 0 THEN rank / out_deg "
                    "ELSE sent END",
            # re-signal on cumulative un-sent change (gather-cache
            # safe accumulation), dangling vertices never signal
            "changed": "CASE WHEN out_deg > 0 THEN "
                       f"abs(({RESET_PROB} + {damping} * "
                       "(acc + coalesce(din, 0.0))) "
                       "- (CASE WHEN changed THEN rank / out_deg ELSE sent "
                       f"END) * out_deg) > {tol} ELSE false END",
        },
    )
    try:
        return run_gas(
            graph,
            init,
            step,
            observe_aggs=lambda: [
                F.sum(F.col("changed").cast("long")).alias("active")
            ],
            **loop,
        )
    finally:
        edges.unpersist()


def pagerank_delta(
    graph: Graph,
    tol: float = 1e-6,
    max_iterations: int = 500,
    damping: float = 0.85,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 1,
    check_interval: int = 1,
    verbose: bool = False,
) -> GASResult:
    """Delta / dynamic PageRank — the reference's gather-cache +
    post_delta path (synchronous_engine.hpp:1589-1643 caches the
    gather; pagerank.cpp:124-135 scatters only when |delta| > TOLERANCE
    and posts the contribution delta to the neighbor's cache).

    State: (id, rank, out_deg, acc, sent, changed)
      acc  = cached gather sum (the reference's gather_cache entry)
      sent = contribution (rank/out_deg) at this vertex's LAST emission
    Per superstep only the CHANGED frontier emits
      d = rank/out_deg - sent
    and receivers fold d into acc:  rank' = 0.15 + 0.85 * acc'.
    Re-emission is anchored on cumulative un-sent change
    (|rank' - sent' * out_deg| > tol), so sub-tol drips accumulate and
    eventually re-signal instead of being silently dropped.

    At web scale this is the difference between touching the shrinking
    frontier and touching |V| every superstep for slowly-converging
    tails. Differential-tested against dense pagerank (allclose 1e-6);
    per-superstep frontier sizes land in GASResult.metrics (active),
    giving the fewer-rows-touched evidence directly.
    """
    return _delta_pagerank(
        graph,
        lambda base: base.selectExpr(
            "id",
            "CAST(1.0 AS DOUBLE) AS rank",  # SQL 1.0 is DECIMAL, not double
            "coalesce(out_deg, 0) AS out_deg",
            "CAST(0.0 AS DOUBLE) AS acc",
            "CAST(0.0 AS DOUBLE) AS sent",
            "coalesce(out_deg, 0) > 0 AS changed",
        ),
        tol,
        damping,
        max_iterations=max_iterations,
        checkpoint=checkpoint,
        checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        verbose=verbose,
    )


def pagerank_warm_start(
    graph: Graph,
    prev_state: DataFrame,
    new_edges: DataFrame,
    tol: float = 1e-6,
    max_iterations: int = 500,
    damping: float = 0.85,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 1,
    check_interval: int = 1,
    verbose: bool = False,
) -> GASResult:
    """Incremental PageRank: continue a converged ``pagerank_delta``
    state after new edges were appended (e.g. by the streaming crawl
    ingest, streaming.py stream_pages_to_edges) instead of cold-starting
    on the grown graph. This is the reference's dynamic scheduling
    (synchronous_engine.hpp:1589-1643, gather cache + post_delta)
    applied ACROSS runs — the capability a continuously-crawling
    deployment needs: only vertices touched by the new edges (and the
    decaying ripple around them) recompute, not |V|.

    Seed construction (the correctness-critical bookkeeping):
    - ``acc`` must equal the sum of the CURRENT graph's in-neighbors'
      last emissions. Old edges already delivered ``sent``; for each
      NEW edge u->v the source's standing emission is folded into v's
      cache once (the post_delta an edge insertion owes its target).
    - out-degree changes make a source's standing emission stale
      (``sent != rank/out_deg'``); the uniform re-signal criterion
      |rank - sent*out_deg'| > tol catches exactly those sources, new
      vertices, and corrected targets — unchanged vertices stay idle.

    ``graph`` is the UPDATED graph (all edges); ``prev_state`` the
    converged delta state (id, rank, out_deg, acc, sent, ...);
    ``new_edges`` (src, dst) must be the genuinely-new edges (not in
    the previous graph — anti-join the sink against the old edge table
    when shards may overlap). Converges to the same fixpoint as a cold
    run on the updated graph (differential-tested allclose 1e-6) in
    fewer supersteps and far fewer touched rows.
    """
    prev = prev_state.select("id", "acc", "sent")
    # one-time cache corrections: each new edge u->v owes v the source's
    # standing emission (sources absent from prev_state are new vertices
    # with sent=0 — nothing owed)
    corr = (
        new_edges.select("src", "dst")
        .join(prev.selectExpr("id AS src", "sent AS _s"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("_s").alias("corr"))
    )

    def seed(base: DataFrame) -> DataFrame:
        return (
            base.join(prev, "id", "left")
            .join(corr, "id", "left")
            .selectExpr(
                "id",
                "coalesce(out_deg, 0) AS out_deg",
                "coalesce(acc, CAST(0.0 AS DOUBLE)) + "
                "coalesce(corr, CAST(0.0 AS DOUBLE)) AS acc",
                "coalesce(sent, CAST(0.0 AS DOUBLE)) AS sent",
            )
            .selectExpr(
                "id",
                f"{RESET_PROB} + {damping} * acc AS rank",
                "out_deg",
                "acc",
                "sent",
                f"out_deg > 0 AND abs(({RESET_PROB} + {damping} * acc) "
                f"- sent * out_deg) > {tol} AS changed",
            )
        )

    return _delta_pagerank(
        graph,
        seed,
        tol,
        damping,
        max_iterations=max_iterations,
        checkpoint=checkpoint,
        checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        verbose=verbose,
    )

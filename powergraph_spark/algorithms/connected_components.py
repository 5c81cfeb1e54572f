"""Connected components — min-label propagation.

Reference: /root/reference/toolkits/graph_analytics/connected_component.cpp:34-135
(also apps/concomp/concomp.cpp). Semantics: label init = vertex id;
message = min of neighbor labels over ALL edges (min_message monoid,
connected_component.cpp:38-52); apply keeps min(own, received)
(:105-113); scatter signals neighbors with larger labels. Terminates
at fixpoint (TASK_DEPLETION) — result: component id = min vertex id
in the component. Exact-match gate per BASELINE.json.

Spark mapping: frontier-driven min-label iteration. Messages flow only
out of vertices whose label changed last superstep (the signal set),
so late supersteps touch only the shrinking frontier — the active-set
execution the reference gets from its dense bitsets
(synchronous_engine.hpp:446-516).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointStore
from ..gas import GASResult, run_gas
from ..graph import Graph


def connected_components(
    graph: Graph,
    max_iterations: int = 200,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 4,
    check_interval: int = 1,
    edge_aggregators: dict[str, list] | None = None,
    plan_hook=None,
    resume: bool = False,
    prev_state: DataFrame | None = None,
    new_edges: DataFrame | None = None,
    verbose: bool = False,
) -> GASResult:
    """Returns GASResult whose state is (id, component, changed).

    Warm start (``prev_state`` + ``new_edges``): min-label is a
    MONOTONE monoid, so a converged labeling stays a valid upper bound
    when edges are appended — seed components from the previous run
    (new vertices start at their own id) and signal ONLY the endpoints
    of the new edges; the smaller label floods across any newly-merged
    component while untouched components never reactivate. Same
    fixpoint as a cold run on the grown graph (exact), in supersteps
    bounded by the merged region's diameter. The across-runs analog of
    the reference's dynamic scheduling, mirroring
    ``pagerank_warm_start``."""
    P = graph.num_partitions
    # ALL_EDGES view: label floods both directions. Min-label messages
    # are idempotent, so the pair multiplicity m is ignored.
    sym = graph.two_way_edges()

    if prev_state is not None:
        if new_edges is None:
            raise ValueError("warm start needs new_edges alongside prev_state")
        prev = prev_state.select("id", F.col("component").alias("_pc"))
        ends = (
            new_edges.select(F.col("src").alias("id"))
            .unionAll(new_edges.select(F.col("dst").alias("id")))
            .distinct()
            .withColumn("_t", F.lit(True))
        )
        init = (
            graph.vertices.select("id")
            .join(prev, "id", "left")
            .join(ends, "id", "left")
            .select(
                "id",
                F.coalesce("_pc", F.col("id")).alias("component"),
                F.coalesce("_t", F.lit(False)).alias("changed"),
            )
            .repartition(P, "id")
        )
    else:
        init = graph.vertices.select(
            "id", F.col("id").alias("component"), F.lit(True).alias("changed")
        ).repartition(P, "id")

    def step(g: Graph, state: DataFrame, i: int):
        # shuffle_hash hints (same discipline as pagerank.py): the
        # frontier inherits state's hash(id) partitioning (filter
        # preserves it) and sym is hashed by src, so the scatter SHJ
        # runs with zero exchange; without the hint AQE broadcasts the
        # frontier — at superstep 0 the frontier IS |V|, a driver-
        # serial collect+rebuild that flatlines scaling at web scale.
        frontier = state.filter(F.col("changed")).select("id", "component")
        msgs = (
            sym.join(frontier.hint("shuffle_hash"), sym.src == frontier.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("received"))
        )
        return (
            state.select("id", "component")
            .join(msgs.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("received", F.col("component"))
                ).alias("new_component"),
                "component",
            )
            .select(
                "id",
                F.col("new_component").alias("component"),
                (F.col("new_component") < F.col("component")).alias("changed"),
            )
        )

    return run_gas(
        graph,
        init,
        step,
        observe_aggs=lambda: [
            F.sum(F.col("changed").cast("long")).alias("active")
        ],
        max_iterations=max_iterations,
        checkpoint=checkpoint,
        checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        edge_aggregators=edge_aggregators,
        plan_hook=plan_hook,
        resume=resume,
        verbose=verbose,
    )


def component_sizes(state: DataFrame) -> DataFrame:
    """Component-size histogram (connected_component_stats.cpp:65-155):
    size -> number of components of that size."""
    return (
        state.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("size")
    )

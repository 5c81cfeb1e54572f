"""Label propagation (community detection).

Reference: /root/reference/apps/label_propagation/label_propagation.cpp:23-141.
Semantics: gather over ALL edges builds a counter of neighbor labels
(label_counter with map<label,int> += monoid, :23-45); apply takes the
argmax-count label, *ties resolved to the smallest label* (iteration
order of std::map, :101-125); a vertex with no neighbors keeps its
label; scatter signals neighbors if the label changed. Exact-match
gate at convergence per BASELINE.json.

Spark mapping: the label counter monoid becomes groupBy(dst, label)
.sum(m) over the graph's two-way view — partial aggregation merges
counts en route exactly like the reference's += merging — and
argmax-with-tie-break is
min(struct(-count, label)), avoiding any map-typed column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointStore
from ..gas import GASResult, run_gas
from ..graph import Graph


def label_propagation(
    graph: Graph,
    labels: DataFrame | None = None,
    max_iterations: int = 100,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 4,
    check_interval: int = 1,
    resume: bool = False,
    verbose: bool = False,
) -> GASResult:
    """labels: optional (id, label LONG) seed; default label = id
    (label_propagation.cpp:60-67 seeds from vertex data; id is the
    conventional seed). Returns state (id, label, changed).
    """
    P = graph.num_partitions
    # ALL_EDGES multiset: a reciprocal pair's label counts m = 2 times,
    # matching the reference's in+out gather lists.
    sym = graph.two_way_edges()

    if labels is None:
        init = graph.vertices.select(
            "id", F.col("id").alias("label"), F.lit(True).alias("changed")
        )
    else:
        init = (
            graph.vertices.select("id")
            .join(labels, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("label"), F.col("id")).cast("long").alias("label"),
                F.lit(True).alias("changed"),
            )
        )
    init = init.repartition(P, "id")

    def step(g: Graph, state: DataFrame, i: int):
        # zero-exchange SHJ: state hash(id) x sym hash(src) are
        # co-partitioned; the hint stops AQE from broadcasting |V|
        # rows of label state every superstep (see pagerank.py).
        cur = state.select("id", "label")
        counts = (
            sym.join(cur.hint("shuffle_hash"), sym.src == cur.id)
            .groupBy(F.col("dst").alias("id"), F.col("label").alias("nbr_label"))
            .agg(F.sum("m").alias("cnt"))
        )
        # argmax count, tie -> smallest label (std::map iteration order,
        # label_propagation.cpp:101-114)
        best = counts.groupBy("id").agg(
            F.min(F.struct((-F.col("cnt")).alias("neg_cnt"),
                           F.col("nbr_label").alias("lbl"))).alias("b")
        ).select("id", F.col("b.lbl").alias("best_label"))
        return (
            cur.join(best.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.coalesce("best_label", F.col("label")).alias("new_label"),
                "label",
            )
            .select(
                "id",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("label")).alias("changed"),
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
        resume=resume,
        verbose=verbose,
    )


def label_histogram(state: DataFrame) -> DataFrame:
    """Community sizes: label -> member count."""
    return state.groupBy("label").agg(F.count(F.lit(1)).alias("size")).orderBy(
        F.desc("size"), "label"
    )

"""Loopy belief propagation (sum-product, Ising-Potts pairwise
factors) on the GAS runtime.

Reference:
/root/reference/toolkits/graphical_models/lbp_structured_prediction.cpp
- pairwise MRF: vertex = random variable with a log-space prior
  `potential` and posterior `belief` (:159-172); undirected edge
  carries the BP message in BOTH directions plus the previous value
  of each (:178-249); edge factor
  exp((xi == xj) ? 0 : -SMOOTHING * edge_weight) (:115).
- gather (:296-309): sum of inbound old messages.
- apply (:315-331): belief = potential + message_sum, rescaled by
  subtracting the max coefficient (log-space normalization).
- scatter (:345-372): cavity = belief - inbound old message; the new
  outbound message is the cavity convolved with the edge factor
  (:384-398), max-rescaled, then damped
  new = DAMPING*old + (1-DAMPING)*new (:133-135); the residual
  sum(|new - old|) reschedules the neighbor while > TOLERANCE
  (:369-371). Defaults SMOOTHING=2, DAMPING=0.1, TOLERANCE=0.01
  (:124,140,155).

BSP determinization: the reference's engine updates messages in
scheduler order with cached old values; synchronously, every
directed message is recomputed each superstep from the previous
superstep's messages — the classic flooding schedule. On a tree this
converges to the exact sum-product marginals in diameter supersteps
(damping delays but does not change the fixpoint).

Spark mapping (100 TB shape): the state is ONE row per undirected
edge carrying both directed messages (m_sd, m_ds) — 2k doubles per
edge, the reference's messages_[4] without the old copies (the
previous superstep's materialized state IS the old copy). A
superstep is: (1) one element-wise aggregation of inbound messages
per vertex (posexplode partial agg, P*|V|*k shuffle rows), (2) one
join of the (id, belief) rows back onto the edge state per endpoint
— only (id, k-vector) rows shuffle, the edge table itself stays
put, and (3) pure-JVM message expressions. The Potts convolution is
computed in the FACTORED form
    new_m(i) = ln( e^{-lam*w} * S + (1 - e^{-lam*w}) * e^{cav_i} ),
    S = sum_j e^{cav_j}
which is algebraically identical to the reference's
sum_j exp(cav_j + (i==j ? 0 : -lam*w)) (:390-394) but O(k) per
message instead of O(k^2) — the plan you want when k is large.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import GASResult, run_gas, truncate_plan
from ..graph import Graph

SMOOTHING = 2.0   # lbp_structured_prediction.cpp:124
DAMPING = 0.1     # :140
TOLERANCE = 0.01  # :155


def _vec_sum(df: DataFrame, key: str, arr_col: str) -> DataFrame:
    """(id, vsum): element-wise sum of array rows per key."""
    return (
        df.select(F.col(key).alias("id"),
                  F.posexplode(arr_col).alias("pos", "val"))
        .groupBy("id", "pos").agg(F.sum("val").alias("s"))
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ).alias("vsum")
        )
    )


def _normalize(arr: Column) -> Column:
    """Log-space rescale: subtract the max coefficient (:328-330)."""
    return F.transform(arr, lambda e: e - F.array_max(arr))


def _convolve(cav: Column, lam_w: Column) -> Column:
    """Factored Ising-Potts convolution (see module docstring):
    ln(e^{-lam_w} * S + (1 - e^{-lam_w}) * e^{cav_i})."""
    earr = F.transform(cav, lambda e: F.exp(e))
    s = F.aggregate(earr, F.lit(0.0), lambda acc, x: acc + x)
    fac = F.exp(-lam_w)
    return F.transform(
        earr, lambda e: F.log(fac * s + (F.lit(1.0) - fac) * e)
    )


def _l1(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


@dataclass
class LBPResult:
    beliefs: DataFrame   # (id, belief array<double> log-space, label)
    messages: DataFrame  # (src, dst, m_sd, m_ds) final directed messages
    gas: GASResult


def _beliefs(
    potentials: DataFrame, messages: DataFrame, P: int
) -> DataFrame:
    """belief_v = normalize(potential_v + sum inbound messages);
    isolated vertices keep their prior (:318-321)."""
    inbound = _vec_sum(
        messages.selectExpr("dst AS v", "m_sd AS m").unionAll(
            messages.selectExpr("src AS v", "m_ds AS m")
        ),
        "v", "m",
    )
    bel = F.when(
        F.col("vsum").isNull(), F.col("potential")
    ).otherwise(
        F.zip_with("potential", "vsum", lambda a, b: a + b)
    )
    return (
        potentials.join(inbound.hint("shuffle_hash"), "id", "left")
        .select("id", _normalize(bel).alias("belief"))
    )


def lbp(
    graph: Graph,
    potentials: DataFrame,
    smoothing: float = SMOOTHING,
    damping: float = DAMPING,
    tolerance: float = TOLERANCE,
    max_iterations: int = 50,
    weight_col: str | None = None,
    verbose: bool = False,
) -> LBPResult:
    """Run synchronous loopy BP. ``potentials``: (id, potential
    array<double>) LOG-space priors, one row per vertex (every vertex
    the edges touch must appear). ``weight_col``: optional edge-weight
    column on graph.edges scaling the smoothing per edge (:115);
    defaults to weight 1. Terminates when every directed message moved
    less than ``tolerance`` (L1) in a superstep — the BSP form of the
    residual scheduler (:369-371)."""
    P = graph.num_partitions
    pot = (
        potentials.select("id", "potential")
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pot.count()

    w = (
        F.col(weight_col).cast("double") if weight_col is not None
        else F.lit(1.0)
    )
    zero = F.transform(F.col("potential"), lambda _: F.lit(0.0))
    # init: zero messages in both directions (:236-243)
    init = (
        graph.edges.select("src", "dst", w.alias("w"))
        .join(pot.selectExpr("id AS src", "potential"), "src")
        .select(
            "src", "dst", "w",
            zero.alias("m_sd"), zero.alias("m_ds"),
            F.lit(float("inf")).alias("res_sd"),
            F.lit(float("inf")).alias("res_ds"),
        )
        .repartition(P, "src")
    )

    lam = F.lit(smoothing)
    d = F.lit(damping)

    def step(g: Graph, state: DataFrame, i: int):
        msgs = state.select("src", "dst", "w", "m_sd", "m_ds")
        # eager ORIGIN-FREE materialization (truncate_plan, see
        # gas.py): the belief table feeds two joins and derives from
        # the edge state, which itself re-enters through two branches
        # — the exact shape whose Catalyst origin chain compounds
        # geometrically (measured 0.4s supersteps growing to 95s by
        # step 14 with plain persist/localCheckpoint; flat 0.12s with
        # truncate_plan). |V| rows only, so the extra job is cheap.
        bel = truncate_plan(_beliefs(pot, msgs, P))
        joined = (
            msgs
            .join(
                bel.selectExpr("id AS src", "belief AS bs")
                .hint("shuffle_hash"),
                "src",
            )
            .join(
                bel.selectExpr("id AS dst", "belief AS bd")
                .hint("shuffle_hash"),
                "dst",
            )
        )
        cav_s = F.zip_with("bs", "m_ds", lambda a, b: a - b)
        cav_d = F.zip_with("bd", "m_sd", lambda a, b: a - b)
        nm_sd = _normalize(_convolve(cav_s, lam * F.col("w")))
        nm_ds = _normalize(_convolve(cav_d, lam * F.col("w")))
        damp = lambda old, new: F.zip_with(  # noqa: E731
            old, new, lambda o, n: d * o + (F.lit(1.0) - d) * n
        )
        return (
            joined
            .withColumn("_n_sd", damp(F.col("m_sd"), nm_sd))
            .withColumn("_n_ds", damp(F.col("m_ds"), nm_ds))
            .select(
                "src", "dst", "w",
                F.col("_n_sd").alias("m_sd"),
                F.col("_n_ds").alias("m_ds"),
                _l1(F.col("_n_sd"), F.col("m_sd")).alias("res_sd"),
                _l1(F.col("_n_ds"), F.col("m_ds")).alias("res_ds"),
            )
        )

    result = run_gas(
        graph,
        init,
        step,
        observe_aggs=lambda: [
            (
                F.sum((F.col("res_sd") > tolerance).cast("long"))
                + F.sum((F.col("res_ds") > tolerance).cast("long"))
            ).alias("active"),
            F.max(F.greatest("res_sd", "res_ds")).alias("metric"),
        ],
        tol=tolerance,
        max_iterations=max_iterations,
        origin_free_checkpoint=True,
        verbose=verbose,
    )
    final_msgs = result.state.select("src", "dst", "m_sd", "m_ds")
    beliefs = _beliefs(pot, final_msgs, P).select(
        "id", "belief",
        # MAP label: argmax state, lowest index on ties
        F.expr(
            "array_position(belief, array_max(belief)) - 1"
        ).cast("long").alias("label"),
    )
    pot.unpersist()
    return LBPResult(beliefs=beliefs, messages=final_msgs, gas=result)


def belief_probabilities(beliefs: DataFrame) -> DataFrame:
    """(id, probs): exp-normalized posterior from log-space beliefs."""
    earr = F.transform("belief", lambda e: F.exp(e))
    s = F.aggregate(earr, F.lit(0.0), lambda acc, x: acc + x)
    return beliefs.select(
        "id", F.transform(earr, lambda e: e / s).alias("probs")
    )

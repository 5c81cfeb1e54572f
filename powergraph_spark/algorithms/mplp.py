"""MPLP (max-product linear programming) MAP inference for pairwise
MRFs on the GAS runtime.

Reference: /root/reference/toolkits/graphical_models/mplp_denoise.cpp —
the Globerson & Jaakkola MPLP LP-relaxation scheme. The reference
builds a GraphLab graph whose VERTICES are the pairwise factors
f = (i, j) of the MRF (vertex_data :92-157 holds the two dual message
vectors delf_i / delf_j, one slot per state) and whose edges connect
factors sharing a variable:
- gather (:339-365): factor f accumulates, from each neighboring
  factor g, g's message vector for the shared variable — i.e. the
  slot-wise sum lambda^{-f}_v = sum_{g != f, v in g} delta_{g->v}.
- apply (:367-546): the MPLP block coordinate-descent update
      delf_i = -(theta_i + sum_i)/2
               + rowwise_max(THETA_ij + (theta_j + sum_j)^T)/2
      delf_j = -(theta_j + sum_j)/2
               + colwise_max(THETA_ij + (theta_i + sum_i))/2
  (:393-400 — both halves read the same INCOMING sums: a simultaneous
  "Jacobi" update within the factor), then dual / primal / agreement
  bookkeeping via the reparameterized potentials
      thetarep_v  = theta_v + sum_v + delf_v        (:417, :432)
      thetarep_ij = THETA_ij - delf_i 1^T - 1 delf_j^T  (:447-448)
  with per-variable terms counted once through iowner/jowner flags and
  the dual LPval = sum of maxima, primal MAPval = raw potentials at
  the per-variable argmaxes (:454-459).
- engine: async by default with priority = LPval - MAPval (:541), but
  the program also ships a synchronous_engine typedef (:602) — under
  the sync engine every factor applies against the incoming messages
  and all updates commit at the superstep barrier, which is exactly
  the BSP schedule implemented here.

Spark mapping (100 TB shape): the factor graph never materializes —
a pairwise factor IS its MRF edge, so state is ONE row per undirected
edge: (src, dst, fpot C*C, ts C, td C, del_s C, del_d C). A superstep
is (1) one element-wise message aggregation per variable (posexplode
partial agg, P*|V|*C shuffle rows), (2) two shuffle_hash joins of the
slim (id, msum, argmax, share) table back onto the edge state — the
edge/factor table itself never re-shuffles — and (3) pure-JVM
transform/array_max expressions for both message updates and the
factor reparameterization. No per-row Python anywhere.

Objective convention: the reference's async apply mixes old neighbor
messages with the vertex's own new message inside thetarep (:417); a
barrier schedule has no such mid-sweep iterate, so the metrics stream
reports the MPLP dual L(delta_t) and decoded primal evaluated at the
INCOMING messages of each superstep — the same convention as the
dual-decomposition programs (dd.py). L(delta) = sum_v max(theta_v +
sum_f delta_{f->v}) + sum_f max(theta_f - delta_{f->i} - delta_{f->j})
is an upper bound on the MAP score for EVERY delta, so weak duality
holds at every check regardless of schedule. Termination: full
primal/dual AGREEMENT (the decoded config ATTAINS every factor's
reparameterized max — tie-robust, and the sums over messages
telescope, so dual == primal and the decode is a certified exact
MAP), or duality gap <=
tol when tol > 0, or max_iterations (the reference's BOUND knob).
The returned assignments/dual/primal/agreement all refer to that same
checked iterate (the MPLP update is not zero at agreement, so a
post-update decode could break the certificate); ``messages`` carries
the post-update duals for warm continuation.

All arithmetic is sums, halvings, and maxima of the inputs: with
dyadic potentials the trajectory is exactly representable for small
iteration counts, so a SQL twin replays it bit-for-bit and results
are byte-identical across parallelism (see __spark_entry__.q_mplp2).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import GASResult, run_gas, truncate_plan
from ..graph import Graph
from .dd import _argmax_first, _vec_sum


@dataclass
class MPLPResult:
    assignments: DataFrame  # (id, label, belief) decode at final iterate
    messages: DataFrame     # (src, dst, del_s, del_d) final dual messages
    dual: float             # MPLP dual L(delta) at the final iterate
    primal: float           # decoded primal at the final iterate
    primal_best: float      # best decoded primal over all checks
    agreement: bool         # True => assignments certified exact MAP
    gas: GASResult


def mplp_map(
    graph: Graph,
    potentials: DataFrame,
    num_states: int,
    factor_expr: str | None = None,
    smoothing: float = 2.0,
    weight_col: str | None = None,
    damping: float = 0.0,
    tol: float = 0.0,
    max_iterations: int = 100,
    stop_at_agreement: bool = True,
    verbose: bool = False,
) -> MPLPResult:
    """MAP inference on the pairwise MRF (graph, potentials) via MPLP
    coordinate descent, one Jacobi sweep over all factors per BSP
    superstep (the reference's synchronous-engine schedule).

    ``potentials``: (id, potential array<double> length ``num_states``)
    LOG-space unary potentials. ``factor_expr``: optional SQL
    expression over graph.edges columns yielding the flattened
    row-major C*C log-space factor table (index = src_state * C +
    dst_state); defaults to the Ising-Potts table
    ``(a == b ? 0 : -smoothing * w)`` shared with dd/lbp/gibbs.
    ``damping`` in [0, 1): new_message = (1-damping)*mplp + damping*old
    (0 = the reference update). ``stop_at_agreement=False`` runs all
    ``max_iterations`` sweeps even once certified (a fixed iteration
    count is what a replay oracle needs — the MPLP update is not zero
    at agreement). MAXIMIZES the total log-score.
    """
    C = int(num_states)
    P = graph.num_partitions
    pot = (
        potentials.select("id", "potential")
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pot.count()

    if factor_expr is None:
        w = (
            F.col(weight_col).cast("double") if weight_col is not None
            else F.lit(1.0)
        )
        fpot = F.expr(
            f"transform(sequence(0, {C * C - 1}), i -> "
            f"CASE WHEN i div {C} = i % {C} THEN 0.0E0 "
            f"ELSE -({smoothing!r} * CAST(_w AS DOUBLE)) END)"
        )
        base = graph.edges.select("src", "dst", w.alias("_w"))
    else:
        fpot = F.expr(factor_expr)
        base = graph.edges

    deg = (
        base.selectExpr("src AS id").unionAll(base.selectExpr("dst AS id"))
        .groupBy("id").agg(F.count("*").cast("double").alias("deg"))
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg.count()

    zero = F.expr(f"array_repeat(CAST(0.0 AS DOUBLE), {C})")
    # each factor row carries its variables' unary potentials (ts, td)
    # so the message update is a purely edge-local expression
    init = (
        base.select("src", "dst", fpot.alias("fpot"))
        .join(pot.selectExpr("id AS src", "potential AS ts"), "src")
        .join(pot.selectExpr("id AS dst", "potential AS td"), "dst")
        .select(
            "src", "dst", "fpot", "ts", "td",
            zero.alias("del_s"), zero.alias("del_d"),
            F.col("ts").alias("bel_s"), F.col("td").alias("bel_d"),
            F.lit(0.0).alias("fmax"), F.lit(2).alias("dis"),
            F.lit(0.0).alias("dual_part"), F.lit(0.0).alias("primal_part"),
        )
        .repartition(P, "src")
    )

    def _beliefs(msgs: DataFrame) -> DataFrame:
        """(id, msum, xstar, dshare, pshare) at the CURRENT messages:
        msum = per-variable message sum (the only aggregation in the
        loop), unary reparameterized argmax, and per-degree dual /
        primal shares (LPval / MAPval variable terms, :417-443, spread
        over incident edges so the whole-graph objective rides the
        edge-state metrics stream)."""
        rows = msgs.selectExpr("src AS v", "del_s AS m").unionAll(
            msgs.selectExpr("dst AS v", "del_d AS m")
        )
        bel = F.zip_with("potential", "msum", lambda a, b: a + b)
        return (
            pot.join(
                _vec_sum(rows, "v", "m").hint("shuffle_hash")
                .withColumnRenamed("vsum", "msum"),
                "id",
            )
            .join(deg.hint("shuffle_hash"), "id")
            .select(
                "id", "msum", "potential",
                bel.alias("bel"), "deg",
            )
            .select(
                "id", "msum", "bel",
                _argmax_first(F.col("bel")).alias("xstar"),
                (F.array_max("bel") / F.col("deg")).alias("dshare"),
                (F.expr("potential[array_position(bel, "
                        "array_max(bel)) - 1]") / F.col("deg")
                 ).alias("pshare"),
            )
        )

    # MPLP message update (apply :393-400), edge-local: with
    # lam_v[x] = theta_v[x] + (msum_v[x] - own message[x]) — the
    # sum-over-other-factors gather expressed as sum-minus-own —
    #   del_s'[a] = -(lam_s[a]) / 2 + max_b(fpot[a*C+b] + lam_d[b]) / 2
    #   del_d'[b] = -(lam_d[b]) / 2 + max_a(fpot[a*C+b] + lam_s[a]) / 2
    lam_s = "(ts[a] + (ms[a] - del_s[a]))"
    lam_d = "(td[b] + (md[b] - del_d[b]))"
    new_del_s = F.expr(
        f"transform(sequence(0, {C - 1}), a -> "
        f"-(ts[a] + (ms[a] - del_s[a])) / 2.0E0 + "
        f"array_max(transform(sequence(0, {C - 1}), b -> "
        f"fpot[a * {C} + b] + {lam_d})) / 2.0E0)"
    )
    new_del_d = F.expr(
        f"transform(sequence(0, {C - 1}), b -> "
        f"-(td[b] + (md[b] - del_d[b])) / 2.0E0 + "
        f"array_max(transform(sequence(0, {C - 1}), a -> "
        f"fpot[a * {C} + b] + {lam_s})) / 2.0E0)"
    )
    # factor reparameterization at the INCOMING messages (:447-448)
    rep = F.expr(
        f"transform(sequence(0, {C * C - 1}), i -> "
        f"fpot[i] - del_s[i div {C}] - del_d[i % {C}])"
    )

    def step(g: Graph, state: DataFrame, i: int):
        msgs = state.select("src", "dst", "fpot", "ts", "td",
                            "del_s", "del_d")
        bel = truncate_plan(_beliefs(msgs))
        joined = (
            msgs
            .join(
                bel.selectExpr("id AS src", "msum AS ms", "xstar AS xs",
                               "bel AS bs", "dshare AS dsh_s",
                               "pshare AS psh_s")
                .hint("shuffle_hash"),
                "src",
            )
            .join(
                bel.selectExpr("id AS dst", "msum AS md", "xstar AS xd",
                               "bel AS bd", "dshare AS dsh_d",
                               "pshare AS psh_d")
                .hint("shuffle_hash"),
                "dst",
            )
            .withColumn("_rep", rep)
        )
        return (
            joined
            .withColumn("_ds", new_del_s)
            .withColumn("_dd", new_del_d)
            .select(
                "src", "dst", "fpot", "ts", "td",
                (
                    F.zip_with(
                        "del_s", "_ds",
                        lambda o, n: F.lit(float(damping)) * o
                        + F.lit(1.0 - float(damping)) * n,
                    ) if damping else F.col("_ds")
                ).alias("del_s"),
                (
                    F.zip_with(
                        "del_d", "_dd",
                        lambda o, n: F.lit(float(damping)) * o
                        + F.lit(1.0 - float(damping)) * n,
                    ) if damping else F.col("_dd")
                ).alias("del_d"),
                F.col("bs").alias("bel_s"), F.col("bd").alias("bel_d"),
                F.array_max("_rep").alias("fmax"),
                # certificate ballot, tie-robust: the decoded config
                # must ATTAIN the factor max (under exact ties the
                # first-index factor argmax can differ from (xs, xd)
                # forever while the bound is already tight)
                (F.expr(f"_rep[xs * {C} + xd]") < F.array_max("_rep")
                 ).cast("int").alias("dis"),
                (F.array_max("_rep") + F.col("dsh_s") + F.col("dsh_d")
                 ).alias("dual_part"),
                (F.expr(f"fpot[xs * {C} + xd]") + F.col("psh_s")
                 + F.col("psh_d")).alias("primal_part"),
            )
        )

    result = run_gas(
        graph,
        init,
        step,
        observe_aggs=lambda: [
            (
                F.sum("dis") if stop_at_agreement
                else F.count(F.lit(1))
            ).alias("active"),
            (F.sum("dual_part") - F.sum("primal_part")).alias("metric"),
        ],
        tol=tol,
        max_iterations=max_iterations,
        aggregators={
            "dual": [F.sum("dual_part").alias("dual")],
            "primal": [F.sum("primal_part").alias("primal")],
        },
        origin_free_checkpoint=True,
        verbose=verbose,
    )

    row = result.state.agg(
        F.sum("dual_part").alias("d"), F.sum("primal_part").alias("p"),
        F.sum("dis").alias("dis"),
    ).collect()[0]
    primal_hist = [
        m.extras["primal"] for m in result.metrics
        if "primal" in m.extras
    ]
    final = result.state.select("src", "dst", "del_s", "del_d")
    # decode at the LAST CHECKED iterate — the same incoming-message
    # iterate the dual/primal/agreement columns refer to (unlike the
    # subgradient programs, the MPLP update is not zero at agreement,
    # so decoding at the post-update messages could flip an argmax and
    # break the certificate). Every edge row carries its endpoints'
    # checked beliefs; they agree per vertex, min() picks one
    # deterministically. Factor-less vertices keep their prior argmax.
    sides = result.state.selectExpr("src AS v", "bel_s AS b").unionAll(
        result.state.selectExpr("dst AS v", "bel_d AS b")
    )
    per_v = sides.groupBy("v").agg(F.min("b").alias("bel"))
    assignments = (
        pot.join(per_v.hint("shuffle_hash"),
                 pot.id == F.col("v"), "left")
        .select("id", F.coalesce("bel", "potential").alias("belief"))
        .select("id", _argmax_first(F.col("belief")).cast("long")
                .alias("label"), "belief")
    )
    pot.unpersist()
    deg.unpersist()
    return MPLPResult(
        assignments=assignments,
        messages=final,
        dual=float(row["d"]),
        primal=float(row["p"]),
        primal_best=float(max(primal_hist, default=row["p"])),
        agreement=int(row["dis"]) == 0,
        gas=result,
    )

"""AD3 / ADMM dual-decomposition MAP inference for pairwise MRFs on
the GAS runtime.

Reference: /root/reference/toolkits/graphical_models/dd_grlab.hpp
:871-1180 (admm_vertex_program) + ad3_qp.hpp (ad3_vertex_program) —
Algorithm 2 of Martins et al., "Alternating Directions Dual
Decomposition" (AD3). Like the projected program it alternates two
reference iterations per pair:
- EVEN (factor phase): gather brings, per variable slot, the message
  lambda + eps (eps = unary potential / degree, dd_main.hpp:343) and
  the variable's current belief p (ad3 gather :921-967). Apply
  (:1011-1077) computes the dual contribution via SolveMAP_dense
  (ad3_qp.hpp:898-916: max over configurations of fpot + the lambda
  + eps messages — p does NOT enter the dual), the primal residual
  ||q_prev - p||^2, the relaxed primal fpot . factor_beliefs, then
  solves the QUADRATIC subproblem (SolveQP_dense, ad3_qp.hpp:353-647)
      maximize_{p in simplex(C*C)}  fpot . p + vlp . (M p)
                                    - 1/2 ||M p||^2,
      vlp = p_neighbors + lambda + eps   (the AD3 eta=1 prox step),
  with the Martins active-set method: warm-started active set of
  configurations, rank-one-updated inverse KKT matrix, blocking-
  constraint removal, eigendecomposition fallback on singular
  insertion, at most 10 inner iterations (num_max_iterations_QP_,
  ad3_qp.hpp:44), caches persisted ACROSS outer iterations. Scatter
  writes each side's marginal q onto the edge (:1127-1147).
- ODD (variable phase): beliefs p = (sum of incident q) / degree
  (:1017-1037, continuous averaging — the projected program's vote
  counts relaxed to posteriors), dual residual ||p_new - p_old||^2,
  and every multiplier moves by the CONSTANT stepsize (rule 0,
  update_stepsize :323-338): lambda += step * (p - q) (:1105-1125).

One BSP superstep here executes one full even/odd pair. The factor
graph never materializes: a pairwise DENSE factor IS its edge row, and
the QP caches (active set, distribution, inverse KKT matrix) ride the
row as variable-length array columns. XOR / BUDGET factors are the
reference's UAI-general surface and remain out of scope, like the
higher-order factors of the subgradient programs; the Bethe-ADMM
program is built below (``dd_map_bethe``).

Spark mapping (100 TB shape): the even phase is embarrassingly
row-local — one Arrow-batched mapInPandas pass runs the tiny
(<= 10-iteration, <= C^2+1-config) active-set QP per edge with numpy;
no shuffle, caches stay on the row. The odd phase is one element-wise
posterior aggregation per variable (posexplode partial agg) plus two
shuffle_hash joins of the slim (id, C-vector) belief table — the edge
state itself never re-shuffles. This is the one operator family where
a python kernel is genuinely required: a warm-started active-set QP
with data-dependent control flow has no pyspark.sql.functions
expression, so it rides the sanctioned Arrow batch path.

Objective conventions (aligned with dd.py / mplp.py): the metrics
stream reports, per superstep at the INCOMING multipliers, the AD3
dual (sum of factor maxima — by the consensus-update invariant
sum_f lambda_f,v == 0 the unary shares telescope exactly as in the
projected program), the decoded primal at the CURRENT beliefs'
argmaxes, the relaxed primal sum_v pot.p + sum_f fpot.p_f, and both
ADMM residuals. The certificate ballot is tie-robust (the decoded
config must ATTAIN every factor's lambda-score max), which by the
telescoping argument pins dual == primal and certifies an exact MAP;
the reference's async apply instead staggers old/new iterates
(:1070-1073), which has no BSP counterpart. Termination: certificate
depletion, or duality gap <= tol when tol > 0, or max_iterations.

Engine-independent QP: ``solve_qp_dense`` is a pure-python faithful
port of SolveQP_dense and is unit-tested directly against exhaustive
KKT optimality checks (tests/test_admm.py).

This module also implements the BETHE-ADMM program
(bethe_admm_vertex_program, ad3_qp.hpp:1025-1223; Fu, Wang & Banerjee,
UAI 2013, the reference's ``algorithm 3``): the same ADMM loop, but
the factor subproblem is the Bethe-entropy prox, which for one
pairwise factor is CLOSED FORM — exponentiate base EXP=10
(ad3_qp.hpp:45) the eta potentials scaled by 1/alpha, fold in the
entropy gradient at the previous beliefs (compute_grad_phi
:1038-1060), and run one exact sum-product pass over the single
factor (run_bp :1063-1121), then clamp at 1e-99 (adjust_beliefs
:1124-1137). No QP, no caches: the even phase stays entirely JVM-side
(transform/aggregate/power expressions), so unlike AD3 a SQL twin can
replay it (q_bethe2).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import GASResult, run_gas, truncate_plan
from ..graph import Graph
from .dd import _argmax_first, _vec_sum

STEP_SIZE = 1.0               # dd_opts.hpp:78 (rule 0: constant)
NUM_MAX_ITERATIONS_QP = 10    # ad3_qp.hpp:44


# ---------------------------------------------------------------- QP kernel

def _evaluate(alp, vlp, conf, C):
    """Score of one configuration (ad3_qp.hpp Evaluate :300-315; the
    pairwise offset walk: vlp[s0] + vlp[C + s1] + alp[conf])."""
    return alp[conf] + vlp[conf // C] + vlp[C + conf % C]


def _maximize(alp, vlp, C):
    """LP argmax over configurations, first index wins ties
    (ad3_qp.hpp Maximize :69-94: strict > comparison)."""
    best, best_val = 0, None
    for conf in range(len(alp)):
        score = _evaluate(alp, vlp, conf, C)
        if best_val is None or score > best_val:
            best, best_val = conf, score
    return best, best_val


def _common_values(c1, c2, C):
    """How many variable states two configurations share
    (CountCommonValues, ad3_qp.hpp:276-290)."""
    return int(c1 // C == c2 // C) + int(c1 % C == c2 % C)


def _invert_after_insertion(inv_a, aset, conf, C):
    """Rank-one growth of the inverse KKT matrix
    (InvertAfterInsertion, ad3_qp.hpp:113-170). Returns the new
    inverse or None when the update would be singular."""
    n = len(aset) + 1
    r = np.empty(n)
    r[0] = 1.0
    for i, c in enumerate(aset):
        r[i + 1] = _common_values(c, conf, C)
    r0 = float(_common_values(conf, conf, C))
    s = r0
    for i in range(n):
        if r[i] == 0.0:
            continue
        s -= r[i] * r[i] * inv_a[i * n + i]
        for j in range(i + 1, n):
            if r[j] == 0.0:
                continue
            s -= 2 * r[i] * r[j] * inv_a[i * n + j]
    if abs(s) < 1e-9:
        return None
    invs = 1.0 / s
    d = np.zeros(n)
    for i in range(n):
        if r[i] == 0.0:
            continue
        for j in range(n):
            d[j] += inv_a[i * n + j] * r[i]
    m = n + 1
    out = np.empty(m * m)
    for i in range(n):
        for j in range(n):
            out[i * m + j] = inv_a[i * n + j] + invs * d[i] * d[j]
        out[i * m + n] = -invs * d[i]
        out[n * m + i] = -invs * d[i]
    out[n * m + n] = invs
    return out


def _invert_after_removal(inv_a, aset, removed, C):
    """Rank-one shrink of the inverse KKT matrix
    (InvertAfterRemoval, ad3_qp.hpp:175-210)."""
    n = len(aset) + 1
    k = removed + 1  # index in A has an offset of 1
    invs = inv_a[k * n + k]
    s = 1.0 / invs
    d = np.array([-s * inv_a[k * n + i] for i in range(n) if i != k])
    m = n - 1
    out = np.empty(m * m)
    ii = 0
    for i in range(n):
        if i == k:
            continue
        jj = 0
        for j in range(n):
            if j == k:
                continue
            out[ii * m + jj] = inv_a[i * n + j] - invs * d[ii] * d[jj]
            jj += 1
        ii += 1
    return out


def _marginals(aset, dist, C):
    """(q 2C, p_f C*C) from the sparse distribution over the active
    set (ComputeMarginalsFromSparseDistribution, ad3_qp.hpp:237-272)."""
    q = np.zeros(2 * C)
    pf = np.zeros(C * C)
    for conf, w in zip(aset, dist):
        q[conf // C] += w
        q[C + conf % C] += w
        pf[conf] += w
    return q, pf


def solve_qp_dense(alp, vlp, C, aset, dist, inv_a):
    """Faithful port of the AD3 active-set QP for one pairwise factor
    (SolveQP_dense, ad3_qp.hpp:353-647):
        maximize_{p in simplex}  alp . p + vlp . (M p) - 1/2 ||M p||^2
    warm-started from (aset, dist, inv_a) (empty lists on first call
    or after a cache reset). Returns (q, p_f, aset, dist, inv_a) —
    the variable marginals (2C), the dense configuration posterior
    (C*C), and the caches for the next outer iteration.
    """
    alp = np.asarray(alp, dtype=float)
    vlp = np.asarray(vlp, dtype=float)
    aset = list(aset)
    dist = list(dist)
    inv_a = np.asarray(inv_a, dtype=float)

    if len(aset) == 0:
        conf, _ = _maximize(alp, vlp, C)
        aset = [conf]
        dist = [1.0]
        m0 = float(_common_values(conf, conf, C))
        inv_a = np.array([-m0, 1.0, 1.0, 0.0])

    changed = True
    z = list(dist)
    tau = 0.0
    q, pf = _marginals(aset, z, C)
    for _ in range(NUM_MAX_ITERATIONS_QP):
        same = True
        if changed:
            n = len(aset) + 1
            b = np.empty(n)
            b[0] = 1.0
            for i, c in enumerate(aset):
                b[i + 1] = _evaluate(alp, vlp, c, C)
            z = [float(np.dot(inv_a[(i + 1) * n:(i + 2) * n], b))
                 for i in range(len(aset))]
            tau = float(np.dot(inv_a[0:n], b))
            same = False
        if same:
            q, pf = _marginals(aset, z, C)
            scores = vlp - q
            conf, value = _maximize(alp, scores, C)
            if value <= tau + 1e-9:
                # solution found; caches kept for the next round
                return q, pf, aset, dist, inv_a
            if conf in aset:
                # numerically converged: reset the caches (reference
                # behaviour on duplicate insertion)
                return q, pf, [], [], np.empty(0)
            z = z + [0.0]
            dist = list(z)
            new_inv = _invert_after_insertion(inv_a, aset, conf, C)
            if new_inv is None:
                # singular insertion: find a null-space configuration
                # via the eigendecomposition fallback and remove it
                n_as = len(aset)
                sim = np.empty((n_as + 2, n_as + 2))
                sim.fill(1.0)
                sim[0, 0] = 0.0
                for i in range(n_as):
                    for j in range(n_as):
                        sim[i + 1, j + 1] = _common_values(
                            aset[i], aset[j], C)
                for i in range(n_as):
                    v = float(_common_values(conf, aset[i], C))
                    sim[i + 1, n_as + 1] = v
                    sim[n_as + 1, i + 1] = v
                sim[n_as + 1, n_as + 1] = float(
                    _common_values(conf, conf, C))
                eigvals, eigvecs = np.linalg.eigh(sim)
                zero_idx = [i for i, ev in enumerate(eigvals)
                            if abs(ev) < 1e-9]
                if len(zero_idx) != 1:
                    # multiple zero eigenvalues: give up and reset
                    # (reference :531-545)
                    return q, pf, [], [], np.empty(0)
                vec = eigvecs[:, zero_idx[0]]
                to_remove = [j for j in range(n_as)
                             if abs(vec[j + 1]) > 1e-9]
                j = to_remove[0]
                inv_a = _invert_after_removal(inv_a, aset, j, C)
                aset.pop(j)
                z.pop(j)
                dist.pop(j)
                new_inv = _invert_after_insertion(inv_a, aset, conf, C)
                assert new_inv is not None
            inv_a = new_inv
            aset.append(conf)
            changed = True
        else:
            blocking, exist, alpha = -1, False, 1.0
            for i in range(len(aset)):
                if z[i] >= dist[i]:
                    continue
                if z[i] < 0:
                    exist = True
                tmp = dist[i] / (dist[i] - z[i])
                if blocking < 0 or tmp < alpha:
                    alpha, blocking = tmp, i
            if not exist:
                dist = list(z)
                changed = False
            else:
                if alpha > 1.0:
                    alpha = 1.0
                z = [(1 - alpha) * dist[i] + alpha * z[i]
                     for i in range(len(aset))]
                dist = list(z)
                inv_a = _invert_after_removal(inv_a, aset, blocking, C)
                aset.pop(blocking)
                z.pop(blocking)
                dist.pop(blocking)
                changed = True
    q, pf = _marginals(aset, z, C)
    return q, pf, aset, list(z), inv_a


# ---------------------------------------------------------------- operator

@dataclass
class ADMMResult:
    assignments: DataFrame  # (id, label, belief) decode at last check
    beliefs: DataFrame      # (src, dst, p_s, p_d, q_s, q_d) posteriors
    multipliers: DataFrame  # (src, dst, lam_s, lam_d) final multipliers
    dual: float             # AD3 dual at the final check
    primal: float           # decoded primal at the final check
    primal_relaxed: float   # relaxed (fractional) primal at final check
    primal_best: float      # best decoded primal over all checks
    agreement: bool         # True => assignments certified exact MAP
    gas: GASResult


def dd_map_admm(
    graph: Graph,
    potentials: DataFrame,
    num_states: int,
    factor_expr: str | None = None,
    smoothing: float = 2.0,
    weight_col: str | None = None,
    step_size: float = STEP_SIZE,
    tol: float = 0.0,
    max_iterations: int = 100,
    verbose: bool = False,
) -> ADMMResult:
    """MAP inference on the pairwise MRF (graph, potentials) via the
    AD3 / ADMM program (admm_vertex_program + ad3_vertex_program).
    Arguments as in ``dual_decomposition_map``; ``step_size`` is the
    reference's CONSTANT rule-0 stepsize (= the ADMM eta).
    One BSP superstep = one even/odd reference pair."""
    C = int(num_states)
    P = graph.num_partitions
    pot = potentials.select("id", "potential")

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
    )
    vd = (
        pot.join(deg.hint("shuffle_hash"), "id")
        .select(
            "id", "potential", "deg",
            F.expr("transform(potential, x -> x / deg)").alias("eps"),
        )
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vd.count()

    zero = F.expr(f"array_repeat(CAST(0.0 AS DOUBLE), {C})")
    # p init 0.5 (dd_main.hpp:256 setConstant(0.5) regardless of C);
    # q init 1/(2C) (the UAI loader's ones/cardsum, :285-286 — touches
    # only the first superstep's primal-residual metric)
    half = F.expr(f"array_repeat(CAST(0.5 AS DOUBLE), {C})")
    qinit = F.expr(
        f"array_repeat(CAST({1.0 / (2 * C)!r} AS DOUBLE), {C})")
    ufb = F.expr(
        f"array_repeat(CAST({1.0 / (C * C)!r} AS DOUBLE), {C * C})")
    init = (
        base.select("src", "dst", fpot.alias("fpot"))
        .join(vd.selectExpr("id AS src", "eps AS es"), "src")
        .join(vd.selectExpr("id AS dst", "eps AS ed"), "dst")
        .select(
            "src", "dst", "fpot", "es", "ed",
            zero.alias("lam_s"), zero.alias("lam_d"),
            qinit.alias("q_s"), qinit.alias("q_d"),
            half.alias("p_s"), half.alias("p_d"),
            ufb.alias("fb"),
            F.expr("array()").cast("array<int>").alias("aset"),
            F.expr("array()").cast("array<double>").alias("qdist"),
            F.expr("array()").cast("array<double>").alias("inva"),
            F.lit(1).alias("dis"),
            F.lit(0.0).alias("dual_part"), F.lit(0.0).alias("primal_part"),
            F.lit(0.0).alias("prel_part"), F.lit(0.0).alias("pres_part"),
            F.lit(0.0).alias("dres_part"),
        )
        .repartition(P, "src")
    )
    even_schema = (
        "src long, dst long, fpot array<double>, es array<double>, "
        "ed array<double>, lam_s array<double>, lam_d array<double>, "
        "q_s array<double>, q_d array<double>, p_s array<double>, "
        "p_d array<double>, fb array<double>, aset array<int>, "
        "qdist array<double>, inva array<double>, "
        "dual_part double, prel_f double, pres_part double"
    )

    def even_phase(batches):
        """Factor phase, row-local: SolveMAP dual + residual/relaxed
        metrics at the incoming iterate, then the warm-started QP."""
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "q_s", "q_d", "fb", "aset", "qdist", "inva",
                "dual_part", "prel_f", "pres_part")}
            for row in pdf.itertuples(index=False):
                alp = np.asarray(row.fpot)
                lam_eps = np.concatenate([
                    np.asarray(row.lam_s) + np.asarray(row.es),
                    np.asarray(row.lam_d) + np.asarray(row.ed),
                ])
                _, dual = _maximize(alp, lam_eps, C)
                q_prev = np.concatenate([np.asarray(row.q_s),
                                         np.asarray(row.q_d)])
                p_in = np.concatenate([np.asarray(row.p_s),
                                       np.asarray(row.p_d)])
                pres = float(np.sum((q_prev - p_in) ** 2))
                prel_f = float(np.dot(alp, np.asarray(row.fb)))
                vlp = p_in + lam_eps
                q, pf, aset, qdist, inv_a = solve_qp_dense(
                    alp, vlp, C, list(row.aset), list(row.qdist),
                    np.asarray(row.inva))
                out["q_s"].append(q[:C].tolist())
                out["q_d"].append(q[C:].tolist())
                out["fb"].append(pf.tolist())
                out["aset"].append([int(x) for x in aset])
                out["qdist"].append([float(x) for x in qdist])
                out["inva"].append(np.asarray(inv_a, dtype=float)
                                   .tolist())
                out["dual_part"].append(float(dual))
                out["prel_f"].append(prel_f)
                out["pres_part"].append(pres)
            res = pd.DataFrame({
                "src": pdf["src"], "dst": pdf["dst"],
                "fpot": pdf["fpot"], "es": pdf["es"], "ed": pdf["ed"],
                "lam_s": pdf["lam_s"], "lam_d": pdf["lam_d"],
                "q_s": out["q_s"], "q_d": out["q_d"],
                "p_s": pdf["p_s"], "p_d": pdf["p_d"], "fb": out["fb"],
                "aset": out["aset"], "qdist": out["qdist"],
                "inva": out["inva"], "dual_part": out["dual_part"],
                "prel_f": out["prel_f"], "pres_part": out["pres_part"],
            })
            yield res

    def step(g: Graph, state: DataFrame, i: int):
        # materialize the factor phase ONCE: ph re-enters the plan
        # three times (both sides of the posterior union + the edge
        # join), and without a barrier the per-row QP kernel would be
        # re-executed for each consumer
        ph = truncate_plan(
            state.drop("dis", "primal_part", "prel_part",
                       "dres_part").mapInPandas(
                even_phase, schema=even_schema)
        )
        # variable phase: p = (sum q)/deg plus per-degree shares of
        # the decoded/relaxed primal and the dual residual
        qsum = truncate_plan(
            _vec_sum(
                ph.select(F.col("src").alias("v"),
                          F.col("q_s").alias("m"))
                .unionAll(ph.select(F.col("dst").alias("v"),
                                    F.col("q_d").alias("m"))),
                "v", "m",
            )
            .withColumnRenamed("id", "v")
            .join(vd.hint("shuffle_hash"), F.col("v") == F.col("id"))
            .select(
                "v",
                F.expr("transform(vsum, x -> x / deg)").alias("pnew"),
                "deg",
                (F.expr(
                    "potential[array_position("
                    "transform(vsum, x -> x / deg), array_max("
                    "transform(vsum, x -> x / deg))) - 1]"
                ) / F.col("deg")).alias("pshare"),
                (F.expr(
                    "aggregate(zip_with(potential, vsum, (a, b) -> "
                    "a * b / deg), CAST(0.0 AS DOUBLE), (acc, x) -> "
                    "acc + x)"
                ) / F.col("deg")).alias("prelshare"),
                _argmax_first(
                    F.expr("transform(vsum, x -> x / deg)")
                ).alias("xstar"),
            )
        )
        s = float(step_size)
        upd = lambda lam, pn, q: F.expr(  # noqa: E731
            f"zip_with({lam}, zip_with({pn}, {q}, (p, q) -> p - q), "
            f"(l, g) -> l + CAST({s!r} AS DOUBLE) * g)"
        )
        sq = lambda pn, po, dg: F.expr(  # noqa: E731
            f"aggregate(zip_with({pn}, {po}, (a, b) -> "
            f"(a - b) * (a - b)), CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x) / {dg}"
        )
        return (
            ph
            .join(
                qsum.selectExpr("v AS src", "pnew AS pn_s",
                                "deg AS deg_s", "xstar AS xs",
                                "pshare AS psh_s",
                                "prelshare AS prl_s")
                .hint("shuffle_hash"),
                "src",
            )
            .join(
                qsum.selectExpr("v AS dst", "pnew AS pn_d",
                                "deg AS deg_d", "xstar AS xd",
                                "pshare AS psh_d",
                                "prelshare AS prl_d")
                .hint("shuffle_hash"),
                "dst",
            )
            .select(
                "src", "dst", "fpot", "es", "ed",
                upd("lam_s", "pn_s", "q_s").alias("lam_s"),
                upd("lam_d", "pn_d", "q_d").alias("lam_d"),
                "q_s", "q_d",
                F.col("pn_s").alias("p_s"), F.col("pn_d").alias("p_d"),
                "fb", "aset", "qdist", "inva",
                # certificate ballot, tie-robust as in mplp: the
                # decoded config must attain the factor's lambda-score
                # max (dual_part), which telescopes to dual == primal
                (F.expr(f"fpot[xs * {C} + xd] + (lam_s[xs] + es[xs]) "
                        f"+ (lam_d[xd] + ed[xd])")
                 < F.col("dual_part")).cast("int").alias("dis"),
                "dual_part",
                (F.expr(f"fpot[xs * {C} + xd]") + F.col("psh_s")
                 + F.col("psh_d")).alias("primal_part"),
                (F.col("prel_f") + F.col("prl_s") + F.col("prl_d")
                 ).alias("prel_part"),
                "pres_part",
                (sq("pn_s", "p_s", "deg_s")
                 + sq("pn_d", "p_d", "deg_d")).alias("dres_part"),
            )
        )

    result = run_gas(
        graph,
        init,
        step,
        observe_aggs=lambda: [
            F.sum("dis").alias("active"),
            (F.sum("dual_part") - F.sum("primal_part")).alias("metric"),
        ],
        tol=tol,
        max_iterations=max_iterations,
        aggregators={
            "dual": [F.sum("dual_part").alias("dual")],
            "primal": [F.sum("primal_part").alias("primal")],
            "primal_rel": [F.sum("prel_part").alias("primal_rel")],
            "primal_res": [F.sum("pres_part").alias("primal_res")],
            "dual_res": [F.sum("dres_part").alias("dual_res")],
        },
        origin_free_checkpoint=True,
        verbose=verbose,
    )

    row = result.state.agg(
        F.sum("dual_part").alias("d"), F.sum("primal_part").alias("p"),
        F.sum("prel_part").alias("pr"), F.sum("dis").alias("dis"),
    ).collect()[0]
    primal_hist = [
        m.extras["primal"] for m in result.metrics
        if "primal" in m.extras
    ]
    # decode at the LAST CHECKED iterate: the state's p columns hold
    # exactly the beliefs the final dual/primal/agreement refer to
    sides = result.state.selectExpr("src AS v", "p_s AS b").unionAll(
        result.state.selectExpr("dst AS v", "p_d AS b")
    )
    per_v = sides.groupBy("v").agg(F.min("b").alias("bel"))
    assignments = (
        pot.join(per_v.hint("shuffle_hash"),
                 pot.id == F.col("v"), "left")
        .select("id", F.coalesce("bel", "potential").alias("belief"))
        .select("id", _argmax_first(F.col("belief")).cast("long")
                .alias("label"), "belief")
    )
    vd.unpersist()
    return ADMMResult(
        assignments=assignments,
        beliefs=result.state.select("src", "dst", "p_s", "p_d",
                                    "q_s", "q_d"),
        multipliers=result.state.select("src", "dst", "lam_s", "lam_d"),
        dual=float(row["d"]),
        primal=float(row["p"]),
        primal_relaxed=float(row["pr"]),
        primal_best=float(max(primal_hist, default=row["p"])),
        agreement=int(row["dis"]) == 0,
        gas=result,
    )


def dd_map_bethe(
    graph: Graph,
    potentials: DataFrame,
    num_states: int,
    factor_expr: str | None = None,
    smoothing: float = 2.0,
    weight_col: str | None = None,
    step_size: float = STEP_SIZE,
    alpha: float = 1.0,
    tol: float = 0.0,
    max_iterations: int = 100,
    stop_at_agreement: bool = True,
    verbose: bool = False,
) -> ADMMResult:
    """MAP inference via the BETHE-ADMM program
    (bethe_admm_vertex_program; see the module note). Arguments as in
    ``dd_map_admm`` plus ``alpha`` (the Bethe prox temperature,
    dd_opts.hpp:77 default 1) and ``stop_at_agreement`` (False runs
    every sweep — the fixed-count mode the q_bethe2 replay oracle
    needs, as in mplp). The factor subproblem is closed form, so every
    superstep is pure-JVM arithmetic — one posterior aggregation plus
    two shuffle_hash joins, no python kernel."""
    C = int(num_states)
    P = graph.num_partitions
    pot = potentials.select("id", "potential")

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
    )
    vd = (
        pot.join(deg.hint("shuffle_hash"), "id")
        .select(
            "id", "potential", "deg",
            F.expr("transform(potential, x -> x / deg)").alias("eps"),
        )
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vd.count()

    zero = F.expr(f"array_repeat(CAST(0.0 AS DOUBLE), {C})")
    half = F.expr(f"array_repeat(CAST(0.5 AS DOUBLE), {C})")
    qinit = F.expr(
        f"array_repeat(CAST({1.0 / (2 * C)!r} AS DOUBLE), {C})")
    ufb = F.expr(
        f"array_repeat(CAST({1.0 / (C * C)!r} AS DOUBLE), {C * C})")
    init = (
        base.select("src", "dst", fpot.alias("fpot"))
        .join(vd.selectExpr("id AS src", "eps AS es"), "src")
        .join(vd.selectExpr("id AS dst", "eps AS ed"), "dst")
        .select(
            "src", "dst", "fpot", "es", "ed",
            zero.alias("lam_s"), zero.alias("lam_d"),
            qinit.alias("q_s"), qinit.alias("q_d"),
            half.alias("p_s"), half.alias("p_d"),
            ufb.alias("fb"),
            F.lit(1).alias("dis"),
            F.lit(0.0).alias("dual_part"), F.lit(0.0).alias("primal_part"),
            F.lit(0.0).alias("prel_part"), F.lit(0.0).alias("pres_part"),
            F.lit(0.0).alias("dres_part"),
        )
        .repartition(P, "src")
    )

    s = float(step_size)
    a = float(alpha)
    # eta with the Bethe-entropy gradient folded in (compute_beliefs
    # + compute_grad_phi, :1149-1176): base-10 exponentials
    us = (
        f"transform(sequence(0, {C - 1}), i -> "
        f"power(10.0E0, ((lam_s[i] + es[i]) + CAST({s!r} AS DOUBLE) * "
        f"(p_s[i] - q_s[i])) / CAST({a!r} AS DOUBLE)) "
        f"* (10.0E0 * q_s[i]))"
    )
    ud = (
        f"transform(sequence(0, {C - 1}), i -> "
        f"power(10.0E0, ((lam_d[i] + ed[i]) + CAST({s!r} AS DOUBLE) * "
        f"(p_d[i] - q_d[i])) / CAST({a!r} AS DOUBLE)) "
        f"* (10.0E0 * q_d[i]))"
    )
    fe = (
        f"transform(sequence(0, {C * C - 1}), c -> "
        f"power(10.0E0, fpot[c] / CAST({a!r} AS DOUBLE)) "
        f"* (fb[c] / 10.0E0) / q_s[c div {C}] / q_d[c % {C}])"
    )
    # one exact sum-product pass over the single pairwise factor
    # (run_bp :1063-1121): per-side marginals and the factor marginal,
    # each normalized; then the 1e-99 underflow clamp (:1124-1137)
    _sum = "aggregate({0}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    raw_qs = (
        f"transform(sequence(0, {C - 1}), i -> _us[i] * "
        f"aggregate(transform(sequence(0, {C - 1}), j -> "
        f"_fe[i * {C} + j] * _ud[j]), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x))"
    )
    raw_qd = (
        f"transform(sequence(0, {C - 1}), j -> _ud[j] * "
        f"aggregate(transform(sequence(0, {C - 1}), i -> "
        f"_fe[i * {C} + j] * _us[i]), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x))"
    )
    raw_fb = (
        f"transform(sequence(0, {C * C - 1}), c -> "
        f"_fe[c] * _us[c div {C}] * _ud[c % {C}])"
    )
    clampnorm = (
        "transform({0}, x -> greatest(x / " + _sum.format("{0}")
        + ", 1.0E-99))"
    )

    def even_cols(df: DataFrame) -> DataFrame:
        return (
            df
            .withColumn("_us", F.expr(us))
            .withColumn("_ud", F.expr(ud))
            .withColumn("_fe", F.expr(fe))
            .withColumn("_rqs", F.expr(raw_qs))
            .withColumn("_rqd", F.expr(raw_qd))
            .withColumn("_rfb", F.expr(raw_fb))
            .withColumn(
                "_dual",
                F.expr(
                    f"array_max(transform(sequence(0, {C * C - 1}), "
                    f"c -> fpot[c] + (lam_s[c div {C}] + es[c div {C}])"
                    f" + (lam_d[c % {C}] + ed[c % {C}])))"
                ),
            )
            .select(
                "src", "dst", "fpot", "es", "ed", "lam_s", "lam_d",
                F.expr(clampnorm.format("_rqs")).alias("q_s"),
                F.expr(clampnorm.format("_rqd")).alias("q_d"),
                "p_s", "p_d",
                F.expr(clampnorm.format("_rfb")).alias("fb"),
                F.col("_dual").alias("dual_part"),
                (
                    F.expr(
                        "aggregate(zip_with(fpot, fb, (a, b) -> a * b),"
                        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
                ).alias("prel_f"),
                (
                    F.expr(
                        "aggregate(zip_with(q_s, p_s, (a, b) -> "
                        "(a - b) * (a - b)), CAST(0.0 AS DOUBLE), "
                        "(acc, x) -> acc + x)")
                    + F.expr(
                        "aggregate(zip_with(q_d, p_d, (a, b) -> "
                        "(a - b) * (a - b)), CAST(0.0 AS DOUBLE), "
                        "(acc, x) -> acc + x)")
                ).alias("pres_part"),
            )
        )

    def step(g: Graph, state: DataFrame, i: int):
        # materialize the factor phase ONCE (three downstream
        # consumers; the eta/sum-product expression tree is the
        # expensive part of a Bethe superstep)
        ph = truncate_plan(even_cols(
            state.drop("dis", "primal_part", "prel_part", "dres_part")))
        qsum = truncate_plan(
            _vec_sum(
                ph.select(F.col("src").alias("v"),
                          F.col("q_s").alias("m"))
                .unionAll(ph.select(F.col("dst").alias("v"),
                                    F.col("q_d").alias("m"))),
                "v", "m",
            )
            .withColumnRenamed("id", "v")
            .join(vd.hint("shuffle_hash"), F.col("v") == F.col("id"))
            .select(
                "v",
                F.expr("transform(vsum, x -> x / deg)").alias("pnew"),
                "deg",
                (F.expr(
                    "potential[array_position("
                    "transform(vsum, x -> x / deg), array_max("
                    "transform(vsum, x -> x / deg))) - 1]"
                ) / F.col("deg")).alias("pshare"),
                (F.expr(
                    "aggregate(zip_with(potential, vsum, (a, b) -> "
                    "a * b / deg), CAST(0.0 AS DOUBLE), (acc, x) -> "
                    "acc + x)"
                ) / F.col("deg")).alias("prelshare"),
                _argmax_first(
                    F.expr("transform(vsum, x -> x / deg)")
                ).alias("xstar"),
            )
        )
        upd = lambda lam, pn, q: F.expr(  # noqa: E731
            f"zip_with({lam}, zip_with({pn}, {q}, (p, q) -> p - q), "
            f"(l, g) -> l + CAST({s!r} AS DOUBLE) * g)"
        )
        sq = lambda pn, po, dg: F.expr(  # noqa: E731
            f"aggregate(zip_with({pn}, {po}, (a, b) -> "
            f"(a - b) * (a - b)), CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x) / {dg}"
        )
        return (
            ph
            .join(
                qsum.selectExpr("v AS src", "pnew AS pn_s",
                                "deg AS deg_s", "xstar AS xs",
                                "pshare AS psh_s",
                                "prelshare AS prl_s")
                .hint("shuffle_hash"),
                "src",
            )
            .join(
                qsum.selectExpr("v AS dst", "pnew AS pn_d",
                                "deg AS deg_d", "xstar AS xd",
                                "pshare AS psh_d",
                                "prelshare AS prl_d")
                .hint("shuffle_hash"),
                "dst",
            )
            .select(
                "src", "dst", "fpot", "es", "ed",
                upd("lam_s", "pn_s", "q_s").alias("lam_s"),
                upd("lam_d", "pn_d", "q_d").alias("lam_d"),
                "q_s", "q_d",
                F.col("pn_s").alias("p_s"), F.col("pn_d").alias("p_d"),
                "fb",
                (F.expr(f"fpot[xs * {C} + xd] + (lam_s[xs] + es[xs]) "
                        f"+ (lam_d[xd] + ed[xd])")
                 < F.col("dual_part")).cast("int").alias("dis"),
                "dual_part",
                (F.expr(f"fpot[xs * {C} + xd]") + F.col("psh_s")
                 + F.col("psh_d")).alias("primal_part"),
                (F.col("prel_f") + F.col("prl_s") + F.col("prl_d")
                 ).alias("prel_part"),
                "pres_part",
                (sq("pn_s", "p_s", "deg_s")
                 + sq("pn_d", "p_d", "deg_d")).alias("dres_part"),
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
            "primal_rel": [F.sum("prel_part").alias("primal_rel")],
            "primal_res": [F.sum("pres_part").alias("primal_res")],
            "dual_res": [F.sum("dres_part").alias("dual_res")],
        },
        origin_free_checkpoint=True,
        verbose=verbose,
    )

    row = result.state.agg(
        F.sum("dual_part").alias("d"), F.sum("primal_part").alias("p"),
        F.sum("prel_part").alias("pr"), F.sum("dis").alias("dis"),
    ).collect()[0]
    primal_hist = [
        m.extras["primal"] for m in result.metrics
        if "primal" in m.extras
    ]
    sides = result.state.selectExpr("src AS v", "p_s AS b").unionAll(
        result.state.selectExpr("dst AS v", "p_d AS b")
    )
    per_v = sides.groupBy("v").agg(F.min("b").alias("bel"))
    assignments = (
        pot.join(per_v.hint("shuffle_hash"),
                 pot.id == F.col("v"), "left")
        .select("id", F.coalesce("bel", "potential").alias("belief"))
        .select("id", _argmax_first(F.col("belief")).cast("long")
                .alias("label"), "belief")
    )
    vd.unpersist()
    return ADMMResult(
        assignments=assignments,
        beliefs=result.state.select("src", "dst", "p_s", "p_d",
                                    "q_s", "q_d"),
        multipliers=result.state.select("src", "dst", "lam_s", "lam_d"),
        dual=float(row["d"]),
        primal=float(row["p"]),
        primal_relaxed=float(row["pr"]),
        primal_best=float(max(primal_hist, default=row["p"])),
        agreement=int(row["dis"]) == 0,
        gas=result,
    )

"""Dual-decomposition MAP inference (projected subgradient, pairwise
MRFs) on the GAS runtime.

Reference: /root/reference/toolkits/graphical_models/dd_grlab.hpp
(+ dd_main.cpp / dd_opts.hpp) — MAP on Markov nets via dual
decomposition over a bipartite variable/factor graph:
- vertex_data holds unary potentials for variable vertices and dense
  configuration tables for factor vertices (:95-121); every edge
  carries Lagrange multipliers `multiplier_messages`, one slot per
  state of the incident variable (:175-185).
- gather (:403-474): a variable vertex sums the multipliers of its
  incident edges; a factor vertex collects each neighbor's NEGATED
  multiplier vector into its disjoint slot (:453-455) — the sign split
  (+lambda on the variable subproblem, -lambda on the factor
  subproblem) is what makes the sum of subproblem maxima a valid
  Lagrangian upper bound on the MAP score.
- apply (:487-553): variable belief = potential + multiplier sum,
  `best_configuration` = argmax (Eigen maxCoeff — FIRST index wins
  ties), dual contribution = max; factor belief over configurations
  adds each variable's multiplier at that configuration's state
  (row-major state decode, :301-317), argmax + dual contribution the
  same way; primal contribution evaluates the raw potentials at the
  current argmaxes.
- scatter (:569-641): the projected subgradient step on each
  variable–factor edge, stepsize s_t = step_size/(t+2) (rule 1 of
  update_stepsize :323-338, the symmetric program's choice :599):
      lambda[variable argmax state] -= s_t
      lambda[factor argmax state for that variable] += s_t
  i.e. subgradient DESCENT on the dual (d dual / d lambda(x) =
  [x == variable argmax] - [x == factor argmax]), which also keeps
  sum_x lambda(x) == 0. NOTE: the reference
  sync engine fires scatter from BOTH endpoints of every edge each
  iteration with identical roles (:573-588), so its effective step is
  2*s_t — pass ``step_size=2.0`` here to replicate that trajectory;
  the update itself is applied exactly once per edge per superstep.
- aggregator (:1175-1240): dual = sum of dual contributions,
  primal = sum of primal contributions, primal_best tracked;
  converged when |dual_t - dual_{t-1}| < dualimprovthres (1e-12
  default, dd_opts.hpp:75) or maxiter.

Scope: pairwise factors — one factor per undirected graph edge with a
dense C x C log-space table (the shape every shipped DD example uses
via UAI pairwise nets); higher-order/budget factors (:104-110) are the
reference's UAI-general surface and are out of scope here. The
factor-vertex side never materializes as rows: a pairwise factor's
gather/apply/scatter all collapse onto its edge row.

Convergence mapped to the BSP observe ballot: the driver-side
"|dual change| < 1e-12" closure cannot ride the free observe path, so
termination is (a) full primal/dual AGREEMENT — every edge's factor
argmax matches both unary argmaxes, which certifies an exact MAP and
the reference criterion would fire at most one aggregate later — or
(b) duality gap dual_t - primal_t <= tol when tol > 0, or
(c) max_iterations (the practically binding rule under the 1/t step,
exactly as in the reference binary). Dual and primal objectives ride
the metrics stream via vertex aggregators as in the reference.

Spark mapping (100 TB shape): state is ONE row per undirected edge —
(src, dst, fpot C*C, lam_s C, lam_d C). A superstep is (1) one
element-wise multiplier aggregation per vertex (posexplode partial
agg, P*|V|*C shuffle rows), (2) two shuffle_hash joins of the slim
(id, argmax, dual-share) belief table back onto the edge state — only
(id, C-vector) rows shuffle, the edge/factor table never re-shuffles —
and (3) pure-JVM argmax/update expressions over the C*C config array.
No per-row Python anywhere; dual/primal/agreement ballots ride the
materialization job (observe) and the check-time aggregators.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import GASResult, run_gas, truncate_plan
from ..graph import Graph

STEP_SIZE = 1.0           # dd_opts.hpp:78
DUAL_IMPROVE_TOL = 1e-12  # dd_opts.hpp:75 (documentation only; see above)

# --- projected variant (dd_vertex_program_projected, :656-871) -------
#
# The Komodakis-style projected subgradient program alternates two
# reference iterations: EVEN = factor phase — each factor maximizes
# fpot + (lambda + eps) over its configurations, where eps is the unary
# potential split equally over the variable's factors
# (edge.data().potentials = vdata.potentials / vdata.degree,
# dd_main.hpp:343), and writes its vote for each variable as a one-hot
# local MAP on the edge (:836-857); ODD = variable phase — beliefs =
# (sum of one-hot votes) / degree (:766-771), and every multiplier
# moves toward consensus, lambda += s * (beliefs - local_vote)
# (:826-833), stepsize rule 1 evaluated at the odd iteration:
# s_t = step / (2t + 3) for the t-th even/odd pair. One BSP superstep
# here executes one full pair. Unlike the symmetric program, no float
# crosses an aggregation boundary (votes are integers; every lambda /
# belief / factor score is a per-edge local expression), so a SQL twin
# replays it bit-for-bit with the same expression shapes.


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


def _argmax_first(arr: Column) -> Column:
    """0-based argmax, FIRST index on ties (Eigen maxCoeff :510)."""
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


@dataclass
class DDResult:
    assignments: DataFrame  # (id, label) MAP decode at the final iterate
    multipliers: DataFrame  # (src, dst, lam_s, lam_d) final multipliers
    dual: float             # dual objective at the final iterate
    primal: float           # decoded primal at the final iterate
    primal_best: float      # best decoded primal over all checks
    agreement: bool         # True => assignments certified exact MAP
    gas: GASResult


def dual_decomposition_map(
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
) -> DDResult:
    """MAP inference on the pairwise MRF (graph, potentials).

    ``potentials``: (id, potential array<double> length ``num_states``)
    LOG-space unary potentials, one row per vertex. ``factor_expr``:
    optional SQL expression (over graph.edges columns) yielding the
    flattened row-major C*C log-space factor table per edge
    (index = src_state * C + dst_state, the reference's configuration
    encoding :301-317); defaults to the Ising-Potts factor
    ``(a == b ? 0 : -smoothing * w)`` shared with lbp/gibbs, with ``w``
    from ``weight_col`` (default 1). MAXIMIZES the total log-score.
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

    zero = F.expr(f"array_repeat(CAST(0.0 AS DOUBLE), {C})")
    init = (
        base.select(
            "src", "dst", fpot.alias("fpot"),
            zero.alias("lam_s"), zero.alias("lam_d"),
            F.lit(0.0).alias("fmax"), F.lit(0.0).alias("pedge"),
            F.lit(2).alias("dis"),
            F.lit(0.0).alias("dual_part"), F.lit(0.0).alias("primal_part"),
        )
        .repartition(P, "src")
    )

    # static degree table: spreads each vertex's dual/primal share over
    # its incident edges so the reference's whole-graph objective
    # aggregator (:1175-1188) rides the edge-state metrics stream
    deg = (
        base.selectExpr("src AS id").unionAll(base.selectExpr("dst AS id"))
        .groupBy("id").agg(F.count("*").cast("double").alias("deg"))
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg.count()

    def _beliefs(msgs: DataFrame) -> DataFrame:
        """(id, xstar, dshare, pshare): unary argmax + per-degree
        objective shares at the CURRENT multipliers (apply :492-510)."""
        lam_rows = msgs.selectExpr("src AS v", "lam_s AS lam").unionAll(
            msgs.selectExpr("dst AS v", "lam_d AS lam")
        )
        bel = F.zip_with("potential", "vsum", lambda a, b: a + b)
        return (
            pot.join(_vec_sum(lam_rows, "v", "lam").hint("shuffle_hash"),
                     "id")
            .select("id", "potential", bel.alias("belief"))
            .join(deg.hint("shuffle_hash"), "id")
            .select(
                "id",
                _argmax_first(F.col("belief")).alias("xstar"),
                (F.array_max("belief") / F.col("deg")).alias("dshare"),
                (F.expr("potential[array_position(belief, "
                        "array_max(belief)) - 1]") / F.col("deg")
                 ).alias("pshare"),
            )
        )

    def step(g: Graph, state: DataFrame, i: int):
        s_t = step_size / (i + 2)  # update_stepsize rule 1 (:329)
        msgs = state.select("src", "dst", "fpot", "lam_s", "lam_d")
        # origin-free eager materialization: the belief table re-enters
        # the next plan through two join branches (src AND dst) — the
        # exact shape whose Catalyst origin chain compounds (see
        # gas.truncate_plan). |V| slim rows only.
        bel = truncate_plan(_beliefs(msgs))
        joined = (
            msgs
            .join(
                bel.selectExpr("id AS src", "xstar AS xs",
                               "dshare AS dsh_s", "pshare AS psh_s")
                .hint("shuffle_hash"),
                "src",
            )
            .join(
                bel.selectExpr("id AS dst", "xstar AS xd",
                               "dshare AS dsh_d", "pshare AS psh_d")
                .hint("shuffle_hash"),
                "dst",
            )
        )
        # factor subproblem: belief over the C*C configurations with
        # the multipliers SUBTRACTED (gather negates them, :453-455;
        # apply :514-536), argmax first-index-wins, row-major decode
        fb = F.expr(
            f"transform(sequence(0, {C * C - 1}), i -> "
            f"fpot[i] - lam_s[i div {C}] - lam_d[i % {C}])"
        )
        upd = lambda lam, fstar, xstar: F.expr(  # noqa: E731
            f"transform({lam}, (v, j) -> v + CAST({s_t!r} AS DOUBLE) * "
            f"((CASE WHEN j = {fstar} THEN 1.0E0 ELSE 0.0E0 END) - "
            f"(CASE WHEN j = {xstar} THEN 1.0E0 ELSE 0.0E0 END)))"
        )
        return (
            joined
            .withColumn("_fb", fb)
            .withColumn("_fidx", _argmax_first(F.col("_fb")))
            .withColumn("_as", F.expr(f"_fidx div {C}"))
            .withColumn("_bs", F.expr(f"_fidx % {C}"))
            .select(
                "src", "dst", "fpot",
                upd("lam_s", "_as", "xs").alias("lam_s"),
                upd("lam_d", "_bs", "xd").alias("lam_d"),
                F.array_max("_fb").alias("fmax"),
                F.expr(f"fpot[xs * {C} + xd]").alias("pedge"),
                (
                    (F.col("_as") != F.col("xs")).cast("int")
                    + (F.col("_bs") != F.col("xd")).cast("int")
                ).alias("dis"),
                (F.array_max("_fb") + F.col("dsh_s") + F.col("dsh_d")
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
            F.sum("dis").alias("active"),
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
    final_msgs = result.state.select("src", "dst", "lam_s", "lam_d")
    # decode at the final multipliers; vertices with no factor keep
    # their prior argmax (left join: vsum null => belief = potential)
    lam_rows = final_msgs.selectExpr("src AS v", "lam_s AS lam").unionAll(
        final_msgs.selectExpr("dst AS v", "lam_d AS lam")
    )
    bel = F.when(F.col("vsum").isNull(), F.col("potential")).otherwise(
        F.zip_with("potential", "vsum", lambda a, b: a + b)
    )
    assignments = (
        pot.join(_vec_sum(lam_rows, "v", "lam").hint("shuffle_hash"),
                 "id", "left")
        .select("id", bel.alias("belief"))
        .select("id", _argmax_first(F.col("belief")).cast("long")
                .alias("label"), "belief")
    )
    return DDResult(
        assignments=assignments,
        multipliers=final_msgs,
        dual=float(row["d"]),
        primal=float(row["p"]),
        primal_best=float(max(primal_hist, default=row["p"])),
        agreement=int(row["dis"]) == 0,
        gas=result,
    )


def dd_map_projected(
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
) -> DDResult:
    """MAP inference via the PROJECTED dual-decomposition program
    (dd_vertex_program_projected, dd_grlab.hpp:656-871; see the
    variant note above). Arguments as in ``dual_decomposition_map``.
    One superstep = one even/odd reference pair: factor votes (one-hot
    local MAPs) then consensus multiplier update
    lambda += s_t * (votes/degree - vote), s_t = step/(2t+3).
    ``assignments.belief`` carries the integer vote counts per state
    (the reference's beliefs times the degree — same argmax, exact
    arithmetic)."""
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
    # static per-vertex view: potential, degree, and the per-edge unary
    # share eps = potential / degree (edge.data().potentials,
    # dd_main.hpp:343)
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
    init = (
        base.select("src", "dst", fpot.alias("fpot"))
        .join(vd.selectExpr("id AS src", "eps AS es"), "src")
        .join(vd.selectExpr("id AS dst", "eps AS ed"), "dst")
        .select(
            "src", "dst", "fpot", "es", "ed",
            zero.alias("lam_s"), zero.alias("lam_d"),
            zero.alias("loc_s"), zero.alias("loc_d"),
            F.lit(0.0).alias("fmax"), F.lit(2).alias("dis"),
            F.lit(0.0).alias("dual_part"), F.lit(0.0).alias("primal_part"),
        )
        .repartition(P, "src")
    )

    # the factor phase (EVEN iteration): score every configuration with
    # the multipliers-plus-unary-shares gather (:734, :785-793); the
    # expression shape (fpot + (lam+eps)_src + (lam+eps)_dst, left to
    # right) is the contract a SQL twin replays bit-for-bit
    fb = F.expr(
        f"transform(sequence(0, {C * C - 1}), i -> "
        f"fpot[i] + (lam_s[i div {C}] + es[i div {C}]) "
        f"+ (lam_d[i % {C}] + ed[i % {C}]))"
    )

    def onehot(star: str) -> Column:
        return F.expr(
            f"transform(sequence(0, {C - 1}), j -> "
            f"CASE WHEN j = {star} THEN 1.0E0 ELSE 0.0E0 END)"
        )

    def step(g: Graph, state: DataFrame, i: int):
        s_t = step_size / (2 * i + 3)  # rule 1 at the odd iteration
        ph = (
            state.select("src", "dst", "fpot", "es", "ed",
                         "lam_s", "lam_d")
            .withColumn("_fb", fb)
            .withColumn("_fidx", _argmax_first(F.col("_fb")))
            .withColumn("_as", F.expr(f"_fidx div {C}"))
            .withColumn("_bs", F.expr(f"_fidx % {C}"))
        )
        # variable phase (ODD iteration): integer vote counts per
        # vertex (beliefs * degree, :766-771) — the only aggregation in
        # the loop, and it sums exact 0/1 doubles
        votes = truncate_plan(
            _vec_sum(
                ph.select(F.col("src").alias("v"),
                          onehot("_as").alias("m"))
                .unionAll(ph.select(F.col("dst").alias("v"),
                                    onehot("_bs").alias("m"))),
                "v", "m",
            )
            .withColumnRenamed("id", "v")
            .join(vd.hint("shuffle_hash"), F.col("v") == F.col("id"))
            .select(
                "v", F.col("vsum").alias("votes"), "deg",
                _argmax_first(F.col("vsum")).alias("xstar"),
                (F.expr("potential[array_position(vsum, "
                        "array_max(vsum)) - 1]") / F.col("deg")
                 ).alias("pshare"),
            )
        )
        upd = lambda lam, votes_c, deg_c, loc: F.expr(  # noqa: E731
            f"transform({lam}, (v, j) -> v + CAST({s_t!r} AS DOUBLE) * "
            f"({votes_c}[j] / {deg_c} - {loc}[j]))"
        )
        return (
            ph
            .join(
                votes.selectExpr("v AS src", "votes AS vo_s",
                                 "deg AS deg_s", "xstar AS xs",
                                 "pshare AS psh_s")
                .hint("shuffle_hash"),
                "src",
            )
            .join(
                votes.selectExpr("v AS dst", "votes AS vo_d",
                                 "deg AS deg_d", "xstar AS xd",
                                 "pshare AS psh_d")
                .hint("shuffle_hash"),
                "dst",
            )
            .withColumn("_ls", onehot("_as"))
            .withColumn("_ld", onehot("_bs"))
            .select(
                "src", "dst", "fpot", "es", "ed",
                upd("lam_s", "vo_s", "deg_s", "_ls").alias("lam_s"),
                upd("lam_d", "vo_d", "deg_d", "_ld").alias("lam_d"),
                F.col("_ls").alias("loc_s"),
                F.col("_ld").alias("loc_d"),
                F.array_max("_fb").alias("fmax"),
                (
                    (F.col("_as") != F.col("xs")).cast("int")
                    + (F.col("_bs") != F.col("xd")).cast("int")
                ).alias("dis"),
                # projected dual: unary potentials live inside the
                # factor subproblems, so the dual is the factor sum
                F.array_max("_fb").alias("dual_part"),
                (F.expr(f"fpot[xs * {C} + xd]") + F.col("psh_s")
                 + F.col("psh_d")).alias("primal_part"),
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
    final_msgs = result.state.select("src", "dst", "lam_s", "lam_d")
    loc_rows = result.state.selectExpr("src AS v", "loc_s AS m").unionAll(
        result.state.selectExpr("dst AS v", "loc_d AS m")
    )
    # decode = argmax of vote counts; factor-less vertices keep their
    # prior argmax (left join)
    bel = F.when(F.col("vsum").isNull(), F.col("potential")).otherwise(
        F.col("vsum")
    )
    assignments = (
        pot.join(_vec_sum(loc_rows, "v", "m").hint("shuffle_hash")
                 .withColumnRenamed("id", "vid"),
                 pot.id == F.col("vid"), "left")
        .select("id", bel.alias("belief"))
        .select("id", _argmax_first(F.col("belief")).cast("long")
                .alias("label"), "belief")
    )
    vd.unpersist()
    return DDResult(
        assignments=assignments,
        multipliers=final_msgs,
        dual=float(row["d"]),
        primal=float(row["p"]),
        primal_best=float(max(primal_hist, default=row["p"])),
        agreement=int(row["dis"]) == 0,
        gas=result,
    )

"""SIR epidemic cascades over a graph.

Reference: /root/reference/apps/cascades/cascades.cpp — vertex state is
SUSCEPTIBLE / INFECTED / RECOVERED (:29); gather over ALL_EDGES counts
INFECTED neighbors (infected_status monoid, :37-55); apply (:121-155)
leaves RECOVERED alone, rolls an INFECTED vertex against
``recovery_chance``, and gives a SUSCEPTIBLE vertex one infection roll
against ``infection_chance`` PER infected neighbor (early break on the
first success — i.e. P(infect) = 1 - (1 - p)^k for k infected
neighbors); an INFECTED result re-signals the vertex (:153-154).

Two reference quirks, handled explicitly:

- The gather monoid counts ``other.status == INFECTED`` on merge
  (:46-50), so the FIRST element folded never contributes its own
  status — the reference's k is merge-order-dependent (and its rand()
  draws are seeded from time(0), :182). Exact numeric parity with the
  C++ binary is therefore impossible by construction; this engine
  computes the intended k = exact count of infected neighbors over the
  ALL_EDGES multiset, with DETERMINISTIC md5-seeded uniforms per
  (seed, superstep, vertex) so any run — at any parallelism — and an
  ANSI-SQL oracle reproduce the identical cascade.
- Apply signals only the vertex ITSELF when it ends INFECTED (:153) and
  scatters over NO_EDGES (:157), so after the initial signal-all round
  a still-SUSCEPTIBLE vertex is never activated again: under the
  reference's literal schedule, infection can only spread in superstep
  1. ``spread=True`` (default) runs the epidemic the app plainly
  intends — susceptible vertices stay eligible every round —
  ``spread=False`` replicates the literal self-signal schedule.

Spark mapping — each superstep is one frontier-proportional plan:

- gather: infected ids join the graph's two-way view on src,
  groupBy(dst) sum(m) — work is O(edges incident to
  currently-infected), not O(E).
- apply: one full-column pass over vertex state (LEFT join of the k
  counts; k is NULL→0 for untouched vertices, whose infection
  threshold 1-(1-p)^0 = 0 never fires). The single draw against
  1-(1-p)^k is distributionally identical to the reference's k
  early-break rolls and makes the DuckDB replay exact: the threshold
  is computed as 1 - exp(k * ln(1-p)) with identical literals and
  operation order in both engines.
- convergence rides the materialization job via ``observe``: the
  cascade is depleted when no INFECTED vertices remain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointStore
from ..gas import GASResult, run_gas
from ..graph import Graph

_U_DEN = float(16 ** 8)

SUSCEPTIBLE = "S"
INFECTED = "I"
RECOVERED = "R"


def _dlit(x: float) -> str:
    """SQL DOUBLE literal (exponent forces DOUBLE in Spark and DuckDB
    alike, keeping every probability comparison in IEEE doubles)."""
    s = repr(float(x))
    return s if "e" in s else s + "E0"


def uniform_expr(seed: str, tag: str, id_col: str = "id") -> str:
    """Deterministic uniform in [0,1): md5(seed:tag:id) first 8 hex
    digits / 16^8 — the engine's shared draw family (lda.py,
    warp.bond_percolation), byte-identical in any engine."""
    s = f"concat('{seed}:', '{tag}:', {id_col})"
    return (
        f"(CAST(conv(substring(md5({s}), 1, 8), 16, 10) AS DOUBLE)"
        f" / {_dlit(_U_DEN)})"
    )


def seed_status(
    graph: Graph, init_infected_prob: float, seed: str = "sir"
) -> DataFrame:
    """(id, status) initial assignment: each vertex independently
    INFECTED with ``init_infected_prob`` (md5 draw tagged 'init'),
    else SUSCEPTIBLE — the deterministic stand-in for cascades.cpp's
    file-driven S/I/R labels (line_parser, :60-95), which remain
    supported by passing any (id, status) DataFrame to
    :func:`cascades` directly."""
    u = uniform_expr(seed, "init")
    return graph.vertices.selectExpr(
        "id",
        f"CASE WHEN {u} < {_dlit(init_infected_prob)}"
        f" THEN '{INFECTED}' ELSE '{SUSCEPTIBLE}' END AS status",
    )


def cascades(
    graph: Graph,
    infection_chance: float,
    recovery_chance: float,
    status: DataFrame | None = None,
    init_infected_prob: float = 0.05,
    max_iterations: int = 20,
    seed: str = "sir",
    spread: bool = True,
    checkpoint: CheckpointStore | None = None,
    checkpoint_interval: int = 4,
    check_interval: int = 1,
    resume: bool = False,
    verbose: bool = False,
) -> GASResult:
    """Run the SIR cascade to depletion (no INFECTED vertices left) or
    ``max_iterations``. ``status``: optional (id, status IN 'S','I','R')
    seed table (cascades.cpp line_parser labels); default =
    :func:`seed_status`. Returns state (id, status, changed)."""
    P = graph.num_partitions
    sym = graph.two_way_edges()

    if status is None:
        init = seed_status(graph, init_infected_prob, seed)
    else:
        init = (
            graph.vertices.select("id")
            .join(status, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("status"), F.lit(SUSCEPTIBLE)).alias("status"),
            )
        )
    init = init.withColumn("changed", F.lit(True)).repartition(P, "id")

    q = 1.0 - float(infection_chance)  # per-roll survival probability

    def step(g: Graph, state: DataFrame, i: int):
        it = i + 1  # 1-based superstep tag for the draw streams
        cur = state.select("id", "status")
        inf = cur.filter(F.col("status") == INFECTED).select(
            F.col("id").alias("nbr")
        )
        # gather: k = |infected neighbors| over the ALL_EDGES multiset
        # (a reciprocal pair counts m = 2 times, one roll per edge,
        # matching the reference's per-edge gather list).
        k = (
            sym.join(inf.hint("shuffle_hash"), sym.src == inf.nbr)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("m").alias("k"))
        )
        u_rec = uniform_expr(seed, f"{it}:r")
        u_inf = uniform_expr(seed, f"{it}:i")
        if q <= 0.0:
            # certain infection: ln(0) is NULL in Spark SQL (and the
            # threshold is exactly 1 > any u), so skip the draw
            infect_branch = f"WHEN kk > 0 THEN '{INFECTED}'"
        else:
            infect_branch = (
                f"WHEN kk > 0 AND {u_inf} < "
                f"(1.0E0 - exp(CAST(kk AS DOUBLE) * ln({_dlit(q)})))"
                f" THEN '{INFECTED}'"
            )
        if not spread and it > 1:
            # literal reference schedule: susceptibles were only active
            # in the signal-all round (cascades.cpp:153-157)
            infect_branch = ""
        return (
            cur.join(k.hint("shuffle_hash"), "id", "left")
            .selectExpr("id", "status", "COALESCE(k, 0) AS kk")
            .selectExpr(
                "id",
                "status",
                f"""CASE WHEN status = '{RECOVERED}' THEN '{RECOVERED}'
                     WHEN status = '{INFECTED}' THEN
                       (CASE WHEN {u_rec} < {_dlit(float(recovery_chance))}
                             THEN '{RECOVERED}' ELSE '{INFECTED}' END)
                     {infect_branch}
                     ELSE '{SUSCEPTIBLE}' END AS new_status""",
            )
            .select(
                "id",
                F.col("new_status").alias("status"),
                (F.col("new_status") != F.col("status")).alias("changed"),
            )
        )

    return run_gas(
        graph,
        init,
        step,
        observe_aggs=lambda: [
            F.sum((F.col("status") == INFECTED).cast("long")).alias("active")
        ],
        max_iterations=max_iterations,
        checkpoint=checkpoint,
        checkpoint_interval=checkpoint_interval,
        check_interval=check_interval,
        resume=resume,
        verbose=verbose,
    )


def sir_counts(state: DataFrame) -> DataFrame:
    """(status, n): population breakdown — the summary the reference's
    cascades_writer output is grepped for."""
    return (
        state.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )

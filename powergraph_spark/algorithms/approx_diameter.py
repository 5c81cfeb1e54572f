"""Approximate (effective) diameter via Flajolet-Martin bitmasks.

Reference: /root/reference/toolkits/graph_analytics/approximate_diameter.cpp
:50-260,330-345. Semantics: every vertex carries R duplicated FM
bitmasks (bit i set with probability 2^-(i+1), :59-76); each hop every
vertex ORs in the masks of its OUT neighbors (gather is bitwise-union,
:96-120); the estimated number of reachable pairs is derived from the
mean least-unset-bit position over the R masks (:150-170); iteration
stops when the estimate stops growing (:330-345) — the hop count at
that point approximates the diameter.

Spark mapping: masks are an array<long> column; the per-hop OR-gather
is explode(register index) -> groupBy(dst, reg).agg(bit_or) ->
re-assemble array. All JVM-side; one shuffle pair per hop, identical
shape to the PageRank superstep. Each hop is one run_gas superstep
whose rows carry the vertex's estimate and the previous hop's, so the
ballot compares the two sums inside the hop's own job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..gas import run_gas
from ..graph import Graph


_M61 = (1 << 61) - 1  # keep all mask arithmetic well inside int64 (ANSI-safe)


_NIB_TZ = (
    "CASE {c} WHEN '1' THEN 0 WHEN '2' THEN 1 WHEN '3' THEN 0 WHEN '4' THEN 2 "
    "WHEN '5' THEN 0 WHEN '6' THEN 1 WHEN '7' THEN 0 WHEN '8' THEN 3 "
    "WHEN '9' THEN 0 WHEN 'a' THEN 1 WHEN 'b' THEN 0 WHEN 'c' THEN 2 "
    "WHEN 'd' THEN 0 WHEN 'e' THEN 1 ELSE 0 END"
)


def _init_masks(vertices: DataFrame, r: int) -> DataFrame:
    """bit position = trailing zeros of a per-(vertex, replica) hash —
    P(bit i) = 2^-(i+1), the FM distribution (approximate_diameter.cpp:59-68).

    The hash is md5-based and the trailing-zero count is computed from
    the hex STRING (strip trailing '0' digits, then a nibble lookup on
    the last surviving digit), so an ANSI-SQL oracle (DuckDB: rtrim +
    CASE) reproduces every mask bit-for-bit. 15 hex digits = 60 bits,
    comfortably inside int64. Init-only cost: one pass over |V| x R."""
    with_h = vertices.selectExpr(
        "id",
        *[
            f"substring(md5(concat('{reg}:', cast(id as string))), 1, 15)"
            f" AS h{reg}"
            for reg in range(r)
        ],
    )

    def mask_sql(reg: int) -> str:
        s = f"trim(TRAILING '0' FROM h{reg})"
        last = f"substring({s}, length({s}), 1)"
        tz = (
            f"CASE WHEN length({s}) = 0 THEN 60 "
            f"ELSE 4 * (15 - length({s})) + {_NIB_TZ.format(c=last)} END"
        )
        return f"shiftleft(1L, cast(least({tz}, 60) as int))"

    masks = ", ".join(mask_sql(reg) for reg in range(r))
    return with_h.selectExpr("id", f"array({masks}) AS masks")


def _fm_est_expr(r: int) -> str:
    """Per-ROW SQL expression for a vertex's FM estimate from its mask
    array (approximate_diameter.cpp:150-170):
    2^(mean lowest-unset-bit)/0.77351, lowest-unset-bit = trailing-ones
    = bit_count(m & ~(m+1)). A pure array `aggregate` — no explode, no
    groupBy — so the global estimate is ONE sum that can ride any job
    via `observe`. (SQL-string ~ is bitwise NOT; the PySpark Column ~
    operator is boolean NOT.)"""
    m = f"(x & {_M61}L)"
    to = f"cast(least(bit_count({m} & ~({m} + 1)), 60) as double)"
    mean_b = f"aggregate(masks, cast(0.0 as double), (acc, x) -> acc + {to}) / {r}"
    return f"pow(2.0, {mean_b}) / 0.77351"


def approx_diameter(
    graph: Graph,
    r: int = 10,
    max_hops: int = 64,
    tol: float = 0.0,
    verbose: bool = False,
) -> tuple[int, list[float]]:
    """Returns (diameter_estimate, per-hop reachable-pair estimates).
    Stops when the estimate stops growing (reference uses exact
    equality of consecutive estimates on converged masks; we stop when
    relative growth <= tol)."""
    edges = graph.edges.select("src", "dst")
    est = f"{_fm_est_expr(r)} AS est"

    def step(g: Graph, state: DataFrame, i: int) -> DataFrame:
        masks = state.select("id", "masks")
        nbr = (
            edges.join(masks, edges.dst == masks.id)
            .select(F.col("src").alias("vid"), F.posexplode("masks").alias("reg", "m"))
            .groupBy("vid", "reg")
            .agg(F.bit_or("m").alias("m"))
            .groupBy("vid")
            .agg(F.array_sort(F.collect_list(F.struct("reg", "m"))).alias("rm"))
            .select("vid", F.transform("rm", lambda s: s["m"]).alias("nbr_masks"))
        )
        return (
            state.join(nbr, state.id == nbr.vid, "left")
            .select(
                "id",
                F.when(
                    F.col("nbr_masks").isNotNull(),
                    F.zip_with("masks", "nbr_masks", lambda a, b: a.bitwiseOR(b)),
                ).otherwise(F.col("masks")).alias("masks"),
                F.col("est").alias("prev_est"),
            )
            .selectExpr("id", "masks", est, "prev_est")
        )

    init = _init_masks(graph.vertices, r).selectExpr(
        "id", "masks", est, "CAST(NULL AS DOUBLE) AS prev_est"
    )
    # a hop's estimate and the one before it are summed by the same
    # job over the same rows, so at the mask fixpoint the growth is
    # exactly 0
    result = run_gas(
        graph, init, step,
        observe_aggs=lambda: [
            F.expr(
                "CASE WHEN sum(prev_est) > 0 AND try_divide(sum(est) - "
                f"sum(prev_est), sum(prev_est)) <= {float(tol)!r}D "
                "THEN 0 ELSE 1 END"
            ).alias("active"),
            F.expr("coalesce(sum(est), 0.0D)").alias("metric"),
        ],
        max_iterations=max_hops, verbose=verbose,
    )
    est0 = init.agg(F.sum("est")).first()[0] or 0.0
    history = [float(est0)] + [m.metric for m in result.metrics]
    hops = result.supersteps - 1 if result.converged else result.supersteps
    return hops, history

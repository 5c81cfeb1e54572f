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
shape to the PageRank superstep.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

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


def _fm_count(masks_df: DataFrame, r: int) -> float:
    """Sum over vertices of the per-vertex FM estimate (standalone job;
    the hop loop gets the same number for free via observe)."""
    total = (
        masks_df.selectExpr(f"{_fm_est_expr(r)} AS est")
        .agg(F.sum("est"))
        .first()[0]
    )
    return float(total or 0.0)


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
    state = _init_masks(graph.vertices, r).persist(StorageLevel.MEMORY_AND_DISK)
    history = [_fm_count(state, r)]
    hops = 0
    for hop in range(1, max_hops + 1):
        nbr = (
            edges.join(state, edges.dst == state.id)
            .select(F.col("src").alias("vid"), F.posexplode("masks").alias("reg", "m"))
            .groupBy("vid", "reg")
            .agg(F.bit_or("m").alias("m"))
            .groupBy("vid")
            .agg(F.array_sort(F.collect_list(F.struct("reg", "m"))).alias("rm"))
            .select("vid", F.transform("rm", lambda s: s["m"]).alias("nbr_masks"))
        )
        new_state = (
            state.join(nbr, state.id == nbr.vid, "left")
            .select(
                "id",
                F.when(
                    F.col("nbr_masks").isNotNull(),
                    F.zip_with("masks", "nbr_masks", lambda a, b: a.bitwiseOR(b)),
                ).otherwise(F.col("masks")).alias("masks"),
            )
        )
        # the hop estimate rides the hop's own materialization job as
        # an observe accumulator — zero extra |V| x R scans per hop
        # (the same fusion discipline as run_gas's convergence ballot)
        obs = Observation()
        new_state = new_state.observe(
            obs, F.expr(f"sum({_fm_est_expr(r)})").alias("est")
        )
        new_state = new_state.localCheckpoint(eager=True)
        state.unpersist()
        state = new_state
        est = float(obs.get["est"] or 0.0)
        if verbose:
            print(f"[diameter] hop={hop} est={est:.1f}")
        history.append(est)
        hops = hop
        prev = history[-2]
        if prev > 0 and (est - prev) / prev <= tol:
            hops = hop - 1
            break
    state.unpersist()
    return hops, history

"""SVD++ matrix factorization (biases + item implicit-feedback
weights) on the GAS runtime.

Reference: /root/reference/toolkits/collaborative_filtering/svdpp.cpp
- vertex data: latent pvec, implicit-weight vector, scalar bias
  (:76-79); same bipartite ratings graph as ALS.
- GLOBAL_MEAN = mean TRAIN rating (map_reduce_edges :644-648, :766).
- two-phase vertex program (:250-376):
  PHASE1 — each user gathers the SUM of its neighbors' item weight
  vectors over ALL its edges and rescales by
  usrNorm = 1/sqrt(num_out_edges) (:278-280, :352-357):
      w_u = usrNorm * sum_j y_j
  PHASE2 — per TRAIN edge (:283-321):
      pred  = clip(GM + b_u + b_i + p_u . (q_i + y_i), MINVAL, MAXVAL)
      err   = obs - pred
      db_u  = usrBiasStep * err          (the *Reg terms multiply the
      db_i  = itmBiasStep * err           local accumulator, which is
                                          zero at that point :297-298)
      dp_u  = usrFctrStep * err * (q_i - usrFctrReg * p_u)   (:300)
      dq_i  = itmFctrStep * (err * (p_u + w_u) - itmFctrReg * q_i)
      dy_i  = itmFctr2Step * (usrNorm * err * q_i
                              - itmFctr2Reg * y_i)           (:305-308)
  summed per endpoint and applied additively (:346-376).
- all five step sizes default 1e-4 (:45-54) and decay by
  STEP_DEC = 0.9 after every full iteration (:451-455, :629).

BSP determinization: the reference applies gather-side deltas through
async signals in edge-visit order; the BSP contract sums every
per-edge delta over ALL train edges per phase and applies both sides
simultaneously (Jacobi) — deterministic and parallelism-invariant,
the same determinization sgd() uses. One iteration = PHASE1 (one
scatter join + element-wise aggregation of y over each user's edges)
+ PHASE2 (one scatter join of (p,w,b) x (q,y,b) onto the train edges,
pure-JVM delta expressions, element-wise per-endpoint aggregation).
Only (id, k-vector) rows shuffle; the edge table never re-partitions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import GASResult, run_gas
from ..graph import Graph
from .als import SAFE_NEG_OFFSET, _hash_init_expr


def _dot(a: str | Column, b: str | Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _vec_sum(df: DataFrame, key: str, arr_col: str) -> DataFrame:
    """(id, vsum array<double>): element-wise sum of array rows per
    key — posexplode partial agg, P*|keys|*k shuffle rows."""
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


@dataclass
class SVDPPResult:
    user_factors: DataFrame  # (id, factor, weight, bias) — user ids
    item_factors: DataFrame  # (id, factor, weight, bias) — item ids
    global_mean: float
    gas: GASResult


def svdpp(
    graph: Graph,
    k: int = 20,
    bias_step: float = 1e-4,
    bias_reg: float = 1e-4,
    factor_step: float = 1e-4,
    factor_reg: float = 1e-4,
    weight_step: float = 1e-4,
    weight_reg: float = 1e-4,
    step_dec: float = 0.9,
    minval: float = -1e100,
    maxval: float = 1e100,
    max_iterations: int = 5,
    init_expr: str | None = None,
    weight_init_expr: str | None = None,
    verbose: bool = False,
) -> SVDPPResult:
    """Run SVD++ on a ratings_graph. ``max_iterations`` counts FULL
    iterations (PHASE1 + PHASE2 = 2 supersteps each). The reference
    exposes user/item step sizes separately but defaults them all to
    1e-4 (svdpp.cpp:45-54); this surface mirrors the defaults and
    keeps one knob per (bias, factor, weight) group."""
    P = graph.num_partitions
    edges = graph.edges.select("src", "dst", "rating", "role").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges.count()

    gm_row = edges.agg(
        F.avg(F.when(F.col("role") == "train", F.col("rating")))
        .alias("gm")
    ).first()
    gm = float(gm_row["gm"] or 0.0)

    # usrNorm uses the user's FULL edge count (num_out_edges,
    # svdpp.cpp:306,355) — not just train edges.
    udeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))

    # the phase-2 joined-delta table feeds five aggregations inside one
    # materialization job; persist it for the job and release it on the
    # NEXT superstep (its consumer has materialized by then)
    prev_j: list = [None]

    init = graph.vertices.selectExpr(
        "id",
        f"({init_expr or _hash_init_expr(k)}) AS factor",
        f"({weight_init_expr or _hash_init_expr(k)}) AS weight",
        "CAST(0.0 AS DOUBLE) AS bias",
        "id >= 0 AS is_user",
    ).repartition(P, "id")

    def step(g: Graph, state: DataFrame, i: int):
        it = i // 2                      # full-iteration index
        phase1 = i % 2 == 0
        dec = step_dec ** it             # svdpp.cpp:451-455
        bs, fs, ws = bias_step * dec, factor_step * dec, weight_step * dec

        if phase1:
            # w_u = (1/sqrt(deg_u)) * sum over ALL edges of item weight
            iw = state.filter("NOT is_user").selectExpr(
                "id AS dst", "weight AS _yw"
            )
            ws_sum = _vec_sum(
                edges.join(iw.hint("shuffle_hash"), "dst")
                .select("src", "_yw"),
                "src", "_yw",
            ).join(udeg.withColumnRenamed("src", "id"), "id")
            new_w = ws_sum.select(
                "id",
                F.transform(
                    "vsum", lambda x: x / F.sqrt(F.col("_deg"))
                ).alias("_nw"),
            )
            return (
                state.join(new_w.hint("shuffle_hash"), "id", "left")
                .select(
                    "id", "factor",
                    F.when(
                        F.col("is_user") & F.col("_nw").isNotNull(),
                        F.col("_nw"),
                    ).otherwise(F.col("weight")).alias("weight"),
                    "bias", "is_user",
                )
            )

        # PHASE2: Jacobi sum of the per-train-edge deltas
        uf = state.filter("is_user").selectExpr(
            "id AS src", "factor AS _up", "weight AS _uw", "bias AS _ub"
        )
        itf = state.filter("NOT is_user").selectExpr(
            "id AS dst", "factor AS _ip", "weight AS _iy", "bias AS _ib"
        )
        pred = (
            F.lit(gm) + F.col("_ub") + F.col("_ib")
            + _dot("_up", F.zip_with("_ip", "_iy", lambda a, b: a + b))
        )
        err = F.col("rating") - F.least(
            F.greatest(pred, F.lit(minval)), F.lit(maxval)
        )
        inv_norm = 1.0 / F.sqrt(F.col("_deg"))
        j = (
            edges.filter(F.col("role") == "train")
            .join(uf.hint("shuffle_hash"), "src")
            .join(itf.hint("shuffle_hash"), "dst")
            .join(F.broadcast(udeg), "src")
            .withColumn("_err", err)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if prev_j[0] is not None:
            prev_j[0].unpersist()
        prev_j[0] = j
        dp_u = F.zip_with(
            "_ip", "_up",
            lambda q, p: F.lit(fs)
            * (F.col("_err") * (q - F.lit(factor_reg) * p)),
        )
        dq_i = F.zip_with(
            F.zip_with("_up", "_uw", lambda a, b: a + b), F.col("_ip"),
            lambda pw, q: F.lit(fs)
            * (F.col("_err") * pw - F.lit(factor_reg) * q),
        )
        dy_i = F.zip_with(
            "_ip", "_iy",
            lambda q, y: F.lit(ws)
            * (inv_norm * F.col("_err") * q - F.lit(weight_reg) * y),
        )
        db = F.lit(bs) * F.col("_err")

        u_upd = (
            j.select("src", dp_u.alias("_dp"), db.alias("_db"))
            .groupBy("src")
            .agg(F.sum("_db").alias("dbias"))
            .join(
                _vec_sum(
                    j.select("src", dp_u.alias("_dp")), "src", "_dp"
                ).withColumnRenamed("id", "src"),
                "src",
            )
            .selectExpr("src AS id", "vsum AS dfac",
                        "CAST(NULL AS ARRAY<DOUBLE>) AS dwt", "dbias")
        )
        i_upd = (
            j.select("dst", db.alias("_db"))
            .groupBy("dst")
            .agg(F.sum("_db").alias("dbias"))
            .join(
                _vec_sum(
                    j.select("dst", dq_i.alias("_dq")), "dst", "_dq"
                ).withColumnRenamed("id", "dst").withColumnRenamed(
                    "vsum", "dfac"
                ),
                "dst",
            )
            .join(
                _vec_sum(
                    j.select("dst", dy_i.alias("_dy")), "dst", "_dy"
                ).withColumnRenamed("id", "dst").withColumnRenamed(
                    "vsum", "dwt"
                ),
                "dst",
            )
            .selectExpr("dst AS id", "dfac", "dwt", "dbias")
        )
        upd = u_upd.unionByName(i_upd)
        return (
            state.join(upd.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.when(
                    F.col("dfac").isNotNull(),
                    F.zip_with("factor", "dfac", lambda a, b: a + b),
                ).otherwise(F.col("factor")).alias("factor"),
                F.when(
                    F.col("dwt").isNotNull(),
                    F.zip_with("weight", "dwt", lambda a, b: a + b),
                ).otherwise(F.col("weight")).alias("weight"),
                F.when(
                    F.col("dbias").isNotNull(),
                    F.col("bias") + F.col("dbias"),
                ).otherwise(F.col("bias")).alias("bias"),
                "is_user",
            )
        )

    result = run_gas(
        graph,
        init,
        step,
        observe_aggs=lambda: [F.count(F.lit(1)).alias("active")],
        max_iterations=2 * max_iterations,
        check_interval=2,
        origin_free_checkpoint=True,
        verbose=verbose,
    )
    if prev_j[0] is not None:
        prev_j[0].unpersist()
    state = result.state
    users = state.filter("is_user").select("id", "factor", "weight", "bias")
    items = state.filter("NOT is_user").select(
        (-F.col("id") - F.lit(SAFE_NEG_OFFSET)).alias("id"),
        "factor", "weight", "bias",
    )
    edges.unpersist()
    return SVDPPResult(
        user_factors=users, item_factors=items, global_mean=gm, gas=result
    )


def svdpp_predict(
    result: SVDPPResult,
    pairs: DataFrame,
    minval: float = -1e100,
    maxval: float = 1e100,
    user_col: str = "user",
    item_col: str = "item",
) -> DataFrame:
    """(user, item, prediction): GM + b_u + b_i + p_u . (q_i + y_i)
    clipped — the reference's prediction rule (svdpp.cpp:283-287)."""
    pred = (
        F.lit(result.global_mean) + F.col("_ub") + F.col("_ib")
        + _dot("_up", F.zip_with("_ip", "_iy", lambda a, b: a + b))
    )
    return (
        pairs.select(F.col(user_col).alias("user"),
                     F.col(item_col).alias("item"))
        .join(
            result.user_factors.selectExpr(
                "id AS user", "factor AS _up", "bias AS _ub"
            ),
            "user",
        )
        .join(
            result.item_factors.selectExpr(
                "id AS item", "factor AS _ip", "weight AS _iy",
                "bias AS _ib",
            ),
            "item",
        )
        .select(
            "user", "item",
            F.least(F.greatest(pred, F.lit(minval)), F.lit(maxval))
            .alias("prediction"),
        )
    )

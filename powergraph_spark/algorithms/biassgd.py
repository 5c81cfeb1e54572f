"""Bias-SGD matrix factorization (global mean + per-vertex biases)
on the GAS runtime.

Reference: /root/reference/toolkits/collaborative_filtering/biassgd.cpp
- same bipartite ratings graph as ALS/SGD; vertex data adds a scalar
  bias (:68-73).
- GLOBAL_MEAN = sum of TRAIN observations / NUM_TRAINING_EDGES
  (map_reduce_edges :664-666).
- per-TRAIN-edge rule (:225-263):
      pred = clip(GLOBAL_MEAN + b_u + b_i + p_u . q_i,
                  MINVAL, MAXVAL)
      err  = pred - obs
      b    += -GAMMA * (err + LAMBDA * b)          (both endpoints)
      p_u  += -GAMMA * (err * q_i + LAMBDA * p_u)
      q_i  += -GAMMA * (err * p_u + LAMBDA * q_i)
- GAMMA *= STEP_DEC after every iteration (:367); defaults
  LAMBDA = 0.001, GAMMA = 0.001, STEP_DEC = 0.9 (:533-538).

BSP determinization (identical to sgd()): the reference applies the
per-edge updates stochastically in edge-visit order; the BSP contract
sums every per-edge delta over ALL train edges per superstep and
applies both sides simultaneously (Jacobi). With err2 = obs - pred:

    b'  = b + gamma * (sum_e err2  -  lambda * n * b)
    p'  = p + gamma * (sum_e err2 * q  -  lambda * n * p)

— deterministic and parallelism-invariant. One superstep is ONE
scatter join (factors + biases onto the rating edges, JVM expressions
end to end), one element-wise factor-gradient aggregation and one
scalar bias-sum aggregation per side; nothing but (id, k-vector,
bias) rows shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import GASResult, run_gas
from ..graph import Graph
from .als import SAFE_NEG_OFFSET, _array_sum, _hash_init_expr, _l1_change


@dataclass
class BiasSGDResult:
    user_factors: DataFrame  # (id, factor, bias) — original user ids
    item_factors: DataFrame  # (id, factor, bias) — original item ids
    global_mean: float
    gas: GASResult


def biassgd(
    graph: Graph,
    k: int = 20,
    gamma: float = 0.001,  # biassgd.cpp:534
    lam: float = 0.001,    # biassgd.cpp:533
    step_dec: float = 0.9,  # biassgd.cpp:538
    minval: float = -1e100,
    maxval: float = 1e100,
    tolerance: float = 1e-6,
    max_iterations: int = 5,
    init_expr: str | None = None,
    with_rmse: bool = True,
    verbose: bool = False,
) -> BiasSGDResult:
    """Run bias-SGD on a ratings_graph. One superstep = one full
    Jacobi pass over the TRAIN edges; gamma decays by ``step_dec``
    after each pass (biassgd.cpp:367). Terminates early when no
    vertex's (factor L1/k + |bias|) change exceeds ``tolerance``.
    """
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

    init = graph.vertices.selectExpr(
        "id",
        f"({init_expr or _hash_init_expr(k)}) AS factor",
        "CAST(0.0 AS DOUBLE) AS bias",  # biassgd.cpp:73 bias(0)
        "id >= 0 AS is_user",
        "CAST(1.0 AS DOUBLE) AS residual",
    ).repartition(P, "id")

    # per-superstep joined table feeds four aggregations; persist for
    # the superstep, release on the next (its consumer materialized)
    prev_j: list = [None]

    def step(g: Graph, state: DataFrame, i: int):
        gi = gamma * (step_dec ** i)
        uf = state.filter("is_user").selectExpr(
            "id AS _u", "factor AS _up", "bias AS _ub"
        )
        itf = state.filter("NOT is_user").selectExpr(
            "id AS _i", "factor AS _ip", "bias AS _ib"
        )
        dot = F.aggregate(
            F.zip_with("_up", "_ip", lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        pred = F.least(
            F.greatest(
                F.lit(gm) + F.col("_ub") + F.col("_ib") + dot,
                F.lit(minval),
            ),
            F.lit(maxval),
        )
        j = (
            edges.filter(F.col("role") == "train")
            .join(uf.hint("shuffle_hash"), F.col("src") == F.col("_u"))
            .join(itf.hint("shuffle_hash"), F.col("dst") == F.col("_i"))
            .withColumn("_err", F.col("rating") - pred)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if prev_j[0] is not None:
            prev_j[0].unpersist()
        prev_j[0] = j

        gu = _array_sum(
            j.select(
                "src",
                F.transform("_ip", lambda x: x * F.col("_err"))
                .alias("c"),
            ), "src", "c",
        ).join(
            j.groupBy("src").agg(F.sum("_err").alias("bsum"))
            .withColumnRenamed("src", "id"),
            "id",
        )
        gv = _array_sum(
            j.select(
                "dst",
                F.transform("_up", lambda x: x * F.col("_err"))
                .alias("c"),
            ), "dst", "c",
        ).join(
            j.groupBy("dst").agg(F.sum("_err").alias("bsum"))
            .withColumnRenamed("dst", "id"),
            "id",
        )
        upd_f = F.when(
            F.col("grad").isNotNull(),
            F.zip_with(
                "factor", "grad",
                lambda f, g2: f + F.lit(gi)
                * (g2 - F.lit(lam) * F.col("n") * f),
            ),
        ).otherwise(F.col("factor"))
        upd_b = F.when(
            F.col("grad").isNotNull(),
            F.col("bias") + F.lit(gi)
            * (F.col("bsum") - F.lit(lam) * F.col("n") * F.col("bias")),
        ).otherwise(F.col("bias"))
        return (
            state.join(gu.unionAll(gv).hint("shuffle_hash"), "id", "left")
            .withColumn("_nf", upd_f)
            .withColumn("_nb", upd_b)
            .select(
                "id",
                F.col("_nf").alias("factor"),
                F.col("_nb").alias("bias"),
                "is_user",
                (
                    _l1_change(F.col("_nf"), F.col("factor"), k)
                    + F.abs(F.col("_nb") - F.col("bias"))
                ).alias("residual"),
            )
        )

    edge_aggregators = None
    if with_rmse:
        p2 = F.aggregate(
            F.zip_with("src_factor", "dst_factor", lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        pc = F.least(
            F.greatest(
                F.lit(gm) + F.col("src_bias") + F.col("dst_bias") + p2,
                F.lit(minval),
            ),
            F.lit(maxval),
        )
        sq = (F.col("rating") - pc) * (F.col("rating") - pc)
        edge_aggregators = {
            "train_sse": [
                F.sum(F.when(F.col("role") == "train", sq)).alias("sse"),
                F.count(F.when(F.col("role") == "train", 1)).alias("n"),
            ],
        }

    result = run_gas(
        graph,
        init,
        step,
        observe_aggs=lambda: [
            F.sum((F.col("residual") > tolerance).cast("long"))
            .alias("active"),
            F.max("residual").alias("metric"),
        ],
        tol=tolerance,
        max_iterations=max_iterations,
        edge_aggregators=edge_aggregators,
        origin_free_checkpoint=True,
        verbose=verbose,
    )
    if prev_j[0] is not None:
        prev_j[0].unpersist()
    state = result.state
    users = state.filter("is_user").select("id", "factor", "bias")
    items = state.filter("NOT is_user").select(
        (-F.col("id") - F.lit(SAFE_NEG_OFFSET)).alias("id"),
        "factor", "bias",
    )
    edges.unpersist()
    return BiasSGDResult(
        user_factors=users, item_factors=items, global_mean=gm,
        gas=result,
    )


def biassgd_predict(
    result: BiasSGDResult,
    pairs: DataFrame,
    minval: float = -1e100,
    maxval: float = 1e100,
    user_col: str = "user",
    item_col: str = "item",
) -> DataFrame:
    """(user, item, prediction): clip(GM + b_u + b_i + p_u . q_i) —
    the reference's prediction rule (biassgd.cpp:398-403)."""
    dot = F.aggregate(
        F.zip_with("_up", "_ip", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    pred = F.lit(result.global_mean) + F.col("_ub") + F.col("_ib") + dot
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
                "id AS item", "factor AS _ip", "bias AS _ib"
            ),
            "item",
        )
        .select(
            "user", "item",
            F.least(F.greatest(pred, F.lit(minval)), F.lit(maxval))
            .alias("prediction"),
        )
    )

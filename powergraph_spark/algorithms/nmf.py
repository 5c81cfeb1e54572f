"""Non-negative matrix factorization (Lee-Seung multiplicative
updates) on the GAS runtime.

Reference: /root/reference/toolkits/collaborative_filtering/nmf.cpp
- same bipartite ratings graph as ALS (users >= 0, items negated by
  SAFE_NEG_OFFSET, edges carry (weight, role), :340-397).
- gather over TRAIN edges (:209-226): sum of
  other.pvec * (weight / prediction) with prediction = clip(dot,
  MINVAL, MAXVAL); a zero prediction is a hard error (:217-219).
- apply (:228-241): pvec[i] *= sum.pvec[i] / px->pvec[i], clamped
  below at epsilon = 1e-16 (:43, :235-236); skipped entirely when the
  vertex factor sums to zero (:231).
- px is the GLOBAL elementwise sum of the OTHER side's factors,
  map_reduced before each half-iteration (pre_iter :258-264, driver
  loop :517-537: x1 over the item side before the user update, x2
  over the user side before the item update).
- fixed iteration count (MAX_UPDATES), no convergence test (:517).

Spark mapping (100 TB shape): a half-iteration is ONE scatter join of
both endpoint factors onto the TRAIN edges (JVM expressions end to
end: dot, clip, ratio), an element-wise gradient aggregation by the
updating vertex (posexplode partial agg — P*|keys|*k rows shuffle,
never the edge table), and the multiplicative apply against the
global sum folded in as a k-element CONSTANT array (one agg job per
half-step, kilobytes of driver state — same discipline as kmeans
centers / svd Gram). Only (id, k-vector) rows ever shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import run_gas
from ..graph import Graph
from .als import ALSResult, SAFE_NEG_OFFSET, _array_sum

EPSILON = 1e-16  # nmf.cpp:43


def _pos_hash_init_expr(k: int) -> str:
    """Strictly-positive deterministic stand-in for the reference's
    setRandom() (multiplicative updates preserve sign, so NMF needs a
    positive start): per-(id, j) hash scaled into (0, 1]."""
    return (
        f"transform(sequence(0, {k - 1}), "
        "j -> (CAST(abs(xxhash64(id, j)) % 1000000 AS DOUBLE) + 1.0) "
        "/ 1000001.0)"
    )


def nmf(
    graph: Graph,
    k: int = 20,
    minval: float = -1e100,
    maxval: float = 1e100,
    max_iterations: int = 10,
    init_expr: str | None = None,
    with_rmse: bool = True,
    verbose: bool = False,
) -> ALSResult:
    """Run NMF on a ratings_graph (als.ratings_graph). One full
    iteration = user update then item update (2 supersteps), exactly
    the reference driver alternation (nmf.cpp:517-537). Runs the fixed
    iteration count — the reference has no convergence test.

    ``init_expr``: SQL expression over ``id`` producing the initial
    array<double> factor; MUST be positive for the multiplicative
    update to be meaningful (default: positive hash init).
    """
    P = graph.num_partitions
    edges = graph.edges.select("src", "dst", "rating", "role").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges.count()

    init = graph.vertices.selectExpr(
        "id",
        f"({init_expr or _pos_hash_init_expr(k)}) AS factor",
        "id >= 0 AS is_user",
    ).repartition(P, "id")

    def step(g: Graph, state: DataFrame, i: int):
        user_turn = i % 2 == 0
        side, other = ("src", "dst") if user_turn else ("dst", "src")
        # px: GLOBAL element-wise sum of the OTHER side's factors
        # (pre_iter map_reduce, nmf.cpp:519/529) — one agg job, k
        # doubles of driver state, folded back in as a constant.
        px_row = (
            state.filter(F.col("is_user") != user_turn)
            .select(F.posexplode("factor").alias("pos", "val"))
            .groupBy("pos").agg(F.sum("val").alias("s"))
            .orderBy("pos").collect()
        )
        px = [float(r["s"]) for r in px_row]
        if len(px) != k or any(x == 0.0 for x in px):
            raise ValueError(
                "NMF global factor sum has a zero component "
                "(nmf.cpp:234 ASSERT_NE)"
            )
        px_col = F.array(*[F.lit(x) for x in px])

        mine = state.filter(F.col("is_user") == user_turn).selectExpr(
            f"id AS {side}", "factor AS _mf"
        )
        theirs = state.filter(F.col("is_user") != user_turn).selectExpr(
            f"id AS {other}", "factor AS _of"
        )
        dot = F.aggregate(
            F.zip_with("_mf", "_of", lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        pred = F.least(F.greatest(dot, F.lit(minval)), F.lit(maxval))
        contrib = (
            edges.filter(F.col("role") == "train")
            .join(mine.hint("shuffle_hash"), side)
            .join(theirs.hint("shuffle_hash"), other)
            .select(
                F.col(side).alias("vid"),
                F.transform(
                    "_of", lambda x: x * (F.col("rating") / pred)
                ).alias("c"),
            )
        )
        grad = _array_sum(contrib, "vid", "c").select("id", "grad")
        # apply: f[i] *= g[i] / px[i], clamp below at epsilon
        # (nmf.cpp:231-237); no-op when the factor sums to zero; a
        # vertex with no TRAIN edge gathers the zero vector.
        fsum = F.aggregate("factor", F.lit(0.0), lambda a, x: a + x)
        gz = F.coalesce(
            F.col("grad"),
            F.transform("factor", lambda _: F.lit(0.0)),
        )
        upd = F.when(
            fsum == 0.0, F.col("factor")
        ).otherwise(
            F.zip_with(
                F.col("factor"),
                F.zip_with(gz, px_col, lambda g, x: g / x),
                lambda f, r: F.greatest(f * r, F.lit(EPSILON)),
            )
        )
        return (
            state.join(grad.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.when(F.col("is_user") == user_turn, upd)
                .otherwise(F.col("factor")).alias("factor"),
                "is_user",
            )
        )

    edge_aggregators = None
    if with_rmse:
        p2 = F.aggregate(
            F.zip_with("src_factor", "dst_factor", lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        pc = F.least(F.greatest(p2, F.lit(minval)), F.lit(maxval))
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
            F.count(F.lit(1)).alias("active"),  # fixed-iteration run
        ],
        max_iterations=2 * max_iterations,
        check_interval=2,
        edge_aggregators=edge_aggregators,
        origin_free_checkpoint=True,
        verbose=verbose,
    )
    state = result.state
    users = state.filter("is_user").select("id", "factor")
    items = state.filter("NOT is_user").select(
        (-F.col("id") - F.lit(SAFE_NEG_OFFSET)).alias("id"), "factor"
    )
    edges.unpersist()
    return ALSResult(user_factors=users, item_factors=items, gas=result)

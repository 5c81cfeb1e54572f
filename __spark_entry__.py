"""Driver contract for the spark-graft builder (PySpark target).

Queries run the engine's operators (SURVEY.md §2) over the driver's
testdata tables; each has an ANSI-SQL oracle for DuckDB. The graph
under test is the deterministic part co-occurrence graph derived from
`lineitem` (parts appearing in the same order, oriented low->high),
plus a directed customer->supplier graph for directed ops.

Float-valued results are rounded (5dp) on BOTH sides so value-hash
comparison is robust to summation order.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from powergraph_spark.algorithms import (  # noqa: E402
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from powergraph_spark.datapipe import (  # noqa: E402
    brute_force_topk,
    exact_dup_groups,
    minhash_lsh_candidates,
    simhash,
    text_stats,
)
from powergraph_spark.datapipe.text import (  # noqa: E402
    doc_fingerprint,
    quality_score,
    token_count,
)
from powergraph_spark.graph import Graph  # noqa: E402

# ----------------------------------------------------------------- helpers

# The co-occurrence edge set, as SQL (shared by every oracle):
_SQL_EDGES = """
e AS (
  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
  FROM lineitem l1
  JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
),
v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)
"""


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame) -> DataFrame:
    """Input-split starvation guard (optimization guide §2.5, "one huge
    unsplittable file"): the testdata tables are single-file,
    single-ROW-GROUP parquet, so a scan — and every expensive
    expression Catalyst fuses into the scan stage, e.g. minhash's
    32-way md5 partial aggregation — runs as ONE task no matter how
    many cores the cluster has (maxPartitionBytes cannot split inside
    a row group). Repartition right after the read ONLY when the scan
    yields fewer splits than the session's parallelism; on a real
    sharded corpus (thousands of splits) this is a no-op and no extra
    shuffle is paid. Row-order-independent consumers only (all our
    aggregations/joins are)."""
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No .distinct() here: the only consumer is Graph.from_edges, whose
    # finalize already dedups (src, dst) with a dropDuplicates after
    # its src hash — a distinct here would be a second full exchange
    # + hash-agg of the pair set for nothing (r6 opt, guide §2.4).
    l1 = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l2 = l1.withColumnRenamed("l_partkey", "p2")
    return (
        l1.join(l2, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("p2"))
        .select(F.col("l_partkey").alias("src"), F.col("p2").alias("dst"))
    )


# Session-scoped graph cache: the co-occurrence graph is an immutable
# function of the input tables, and every graph query starts from it —
# a deployment ingests once and runs many queries against the persisted
# vertex-cut layout, so the contract queries share it the same way.
# (Per-query results are unchanged; only repeated ingest work is
# elided. First use still pays the full build.)
_GRAPH_CACHE: dict[tuple, Graph] = {}


def _co_graph(spark: SparkSession, sf_dir: str, P: int = 16) -> Graph:
    key = ("co", sf_dir, P)
    if key not in _GRAPH_CACHE:
        _GRAPH_CACHE[key] = Graph.from_edges(
            _co_edges(spark, sf_dir), num_partitions=P
        )
    return _GRAPH_CACHE[key]


# Directed part graph: l_linenumber ordering within an order gives a
# genuinely directed edge set (reciprocals occur across orders) for
# the directed-triangle census.
_SQL_DIR_EDGES = """
ed AS MATERIALIZED (
  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
  FROM lineitem l1
  JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey
   AND l1.l_linenumber < l2.l_linenumber
   AND l1.l_partkey <> l2.l_partkey
),
vd AS (SELECT src AS id FROM ed UNION SELECT dst AS id FROM ed)
"""


def _dir_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    l2 = li.withColumnRenamed("l_partkey", "p2").withColumnRenamed(
        "l_linenumber", "n2"
    )
    return (
        li.join(l2, "l_orderkey")
        .filter(
            (F.col("l_linenumber") < F.col("n2"))
            & (F.col("l_partkey") != F.col("p2"))
        )
        .select(F.col("l_partkey").alias("src"), F.col("p2").alias("dst"))
    )


def _dir_graph(spark: SparkSession, sf_dir: str, P: int = 16) -> Graph:
    key = ("dir", sf_dir, P)
    if key not in _GRAPH_CACHE:
        _GRAPH_CACHE[key] = Graph.from_edges(
            _dir_edges(spark, sf_dir), num_partitions=P
        )
    return _GRAPH_CACHE[key]


# ----------------------------------------------------------------- queries


def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree accessors (distributed_graph.hpp:725-794): per-vertex
    in/out degree of the co-occurrence graph."""
    g = _co_graph(spark, sf_dir)
    return g.degrees().select("id", "in_deg", "out_deg").orderBy("id")


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_reduce_vertices-style aggregation: degree -> vertex count."""
    g = _co_graph(spark, sf_dir)
    return (
        g.degrees()
        .select((F.col("in_deg") + F.col("out_deg")).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("degree")
    )


def q_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 fixed supersteps, reference update rule
    (pagerank.cpp:99-106), rounded 5dp."""
    g = _co_graph(spark, sf_dir)
    res = pagerank(g, tol=0.0, max_iterations=3)
    out = res.state.select("id", F.round("rank", 5).alias("rank")).orderBy("id")
    # graph stays persisted: shared via _GRAPH_CACHE across queries
    return out


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit bipartite rating matrix from the TPC-H-ish tables:
    customer x part with mean ordered quantity as the observation."""
    l = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user"),
            F.col("l_partkey").alias("item"),
        )
        .agg(F.avg("l_quantity").alias("rating"))
    )


IMPL_PCT = 0.001
IMPL_M = 400
IMPL_N = 150
IMPL_VALUE = 2.5
IMPL_SEED = "imp5"


def q_implicit_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback augmentation (implicit.hpp:40-87): the rating
    table unioned with floor(pct*M*N) md5-deterministic random
    (user, item) observations at a fixed value."""
    from powergraph_spark.algorithms import add_implicit_ratings

    r = _ratings(spark, sf_dir).selectExpr(
        "user AS usr", "item AS itm", "rating"
    )
    aug = add_implicit_ratings(
        r,
        IMPL_M,
        IMPL_N,
        IMPL_PCT,
        value=IMPL_VALUE,
        seed=IMPL_SEED,
        user_col="usr",
        item_col="itm",
        rating_col="rating",
    )
    return aug.selectExpr(
        "usr", "itm", "round(rating, 5) AS rating"
    ).orderBy("usr", "itm", "rating")


def q_als_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS on the GAS runtime (als.cpp:296-330), k=1 instantiation —
    the scalar normal equation w = sum(f*r) / (lambda*n + sum(f^2)) IS
    SQL-expressible, so the SAME generic kernel that runs k=20 is
    hash-checked against a DuckDB unroll of 2 full alternations.
    Portable deterministic init (no hash): ((abs(id) % 97) + 1) / 98."""
    from powergraph_spark.algorithms.als import als, ratings_graph

    g = ratings_graph(_ratings(spark, sf_dir), num_partitions=16)
    res = als(
        g, k=1, lam=0.1, regnormal=True, tolerance=1e-15,
        max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        with_rmse=False,
    )
    out = res.user_factors.selectExpr(
        "'u' AS kind", "id", "round(factor[0], 5) AS f"
    ).unionAll(
        res.item_factors.selectExpr(
            "'i' AS kind", "id", "round(factor[0], 5) AS f"
        )
    )
    return out.orderBy("kind", "id")


def q_sgd_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-GD SGD factorization (sgd.cpp rule, BSP-determinized),
    k=1 instantiation: two full-batch supersteps of the scalar rule
    u' = u + g*(sum err*i - l*n_u*u) unroll directly to SQL."""
    from powergraph_spark.algorithms import sgd
    from powergraph_spark.algorithms.als import ratings_graph

    g = ratings_graph(_ratings(spark, sf_dir), num_partitions=16)
    res = sgd(
        g, k=1, gamma=0.01, lam=0.1, tolerance=1e-15, max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        with_rmse=False,
    )
    out = res.user_factors.selectExpr(
        "'u' AS kind", "id", "round(factor[0], 5) AS f"
    ).unionAll(
        res.item_factors.selectExpr(
            "'i' AS kind", "id", "round(factor[0], 5) AS f"
        )
    )
    return out.orderBy("kind", "id")


def q_svd_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated SVD (svd.cpp Lanczos analog), k=1 instantiation: two
    alternating normalized power steps unroll to SQL (norms carry the
    engine's 1e-12 Cholesky ridge). Rows: per-vertex singular-vector
    components plus the ('s', 0, sigma) singular-value row."""
    from powergraph_spark.algorithms import svd
    from powergraph_spark.algorithms.als import ratings_graph

    g = ratings_graph(_ratings(spark, sf_dir), num_partitions=16)
    res = svd(
        g, k=1, iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
    )
    u = res.user_vectors.selectExpr(
        "'u' AS kind", "id", "round(arr[0], 5) AS f"
    )
    i = res.item_vectors.selectExpr(
        "'i' AS kind", "id", "round(arr[0], 5) AS f"
    )
    s = spark.createDataFrame(
        [("s", 0, round(res.singular_values[0], 5))],
        "kind string, id long, f double",
    )
    return u.unionByName(i).unionByName(s).orderBy("kind", "id")


def q_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 unseen-part recommendations per customer from the k=1 ALS
    factors — deterministic (score desc, item asc tie-break), so the
    full recommend path is oracle-checked end to end."""
    from powergraph_spark.algorithms.als import (
        als,
        ratings_graph,
        recommend_topk,
    )

    ratings = _ratings(spark, sf_dir)
    g = ratings_graph(ratings, num_partitions=16)
    res = als(
        g, k=1, lam=0.1, regnormal=True, tolerance=1e-15,
        max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        with_rmse=False,
    )
    top = recommend_topk(
        res.user_factors, res.item_factors, topk=3,
        exclude=ratings.select("user", "item"),
    )
    # cap the checked surface: first 50 users keeps the oracle cross
    # join tiny at any sf
    return top.filter(F.col("user") < 50).orderBy("user", "rank")


def q_recommend_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed recommend (recommend_topk_ann) at FULL probe
    (nprobe == n_cells): the routing path — centroid bucketing, probe
    explosion, cell join, dedup, window — must reproduce the exact
    cross-product recommend bit-for-bit, so it shares the `recommend`
    oracle. The scale win (nprobe < n_cells) is recall-tested in
    pytest (test_recommend_ann_partial_probe_recall)."""
    from powergraph_spark.algorithms.als import (
        als,
        ratings_graph,
        recommend_topk_ann,
    )

    ratings = _ratings(spark, sf_dir)
    g = ratings_graph(ratings, num_partitions=16)
    res = als(
        g, k=1, lam=0.1, regnormal=True, tolerance=1e-15,
        max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        with_rmse=False,
    )
    top = recommend_topk_ann(
        res.user_factors, res.item_factors, topk=3, n_cells=4,
        nprobe=4, exclude=ratings.select("user", "item"),
    )
    return top.filter(F.col("user") < 50).orderBy("user", "rank")


KMEANS_K = 4
KMEANS_ROUNDS = 3


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embeddings table (kmeans.cpp Lloyd loop),
    deterministic farthest-point init, 3 fixed rounds — per-point
    cluster assignment and squared distance, hash-checked against a
    fully unrolled DuckDB oracle."""
    from powergraph_spark.algorithms import kmeans

    emb = _load(spark, sf_dir, "embeddings")
    # init pinned: the DuckDB oracle unrolls the serial farthest-point
    # variant (the default k-means|| init is the scale path, pytest-
    # covered by test_kmeans.py::test_parallel_init_*)
    res = kmeans(emb, k=KMEANS_K, fixed_iterations=KMEANS_ROUNDS,
                 init="farthest")
    return res.assignments.select(
        F.col("id").alias("vec_id"),
        "cluster",
        F.round("sqdist", 5).alias("sqdist"),
    ).orderBy("vec_id")


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (datapipe/semdedup.py): k-means-route
    the embeddings, then within each cluster drop any point dominated
    by a near-duplicate (cosine >= 0.3) closer to the shared centroid.
    Init pinned to the serial farthest-point variant the oracle
    unrolls; the k-means|| init is the pytest-covered scale path."""
    from powergraph_spark.datapipe.semdedup import semantic_dedup

    emb = _load(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, k=KMEANS_K, threshold=SEMDEDUP_THRESHOLD,
        kmeans_rounds=KMEANS_ROUNDS, init="farthest",
    )
    return out.select(
        F.col("id").alias("vec_id"),
        "cluster",
        F.round("sqdist", 5).alias("sqdist"),
        "keep",
    ).orderBy("vec_id")


DSIR_DIM = 64
DSIR_N = 60


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (datapipe/dsir.py): target = the
    corpus's English documents, raw = the whole corpus; hashed-unigram
    log-ratio scores, Gumbel-top-60 selection on md5 draws."""
    from powergraph_spark.datapipe.dsir import importance_resample

    docs = _load(spark, sf_dir, "documents")
    sel = importance_resample(
        docs, docs.filter(F.col("lang") == "en"),
        n=DSIR_N, dim=DSIR_DIM, seed="drv",
    )
    return sel.select(
        "doc_id",
        F.round("iw_score", 5).alias("iw_score"),
        F.round("gumbel_key", 5).alias("gkey"),
    ).orderBy("doc_id")


BPE_MERGES = 3


def q_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (datapipe/bpe.py): 3 merges learned over the
    documents word-frequency table — rank, fused pair, pair count."""
    from powergraph_spark.datapipe.bpe import bpe_train

    docs = _load(spark, sf_dir, "documents")
    res = bpe_train(docs, n_merges=BPE_MERGES)
    rows = [
        (r + 1, a, b, c) for r, (a, b, c) in enumerate(res.merges)
    ]
    return spark.createDataFrame(
        rows, "rank INT, left STRING, right STRING, freq BIGINT"
    ).orderBy("rank")


PPL_CUTS = (-3.42, -3.39)
HLL_B = 10
STRAT_N = 20


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing on the bigram-LM signal
    (datapipe.text.ppl_buckets) with fixed offline-fit cutoffs."""
    from powergraph_spark.datapipe import ppl_buckets

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return ppl_buckets(docs, cutoffs=PPL_CUTS).orderBy("doc_id")


def q_hll_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL distinct-word estimate per language
    (datapipe/sketch.py) — md5 registers, replayed register-for-
    register by the oracle."""
    from powergraph_spark.datapipe import hll_distinct
    from powergraph_spark.datapipe.text import tokens

    docs = _load(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(
            F.transform(tokens(F.col("text")), lambda t: F.lower(t))
        ).alias("w"),
    )
    return hll_distinct(words, ["lang"], "w", b=HLL_B).orderBy("lang")


def q_strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n-per-stratum deterministic bottom-k sampling
    (datapipe.clean.stratified_sample): 20 docs per language by
    smallest md5 draw."""
    from powergraph_spark.datapipe import stratified_sample

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    out = stratified_sample(docs, "lang", n_per=STRAT_N, seed="drv")
    return out.select(
        "doc_id", "lang", F.round("u", 5).alias("u")
    ).orderBy("doc_id")


MIX_WEIGHTS = {"en": 0.6, "fr": 0.25, "zh": 0.15}
MIX_N = 40
BLOCKED = ["s1.example.com", "s3.example.com"]


def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture selection (datapipe.clean.mixture_sample):
    largest-remainder quotas of 40 slots over {en:.6, fr:.25, zh:.15}
    filled by bottom-k md5 draws; es/de strata get zero."""
    from powergraph_spark.datapipe import mixture_sample

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    out = mixture_sample(docs, MIX_WEIGHTS, n=MIX_N, seed="drv")
    return out.select(
        "doc_id", "lang", F.round("u", 5).alias("u")
    ).orderBy("doc_id")


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host blocklist filtering (webtext.urls.blocklist_filter):
    synthetic per-doc URLs over 7 hosts, two hosts blocked with
    subdomain semantics; survivors returned."""
    from powergraph_spark.webtext.urls import blocklist_filter

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    withurl = docs.withColumn(
        "url",
        F.concat(
            F.lit("http://"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("sub.")).otherwise(
                F.lit("")
            ),
            F.lit("s"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            (F.col("doc_id") % 13).cast("string"),
        ),
    )
    return blocklist_filter(withurl, BLOCKED, url_col="url").orderBy(
        "doc_id"
    )


def q_sppmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-corpus SPPMI entries (algorithms/embeddings.py): the
    NetMF/Levy-Goldberg matrix the node-embedding SVD factorizes —
    window-2 co-occurrence over the deterministic length-3 walks,
    shifted positive PMI. (The downstream factorization is the
    already-oracled svd machinery; the end-to-end composition is
    pytest-covered in test_embeddings.py.)"""
    from powergraph_spark.algorithms import random_walks, sppmi
    from powergraph_spark.algorithms.embeddings import walk_cooccurrence

    g = _co_graph(spark, sf_dir, P=16)
    wk = random_walks(g, walks_per_vertex=1, length=WALK_LEN)
    m = sppmi(walk_cooccurrence(wk.walks, window=2))
    return m.select(
        F.col("a").alias("i"),
        F.col("b").alias("j"),
        F.round("val", 5).alias("val"),
    ).orderBy("i", "j")


def q_image_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (datapipe/multimodal.py image_near_dups):
    the media corpus is synthesized twice with the same seed (copy ids
    shifted +10000), so every image has an exact twin; pairs by aHash
    Hamming <= 2 over real netpbm decodes. Binary decode is not
    SQL-expressible, so this query has NO oracle_sql twin (rows-only
    driver check; exactness is pytest-covered against an independent
    python aHash replica in test_multimodal_dedup.py)."""
    from powergraph_spark.datapipe.multimodal import (
        image_near_dups,
        synthesize_media,
    )

    m1 = synthesize_media(spark, 120, seed=7)
    m2 = synthesize_media(spark, 120, seed=7).withColumn(
        "media_id", F.col("media_id") + 10000
    )
    return image_near_dups(
        m1.unionAll(m2), max_hamming=2
    ).orderBy("id_a", "id_b")


def _kmeans_cte_parts(k: int, rounds: int) -> list[str]:
    """Shared unrolled-Lloyd CTE chain (same ||v-c||^2 composition
    (dot(v,v) - 2 dot(v,c) + dot(c,c)), same farthest-point init with
    min-id tie-break, same lowest-cluster-index assignment tie-break,
    same keep-old-center-on-empty rule as algorithms.kmeans). Ends
    with ``fin`` = the final per-point assignment (id, cluster, d);
    used by both the kmeans and semdedup oracles."""

    def sq(a, b):
        return (
            f"(list_dot_product({a},{a}) - 2*list_dot_product({a},{b})"
            f" + list_dot_product({b},{b}))"
        )

    parts = [
        "pts AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] "
        "AS v FROM embeddings)",
        "c0 AS MATERIALIZED (SELECT 0 AS cluster, v FROM pts "
        "ORDER BY id LIMIT 1)",
        f"b0 AS MATERIALIZED (SELECT p.id, p.v, {sq('p.v', 'c.v')} AS d "
        "FROM pts p, c0 c)",
    ]
    for j in range(1, k):
        parts.append(
            f"c{j} AS MATERIALIZED (SELECT {j} AS cluster, v FROM b{j-1} "
            "ORDER BY d DESC, id ASC LIMIT 1)"
        )
        if j < k - 1:
            parts.append(
                f"b{j} AS MATERIALIZED (SELECT p.id, p.v, "
                f"LEAST(p.d, {sq('p.v', 'c.v')}) AS d FROM b{j-1} p, c{j} c)"
            )
    parts.append(
        "cen0 AS MATERIALIZED ("
        + " UNION ALL ".join(f"SELECT * FROM c{j}" for j in range(k))
        + ")"
    )
    for r in range(1, rounds + 1):
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT id, cluster FROM ("
            f"SELECT p.id, c.cluster, {sq('p.v', 'c.v')} AS d, "
            "ROW_NUMBER() OVER (PARTITION BY p.id "
            f"ORDER BY {sq('p.v', 'c.v')} ASC, c.cluster ASC) AS rn "
            f"FROM pts p CROSS JOIN cen{r-1} c) WHERE rn = 1)"
        )
        parts.append(
            f"u{r} AS MATERIALIZED (SELECT cluster, pos, AVG(val) AS m "
            f"FROM (SELECT a.cluster, generate_subscripts(p.v, 1) AS pos, "
            f"unnest(p.v) AS val FROM a{r} a JOIN pts p USING (id)) "
            "GROUP BY cluster, pos)"
        )
        parts.append(
            f"cen{r} AS MATERIALIZED (SELECT c.cluster, "
            "COALESCE(u.v, c.v) AS v "
            f"FROM cen{r-1} c LEFT JOIN (SELECT cluster, "
            f"list(m ORDER BY pos) AS v FROM u{r} GROUP BY cluster) u "
            "USING (cluster))"
        )
    parts.append(
        "fin AS MATERIALIZED (SELECT id, cluster, d FROM ("
        f"SELECT p.id, c.cluster, {sq('p.v', 'c.v')} AS d, "
        "ROW_NUMBER() OVER (PARTITION BY p.id "
        f"ORDER BY {sq('p.v', 'c.v')} ASC, c.cluster ASC) AS rn "
        f"FROM pts p CROSS JOIN cen{rounds} c) WHERE rn = 1)"
    )
    return parts


def _kmeans_oracle_sql(k: int = KMEANS_K,
                       rounds: int = KMEANS_ROUNDS) -> str:
    """Unrolled DuckDB twin of q_kmeans (see _kmeans_cte_parts)."""
    parts = _kmeans_cte_parts(k, rounds)
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT id AS vec_id, cluster, ROUND(d, 5) AS sqdist "
        "FROM fin ORDER BY vec_id"
    )


SEMDEDUP_THRESHOLD = 0.3


def _semdedup_sql(k: int = KMEANS_K, rounds: int = KMEANS_ROUNDS,
                  thr: float = SEMDEDUP_THRESHOLD) -> str:
    """Unrolled DuckDB twin of q_semdedup: the kmeans CTE chain, then
    the cluster-local dominance join — drop x iff a same-cluster y
    with cosine(x,y) >= thr has (d, id) strictly below x's. Cosine is
    the identical composition (dot / (sqrt(dot)*sqrt(dot)), 0 when the
    norm product is not > 0) to datapipe.similarity.cosine."""
    parts = _kmeans_cte_parts(k, rounds)
    cosab = (
        "(CASE WHEN sqrt(list_dot_product(a.v,a.v)) * "
        "sqrt(list_dot_product(b.v,b.v)) > 0 THEN "
        "list_dot_product(a.v,b.v) / "
        "(sqrt(list_dot_product(a.v,a.v)) * "
        "sqrt(list_dot_product(b.v,b.v))) ELSE 0.0 END)"
    )
    parts.append(
        "bse AS MATERIALIZED (SELECT f.id, f.cluster, f.d, p.v "
        "FROM fin f JOIN pts p USING (id))"
    )
    parts.append(
        "dom AS MATERIALIZED (SELECT DISTINCT a.id FROM bse a "
        "JOIN bse b ON a.cluster = b.cluster "
        "AND (b.d < a.d OR (b.d = a.d AND b.id < a.id)) "
        f"AND {cosab} >= {thr!r})"
    )
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT b.id AS vec_id, b.cluster, ROUND(b.d, 5) AS sqdist, "
        "(d.id IS NULL) AS keep "
        "FROM bse b LEFT JOIN dom d USING (id) ORDER BY vec_id"
    )


def q_lda_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsed-Gibbs LDA (cgs_lda.cpp:520-549), k=2 deterministic
    instantiation: (doc, word, occ) occurrence rows from the documents
    table, 2 BSP-determinized Gibbs supersteps with md5-seeded draws
    (each occurrence excludes its own assignment from the counts, the
    reference's decrement), output = per-doc topic counts."""
    from powergraph_spark.algorithms.lda import doc_word_tokens, lda

    docs = _load(spark, sf_dir, "documents")
    toks = doc_word_tokens(docs)
    res = lda(toks, k=2, alpha=0.5, beta=0.5, iterations=2, seed="drv")
    return res.doc_topics.select(
        F.col("doc").alias("doc_id"),
        F.element_at("counts", 1).alias("t0"),
        F.element_at("counts", 2).alias("t1"),
    ).orderBy("doc_id")


def _lda_sql(iters: int = 2, seed: str = "drv") -> str:
    """Unrolled DuckDB twin of q_lda_k2: same tokenizer, same
    md5-uniform draws (first 8 hex nibbles / 16^8), same k=2
    probability arithmetic in the same DOUBLE operation order
    ((n_dt - s + 0.5)·(n_wt - s + 0.5)/(n_t - s + W·β))."""
    hexv = "(strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1)"

    def u(h):
        nib = " + ".join(
            f"{hexv.format(h=h, p=j + 1)} * {16 ** (7 - j)}"
            for j in range(8)
        )
        return f"(CAST(({nib}) AS DOUBLE) / 4294967296.0E0)"

    w = "regexp_replace(lower(raw), '[^a-z]', '', 'g')"
    parts = [
        "docs AS MATERIALIZED (SELECT doc_id AS doc, text FROM documents)",
        f"toksr AS (SELECT doc, unnest({_SQL_TOKS}) AS raw FROM docs)",
        f"pairs AS (SELECT doc, {w} AS word, COUNT(*) AS cnt FROM toksr "
        f"WHERE length({w}) >= 3 GROUP BY 1, 2)",
        "occs AS MATERIALIZED (SELECT doc, word, "
        "unnest(generate_series(1, cnt)) AS occ FROM pairs)",
        "wbv AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE)"
        " * 0.5E0 AS wb FROM occs)",
        f"h0 AS (SELECT doc, word, occ, md5('{seed}:' || 'init:' || "
        "doc::VARCHAR || ':' || word || ':' || occ::VARCHAR) AS h "
        "FROM occs)",
        f"z0 AS MATERIALIZED (SELECT doc, word, occ, "
        f"CAST(FLOOR({u('h')} * 2) AS INT) AS z FROM h0)",
    ]
    for it in range(1, iters + 1):
        p = it - 1
        parts.extend([
            f"dt{it} AS MATERIALIZED (SELECT doc, "
            "CAST(SUM(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0, "
            "CAST(SUM(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1 "
            f"FROM z{p} GROUP BY doc)",
            f"wt{it} AS MATERIALIZED (SELECT word, "
            "CAST(SUM(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS w0, "
            "CAST(SUM(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS w1 "
            f"FROM z{p} GROUP BY word)",
            f"nt{it} AS MATERIALIZED (SELECT "
            "CAST(SUM(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0, "
            "CAST(SUM(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1 "
            f"FROM z{p})",
            f"j{it} AS (SELECT o.doc, o.word, o.occ, "
            "(CASE WHEN o.z = 0 THEN 1 ELSE 0 END) AS s0, "
            "(CASE WHEN o.z = 1 THEN 1 ELSE 0 END) AS s1, "
            "d.d0, d.d1, w.w0, w.w1, n.n0, n.n1, b.wb, "
            f"md5('{seed}:' || '{it}:' || o.doc::VARCHAR || ':' || o.word "
            f"|| ':' || o.occ::VARCHAR) AS h "
            f"FROM z{p} o JOIN dt{it} d USING (doc) "
            f"JOIN wt{it} w USING (word) CROSS JOIN nt{it} n CROSS JOIN "
            "wbv b)",
            f"q{it} AS (SELECT doc, word, occ, {u('h')} AS u, "
            "((d0 - s0 + 0.5E0) * (w0 - s0 + 0.5E0) / (n0 - s0 + wb)) AS p0, "
            "((d1 - s1 + 0.5E0) * (w1 - s1 + 0.5E0) / (n1 - s1 + wb)) AS p1 "
            f"FROM j{it})",
            f"z{it} AS MATERIALIZED (SELECT doc, word, occ, "
            "CAST(CASE WHEN u * (p0 + p1) < p0 THEN 0 ELSE 1 END AS INT) "
            f"AS z FROM q{it})",
        ])
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT doc AS doc_id,
       CAST(SUM(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0,
       CAST(SUM(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1
FROM z{iters} GROUP BY doc ORDER BY doc_id
"""
    )


# portable 2-dim spectral init (the oracle can't evaluate xxhash64)
_SPECTRAL_INIT2 = (
    "array(CAST((abs(id) % 97) + 1 AS DOUBLE) / 98.0E0, "
    "CAST((abs(id) % 89) + 1 AS DOUBLE) / 90.0E0)"
)


def q_spectral2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral clustering (spectral_clustering.cpp workflow:
    normalized Laplacian -> 2 smallest eigenvectors via 4 block power
    steps on I + D^-1/2 W D^-1/2 -> 2 pinned Lloyd rounds), portable
    init; output = (id, cluster, embedding rounded 5dp)."""
    from powergraph_spark.algorithms.spectral import spectral_clustering

    g = _co_graph(spark, sf_dir)
    res = spectral_clustering(
        g, k=2, power_iterations=4, kmeans_rounds=2,
        init_expr=_SPECTRAL_INIT2,
    )
    return res.embedding.join(res.assignments, "id").select(
        "id", "cluster",
        F.round(F.element_at("arr", 1), 5).alias("e0"),
        F.round(F.element_at("arr", 2), 5).alias("e1"),
    ).orderBy("id")


def _spectral_sql(iters: int = 4, rounds: int = 2) -> str:
    """Unrolled DuckDB twin of q_spectral2: same COO mat-vec, the same
    pure-python Cholesky/back-substitution scalar expressions (2x2,
    ridge 1e-12), the same k-means composition as _kmeans_oracle_sql
    on the 2-dim embedding rows."""
    parts = [
        "deg AS MATERIALIZED (SELECT src AS id, "
        "CAST(COUNT(*) AS DOUBLE) AS d FROM und GROUP BY src)",
        # w * (1/sqrt(d_i)) * (1/sqrt(d_j)) in the engine's op order
        "coo AS MATERIALIZED (SELECT u.src AS i, u.dst AS j, "
        "1.0E0 * (1.0E0 / SQRT(da.d)) * (1.0E0 / SQRT(db.d)) AS value "
        "FROM und u JOIN deg da ON da.id = u.src "
        "JOIN deg db ON db.id = u.dst)",
        "x0 AS MATERIALIZED (SELECT id, "
        "CAST((abs(id) % 97) + 1 AS DOUBLE) / 98.0E0 AS x0, "
        "CAST((abs(id) % 89) + 1 AS DOUBLE) / 90.0E0 AS x1 FROM v)",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.extend([
            f"ax{t} AS (SELECT coo.i AS id, SUM(x.x0 * coo.value) AS a0, "
            f"SUM(x.x1 * coo.value) AS a1 "
            f"FROM coo JOIN x{p} x ON x.id = coo.j GROUP BY coo.i)",
            f"y{t} AS MATERIALIZED (SELECT x.id, "
            "(CASE WHEN a.id IS NULL THEN x.x0 ELSE x.x0 + a.a0 END) AS y0, "
            "(CASE WHEN a.id IS NULL THEN x.x1 ELSE x.x1 + a.a1 END) AS y1 "
            f"FROM x{p} x LEFT JOIN ax{t} a ON a.id = x.id)",
            f"g{t} AS (SELECT SUM(y0 * y0) AS g00, SUM(y0 * y1) AS g01, "
            f"SUM(y1 * y1) AS g11 FROM y{t})",
            # _chol_upper + _tri_inv, 2x2, exact scalar op order
            f"r{t} AS (SELECT SQRT(g00 + 1e-12) AS r00, "
            "g01 / SQRT(g00 + 1e-12) AS r01, g11, g01, g00 FROM g{T})"
            .replace("{T}", str(t)),
            f"c{t} AS (SELECT r00, r01, "
            "SQRT(g11 + 1e-12 - r01 * r01) AS r11 FROM r{T})"
            .replace("{T}", str(t)),
            f"iv{t} AS (SELECT 1.0E0 / r00 AS i00, 1.0E0 / r11 AS i11, "
            "-(r01 * (1.0E0 / r11)) / r00 AS i01 FROM c{T})"
            .replace("{T}", str(t)),
            f"x{t} AS MATERIALIZED (SELECT y.id, "
            "(y.y0 * iv.i00 + y.y1 * 0.0E0) AS x0, "
            "(y.y0 * iv.i01 + y.y1 * iv.i11) AS x1 "
            f"FROM y{t} y CROSS JOIN iv{t} iv)",
        ])
    # ---- k-means on the embedding rows (k = 2, pinned rounds) ----
    def sq(a, b):
        return (
            f"(list_dot_product({a},{a}) - 2*list_dot_product({a},{b})"
            f" + list_dot_product({b},{b}))"
        )

    parts.extend([
        f"pts AS MATERIALIZED (SELECT id, [x0, x1]::DOUBLE[] AS vv "
        f"FROM x{iters})",
        "k0 AS MATERIALIZED (SELECT 0 AS cluster, vv FROM pts "
        "ORDER BY id LIMIT 1)",
        f"k1 AS MATERIALIZED (SELECT 1 AS cluster, p.vv FROM pts p, k0 c "
        f"ORDER BY {sq('p.vv', 'c.vv')} DESC, p.id ASC LIMIT 1)",
        "cen0 AS MATERIALIZED (SELECT * FROM k0 UNION ALL SELECT * FROM k1)",
    ])
    for r in range(1, rounds + 1):
        parts.extend([
            f"a{r} AS MATERIALIZED (SELECT id, cluster FROM ("
            f"SELECT p.id, c.cluster, "
            "ROW_NUMBER() OVER (PARTITION BY p.id "
            f"ORDER BY {sq('p.vv', 'c.vv')} ASC, c.cluster ASC) AS rn "
            f"FROM pts p CROSS JOIN cen{r - 1} c) WHERE rn = 1)",
            f"u{r} AS (SELECT cluster, pos, AVG(val) AS m FROM ("
            f"SELECT a.cluster, generate_subscripts(p.vv, 1) AS pos, "
            f"unnest(p.vv) AS val FROM a{r} a JOIN pts p USING (id)) "
            "GROUP BY cluster, pos)",
            f"cen{r} AS MATERIALIZED (SELECT c.cluster, "
            "COALESCE(u.vv, c.vv) AS vv "
            f"FROM cen{r - 1} c LEFT JOIN (SELECT cluster, "
            f"list(m ORDER BY pos) AS vv FROM u{r} GROUP BY cluster) u "
            "USING (cluster))",
        ])
    return (
        f"WITH {_SQL_EDGES_MAT},\n" + ",\n".join(parts) + f"""
SELECT p.id, f.cluster,
       ROUND(p.vv[1], 5) AS e0, ROUND(p.vv[2], 5) AS e1
FROM pts p JOIN (
  SELECT id, cluster FROM (
    SELECT p.id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY p.id
                              ORDER BY {sq('p.vv', 'c.vv')} ASC,
                                       c.cluster ASC) AS rn
    FROM pts p CROSS JOIN cen{rounds} c) WHERE rn = 1
) f USING (id)
ORDER BY p.id
"""
    )


def q_lbp2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loopy BP (lbp_structured_prediction.cpp sum-product w/
    Ising-Potts factors), 2-state instantiation on the shared fixture
    graph: deterministic log priors from id arithmetic, smoothing 2,
    damping 0.1, exactly 3 flooding supersteps — the factored Potts
    convolution + max-normalization unroll to scalar SQL."""
    from powergraph_spark.algorithms.lbp import lbp

    g = _co_graph(spark, sf_dir)
    pots = g.vertices.selectExpr(
        "id",
        "array(-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0) AS potential",
    )
    res = lbp(g, pots, smoothing=2.0, damping=0.1, tolerance=0.0,
              max_iterations=3)
    return res.beliefs.select(
        "id", "label",
        F.round(F.element_at("belief", 1), 5).alias("b0"),
        F.round(F.element_at("belief", 2), 5).alias("b1"),
    ).orderBy("id")


def _lbp_sql(iters: int = 3) -> str:
    """Unrolled DuckDB twin of q_lbp2: directed messages over und,
    per-superstep belief agg + factored convolution + damped mix in
    the engine's exact scalar op order (fac = EXP(-(2.0*1.0)))."""
    parts = [
        "pot AS MATERIALIZED (SELECT id, "
        "-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0 AS p0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0 AS p1 FROM v)",
        "m0 AS MATERIALIZED (SELECT src AS s, dst AS d, "
        "CAST(0.0 AS DOUBLE) AS m0, CAST(0.0 AS DOUBLE) AS m1 FROM und)",
    ]
    fac = "EXP(-(2.0E0 * 1.0E0))"
    for t in range(1, iters + 1):
        p = t - 1
        parts.extend([
            f"inb{t} AS (SELECT d AS vv, SUM(m0) AS i0, SUM(m1) AS i1 "
            f"FROM m{p} GROUP BY d)",
            f"bel{t} AS MATERIALIZED (SELECT id, "
            "br0 - GREATEST(br0, br1) AS b0, "
            "br1 - GREATEST(br0, br1) AS b1 FROM (SELECT pot.id, "
            "CASE WHEN i.vv IS NULL THEN pot.p0 "
            "ELSE pot.p0 + i.i0 END AS br0, "
            "CASE WHEN i.vv IS NULL THEN pot.p1 "
            "ELSE pot.p1 + i.i1 END AS br1 "
            f"FROM pot LEFT JOIN inb{t} i ON i.vv = pot.id))",
            # cavity per directed edge (s,d): bel[s] - m_rev(d->s);
            # factored convolution, normalize, damp 0.1/(1.0-0.1)
            f"m{t} AS MATERIALIZED (SELECT s, d, "
            "CAST(0.1 AS DOUBLE) * om0 "
            "+ (1.0E0 - CAST(0.1 AS DOUBLE)) "
            "* (nr0 - GREATEST(nr0, nr1)) AS m0, "
            "CAST(0.1 AS DOUBLE) * om1 "
            "+ (1.0E0 - CAST(0.1 AS DOUBLE)) "
            "* (nr1 - GREATEST(nr0, nr1)) AS m1 FROM (SELECT e.s, e.d, "
            "e.m0 AS om0, e.m1 AS om1, "
            f"LN({fac} * (EXP(b.b0 - r.m0) + EXP(b.b1 - r.m1)) "
            f"+ (1.0E0 - {fac}) * EXP(b.b0 - r.m0)) AS nr0, "
            f"LN({fac} * (EXP(b.b0 - r.m0) + EXP(b.b1 - r.m1)) "
            f"+ (1.0E0 - {fac}) * EXP(b.b1 - r.m1)) AS nr1 "
            f"FROM m{p} e JOIN m{p} r ON r.s = e.d AND r.d = e.s "
            f"JOIN bel{t} b ON b.id = e.s))",
        ])
    return (
        f"WITH {_SQL_EDGES_MAT},\n" + ",\n".join(parts) + f"""
SELECT b.id,
       CASE WHEN b.b0 >= b.b1 THEN 0 ELSE 1 END AS label,
       ROUND(b.b0, 5) AS b0, ROUND(b.b1, 5) AS b1
FROM (SELECT id,
        br0 - GREATEST(br0, br1) AS b0, br1 - GREATEST(br0, br1) AS b1
      FROM (SELECT pot.id,
        CASE WHEN i.vv IS NULL THEN pot.p0 ELSE pot.p0 + i.i0 END AS br0,
        CASE WHEN i.vv IS NULL THEN pot.p1 ELSE pot.p1 + i.i1 END AS br1
      FROM pot LEFT JOIN (SELECT d AS vv, SUM(m0) AS i0, SUM(m1) AS i1
                          FROM m{iters} GROUP BY d) i
        ON i.vv = pot.id)) b
ORDER BY b.id
"""
    )


def q_dd_map2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-decomposition MAP (dd_grlab.hpp symmetric subgradient
    program), 2-state Potts instantiation on the shared fixture graph:
    deterministic dyadic log priors from id arithmetic, smoothing 2,
    step_size 0.75 (so every s_t = 0.75/(t+2) over 3 iterations —
    0.375/0.25/0.1875 — is exactly representable and all arithmetic is
    association-order-exact, making the unary/factor argmax ballots
    bit-identical between Spark and DuckDB), exactly 3 subgradient
    iterations. Early agreement is a fixpoint (zero subgradient), so
    the fixed-3-iteration SQL replay is exact even if the engine's
    depletion ballot stops it sooner."""
    from powergraph_spark.algorithms.dd import dual_decomposition_map

    g = _co_graph(spark, sf_dir)
    pots = g.vertices.selectExpr(
        "id",
        "array(-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0) AS potential",
    )
    res = dual_decomposition_map(
        g, pots, num_states=2, smoothing=2.0, step_size=0.75,
        max_iterations=3,
    )
    return res.assignments.select(
        "id", "label",
        F.round(F.element_at("belief", 1), 5).alias("b0"),
        F.round(F.element_at("belief", 2), 5).alias("b1"),
    ).orderBy("id")


def _dd_sql(iters: int = 3) -> str:
    """Unrolled DuckDB twin of q_dd_map2: per-iteration multiplier
    sums, unary/factor argmaxes (first index wins ties — the engine's
    array_position on array_max, Eigen maxCoeff in the reference), and
    the +-s_t subgradient update on (ls0, ls1, ld0, ld1) per edge."""
    parts = [
        "pot AS MATERIALIZED (SELECT id, "
        "-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0 AS p0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0 AS p1 FROM v)",
        "lam0 AS MATERIALIZED (SELECT src AS s, dst AS d, "
        "CAST(0.0 AS DOUBLE) AS ls0, CAST(0.0 AS DOUBLE) AS ls1, "
        "CAST(0.0 AS DOUBLE) AS ld0, CAST(0.0 AS DOUBLE) AS ld1 FROM e)",
    ]
    # Potts factor, smoothing 2, weight 1: fpot = (0, -2, -2, 0)
    f00, f01 = "(0.0E0 - ls0 - ld0)", "(-2.0E0 - ls0 - ld1)"
    f10, f11 = "(-2.0E0 - ls1 - ld0)", "(0.0E0 - ls1 - ld1)"
    for t in range(1, iters + 1):
        p = t - 1
        s_t = f"CAST({0.75 / (t + 1)!r} AS DOUBLE)"
        ind = lambda cond: f"(CASE WHEN {cond} THEN 1.0E0 ELSE 0.0E0 END)"  # noqa: E731,E501
        parts.extend([
            f"inb{t} AS (SELECT vv, SUM(l0) AS i0, SUM(l1) AS i1 FROM ("
            f"SELECT s AS vv, ls0 AS l0, ls1 AS l1 FROM lam{p} "
            f"UNION ALL SELECT d, ld0, ld1 FROM lam{p}) GROUP BY vv)",
            f"bel{t} AS MATERIALIZED (SELECT pot.id, "
            "CASE WHEN pot.p0 + i.i0 >= pot.p1 + i.i1 "
            "THEN 0 ELSE 1 END AS x "
            f"FROM pot JOIN inb{t} i ON i.vv = pot.id)",
            f"lam{t} AS MATERIALIZED (SELECT s, d, "
            f"ls0 + {s_t} * ({ind('fidx // 2 = 0')} - {ind('xs = 0')}) "
            "AS ls0, "
            f"ls1 + {s_t} * ({ind('fidx // 2 = 1')} - {ind('xs = 1')}) "
            "AS ls1, "
            f"ld0 + {s_t} * ({ind('fidx % 2 = 0')} - {ind('xd = 0')}) "
            "AS ld0, "
            f"ld1 + {s_t} * ({ind('fidx % 2 = 1')} - {ind('xd = 1')}) "
            "AS ld1 FROM ("
            "SELECT l.s, l.d, l.ls0, l.ls1, l.ld0, l.ld1, "
            "bs.x AS xs, bd.x AS xd, "
            f"CASE WHEN {f00} >= {f01} AND {f00} >= {f10} "
            f"AND {f00} >= {f11} THEN 0 "
            f"WHEN {f01} >= {f10} AND {f01} >= {f11} THEN 1 "
            f"WHEN {f10} >= {f11} THEN 2 ELSE 3 END AS fidx "
            f"FROM lam{p} l JOIN bel{t} bs ON bs.id = l.s "
            f"JOIN bel{t} bd ON bd.id = l.d))",
        ])
    return (
        f"WITH {_SQL_EDGES_MAT},\n" + ",\n".join(parts) + f"""
SELECT id, CASE WHEN b0 >= b1 THEN 0 ELSE 1 END AS label,
       ROUND(b0, 5) AS b0, ROUND(b1, 5) AS b1
FROM (SELECT pot.id,
        pot.p0 + COALESCE(i.i0, 0.0E0) AS b0,
        pot.p1 + COALESCE(i.i1, 0.0E0) AS b1
      FROM pot LEFT JOIN (SELECT vv, SUM(l0) AS i0, SUM(l1) AS i1 FROM (
        SELECT s AS vv, ls0 AS l0, ls1 AS l1 FROM lam{iters}
        UNION ALL SELECT d, ld0, ld1 FROM lam{iters}) GROUP BY vv) i
        ON i.vv = pot.id)
ORDER BY id
"""
    )


def q_dd_proj2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected (Komodakis consensus) dual decomposition
    (dd_vertex_program_projected, dd_grlab.hpp:656-871), same 2-state
    Potts instantiation as dd_map2, exactly 3 even/odd pairs with
    step_size 0.75 (s_t = 0.75/(2t+1) = 0.25/0.15/0.107...). Unlike the
    symmetric program no float crosses an aggregation boundary (votes
    are exact 0/1 sums; every lambda/score is a per-edge local
    expression), so the DuckDB unroll replays the ballots bit-for-bit.
    Early agreement is a fixpoint (votes concentrate on the argmax, so
    the consensus update is zero), making the fixed-3-pair SQL replay
    exact even if the depletion ballot stops the engine sooner."""
    from powergraph_spark.algorithms.dd import dd_map_projected

    g = _co_graph(spark, sf_dir)
    pots = g.vertices.selectExpr(
        "id",
        "array(-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0) AS potential",
    )
    res = dd_map_projected(
        g, pots, num_states=2, smoothing=2.0, step_size=0.75,
        max_iterations=3,
    )
    return res.assignments.select(
        "id", "label",
        F.round(F.element_at("belief", 1), 5).alias("b0"),
        F.round(F.element_at("belief", 2), 5).alias("b1"),
    ).orderBy("id")


def _dd_proj_sql(iters: int = 3) -> str:
    """Unrolled DuckDB twin of q_dd_proj2 with the engine's exact
    expression shapes: factor score fpot[i] + (lam_s + pot_s/deg_s)
    + (lam_d + pot_d/deg_d) (first-index argmax), integer vote counts
    per vertex, consensus update lam += s_t * (votes/deg - onehot).
    The decode is the vote argmax of the LAST factor phase (lam from
    the final pair is computed by the engine but never read), with
    factor-less vertices falling back to their prior argmax."""
    ind = lambda cond: f"(CASE WHEN {cond} THEN 1.0E0 ELSE 0.0E0 END)"  # noqa: E731,E501
    parts = [
        "pot AS MATERIALIZED (SELECT id, "
        "-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0 AS p0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0 AS p1 FROM v)",
        "dg AS MATERIALIZED (SELECT vv, CAST(COUNT(*) AS DOUBLE) AS dg "
        "FROM (SELECT src AS vv FROM e UNION ALL SELECT dst FROM e) "
        "GROUP BY vv)",
        # eps = potential / degree (the reference's edge potentials,
        # dd_main.hpp:343) — same division expression as the engine
        "eps AS MATERIALIZED (SELECT pot.id, dg.dg, "
        "p0 / dg.dg AS e0, p1 / dg.dg AS e1 "
        "FROM pot JOIN dg ON dg.vv = pot.id)",
        "lam0 AS MATERIALIZED (SELECT src AS s, dst AS d, "
        "CAST(0.0 AS DOUBLE) AS ls0, CAST(0.0 AS DOUBLE) AS ls1, "
        "CAST(0.0 AS DOUBLE) AS ld0, CAST(0.0 AS DOUBLE) AS ld1 FROM e)",
    ]
    # Potts factor, smoothing 2, weight 1: fpot = (0, -2, -2, 0);
    # fb[i] = fpot[i] + (lam_s[i//2] + es[i//2]) + (lam_d[i%2] + ed[i%2])
    fb = [
        "0.0E0 + (ls0 + es0) + (ld0 + ed0)",
        "-2.0E0 + (ls0 + es0) + (ld1 + ed1)",
        "-2.0E0 + (ls1 + es1) + (ld0 + ed0)",
        "0.0E0 + (ls1 + es1) + (ld1 + ed1)",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        s_t = f"CAST({0.75 / (2 * p + 3)!r} AS DOUBLE)"
        parts.extend([
            # factor phase (EVEN iteration): local MAP per edge
            f"fp{t} AS MATERIALIZED (SELECT s, d, "
            "ls0, ls1, ld0, ld1, "
            f"CASE WHEN ({fb[0]}) >= ({fb[1]}) AND ({fb[0]}) >= ({fb[2]}) "
            f"AND ({fb[0]}) >= ({fb[3]}) THEN 0 "
            f"WHEN ({fb[1]}) >= ({fb[2]}) AND ({fb[1]}) >= ({fb[3]}) "
            "THEN 1 "
            f"WHEN ({fb[2]}) >= ({fb[3]}) THEN 2 ELSE 3 END AS fidx "
            f"FROM (SELECT l.*, vs.e0 AS es0, vs.e1 AS es1, "
            "vd_.e0 AS ed0, vd_.e1 AS ed1 "
            f"FROM lam{p} l JOIN eps vs ON vs.id = l.s "
            "JOIN eps vd_ ON vd_.id = l.d))",
            # variable phase (ODD iteration): integer vote counts
            f"vo{t} AS MATERIALIZED (SELECT vv, "
            "SUM(c0) AS v0, SUM(c1) AS v1 FROM ("
            f"SELECT s AS vv, {ind('fidx // 2 = 0')} AS c0, "
            f"{ind('fidx // 2 = 1')} AS c1 FROM fp{t} "
            f"UNION ALL SELECT d, {ind('fidx % 2 = 0')}, "
            f"{ind('fidx % 2 = 1')} FROM fp{t}) GROUP BY vv)",
        ])
        if t < iters:  # the final pair's lam is computed but never read
            parts.append(
                f"lam{t} AS MATERIALIZED (SELECT f.s, f.d, "
                f"ls0 + {s_t} * (vs.v0 / dgs.dg - {ind('fidx // 2 = 0')}) "
                "AS ls0, "
                f"ls1 + {s_t} * (vs.v1 / dgs.dg - {ind('fidx // 2 = 1')}) "
                "AS ls1, "
                f"ld0 + {s_t} * (vd_.v0 / dgd.dg - {ind('fidx % 2 = 0')}) "
                "AS ld0, "
                f"ld1 + {s_t} * (vd_.v1 / dgd.dg - {ind('fidx % 2 = 1')}) "
                "AS ld1 "
                f"FROM fp{t} f JOIN vo{t} vs ON vs.vv = f.s "
                f"JOIN vo{t} vd_ ON vd_.vv = f.d "
                "JOIN dg dgs ON dgs.vv = f.s "
                "JOIN dg dgd ON dgd.vv = f.d)"
            )
    return (
        f"WITH {_SQL_EDGES_MAT},\n" + ",\n".join(parts) + f"""
SELECT id, CASE WHEN b0 >= b1 THEN 0 ELSE 1 END AS label,
       ROUND(b0, 5) AS b0, ROUND(b1, 5) AS b1
FROM (SELECT pot.id,
        CASE WHEN vo.vv IS NULL THEN pot.p0 ELSE vo.v0 END AS b0,
        CASE WHEN vo.vv IS NULL THEN pot.p1 ELSE vo.v1 END AS b1
      FROM pot LEFT JOIN vo{iters} vo ON vo.vv = pot.id)
ORDER BY id
"""
    )


def q_mplp2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPLP MAP inference (mplp_denoise.cpp, Globerson & Jaakkola
    coordinate descent, synchronous-engine Jacobi schedule), 2-state
    Potts instantiation on the shared fixture graph with the same
    dyadic priors as dd_map2 and exactly 3 sweeps
    (stop_at_agreement=False — unlike the subgradient programs the
    MPLP update is not zero at agreement, so the replay needs the
    fixed sweep count). Every value in the trajectory is a small
    binary fraction (sums, halvings, and maxima of dyadics), so the
    per-variable message sums are association-order-exact and the
    DuckDB unroll replays bit-for-bit. The decode is the belief at the
    LAST CHECKED iterate (messages after 2 updates)."""
    from powergraph_spark.algorithms.mplp import mplp_map

    g = _co_graph(spark, sf_dir)
    pots = g.vertices.selectExpr(
        "id",
        "array(-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0) AS potential",
    )
    res = mplp_map(
        g, pots, num_states=2, smoothing=2.0, max_iterations=3,
        stop_at_agreement=False,
    )
    return res.assignments.select(
        "id", "label",
        F.round(F.element_at("belief", 1), 5).alias("b0"),
        F.round(F.element_at("belief", 2), 5).alias("b1"),
    ).orderBy("id")


def _mplp_sql(iters: int = 3) -> str:
    """Unrolled DuckDB twin of q_mplp2 with the engine's exact
    expression shapes: per-variable message sums, Jacobi update
    del_s'[a] = -(ts[a] + (ms[a] - del_s[a]))/2
              + max_b(fpot[a*2+b] + (td[b] + (md[b] - del_d[b])))/2
    (GREATEST = array_max over the 2 configs), fpot = (0,-2,-2,0).
    Only iters-1 updates are materialized: the decode reads the
    beliefs at the final sweep's INCOMING messages."""
    parts = [
        "pot AS MATERIALIZED (SELECT id, "
        "-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0 AS p0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0 AS p1 FROM v)",
        "del0 AS MATERIALIZED (SELECT src AS s, dst AS d, "
        "ps.p0 AS ts0, ps.p1 AS ts1, pd.p0 AS td0, pd.p1 AS td1, "
        "CAST(0.0 AS DOUBLE) AS dls0, CAST(0.0 AS DOUBLE) AS dls1, "
        "CAST(0.0 AS DOUBLE) AS dld0, CAST(0.0 AS DOUBLE) AS dld1 "
        "FROM e JOIN pot ps ON ps.id = e.src "
        "JOIN pot pd ON pd.id = e.dst)",
    ]
    lam = {
        "s0": "(ts0 + (mms.i0 - dls0))", "s1": "(ts1 + (mms.i1 - dls1))",
        "d0": "(td0 + (mmd.i0 - dld0))", "d1": "(td1 + (mmd.i1 - dld1))",
    }
    for t in range(1, iters):  # the final sweep's update is never read
        p = t - 1
        parts.extend([
            f"ms{t} AS MATERIALIZED (SELECT vv, "
            "SUM(m0) AS i0, SUM(m1) AS i1 FROM ("
            f"SELECT s AS vv, dls0 AS m0, dls1 AS m1 FROM del{p} "
            f"UNION ALL SELECT d, dld0, dld1 FROM del{p}) GROUP BY vv)",
            f"del{t} AS MATERIALIZED (SELECT s, d, "
            "ts0, ts1, td0, td1, "
            f"-{lam['s0']} / 2.0E0 + GREATEST(0.0E0 + {lam['d0']}, "
            f"-2.0E0 + {lam['d1']}) / 2.0E0 AS dls0, "
            f"-{lam['s1']} / 2.0E0 + GREATEST(-2.0E0 + {lam['d0']}, "
            f"0.0E0 + {lam['d1']}) / 2.0E0 AS dls1, "
            f"-{lam['d0']} / 2.0E0 + GREATEST(0.0E0 + {lam['s0']}, "
            f"-2.0E0 + {lam['s1']}) / 2.0E0 AS dld0, "
            f"-{lam['d1']} / 2.0E0 + GREATEST(-2.0E0 + {lam['s0']}, "
            f"0.0E0 + {lam['s1']}) / 2.0E0 AS dld1 "
            f"FROM del{p} x JOIN ms{t} mms ON mms.vv = x.s "
            f"JOIN ms{t} mmd ON mmd.vv = x.d)",
        ])
    return (
        f"WITH {_SQL_EDGES_MAT},\n" + ",\n".join(parts) + f""",
msf AS (SELECT vv, SUM(m0) AS i0, SUM(m1) AS i1 FROM (
  SELECT s AS vv, dls0 AS m0, dls1 AS m1 FROM del{iters - 1}
  UNION ALL SELECT d, dld0, dld1 FROM del{iters - 1}) GROUP BY vv)
SELECT id, CASE WHEN b0 >= b1 THEN 0 ELSE 1 END AS label,
       ROUND(b0, 5) AS b0, ROUND(b1, 5) AS b1
FROM (SELECT pot.id,
        CASE WHEN m.vv IS NULL THEN pot.p0 ELSE pot.p0 + m.i0 END AS b0,
        CASE WHEN m.vv IS NULL THEN pot.p1 ELSE pot.p1 + m.i1 END AS b1
      FROM pot LEFT JOIN msf m ON m.vv = pot.id)
ORDER BY id
"""
    )


def q_admm2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AD3/ADMM dual decomposition (admm_vertex_program +
    ad3_vertex_program's SolveQP_dense active-set method), 2-state
    Potts on the shared fixture graph, 3 even/odd pairs. Rows-only at
    the driver: the warm-started active-set QP (data-dependent control
    flow, rank-one inverse-KKT updates, eigendecomposition fallback)
    has no SQL twin; correctness is pinned by tests/test_admm.py —
    exhaustive KKT optimality of the QP kernel on random instances
    plus a full python replica of the distributed program."""
    from powergraph_spark.algorithms.admm import dd_map_admm

    g = _co_graph(spark, sf_dir)
    pots = g.vertices.selectExpr(
        "id",
        "array(-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0) AS potential",
    )
    res = dd_map_admm(
        g, pots, num_states=2, smoothing=2.0, max_iterations=3,
    )
    return res.assignments.select(
        "id", "label",
        F.round(F.element_at("belief", 1), 5).alias("b0"),
        F.round(F.element_at("belief", 2), 5).alias("b1"),
    ).orderBy("id")


def q_bethe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bethe-ADMM MAP inference (bethe_admm_vertex_program,
    ad3_qp.hpp:1025-1223 — the reference's `algorithm 3`), 2-state
    Potts with the shared dyadic priors, 3 even/odd pairs at step 1 /
    alpha 1, stop_at_agreement=False for the fixed sweep count. The
    closed-form Bethe prox (base-10 exponentials + one sum-product
    pass per factor) is pure arithmetic, so the DuckDB unroll replays
    the same expression shapes; output rounded to 5 decimals (the
    lbp2/gibbs2 precedent for cross-engine exp)."""
    from powergraph_spark.algorithms.admm import dd_map_bethe

    g = _co_graph(spark, sf_dir)
    pots = g.vertices.selectExpr(
        "id",
        "array(-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0) AS potential",
    )
    res = dd_map_bethe(
        g, pots, num_states=2, smoothing=2.0, max_iterations=3,
        stop_at_agreement=False,
    )
    return res.assignments.select(
        "id", "label",
        F.round(F.element_at("belief", 1), 5).alias("b0"),
        F.round(F.element_at("belief", 2), 5).alias("b1"),
    ).orderBy("id")


def _bethe_sql(iters: int = 3) -> str:
    """Unrolled DuckDB twin of q_bethe2 (C=2, step 1, alpha 1,
    fpot = (0,-2,-2,0)): per pair, the eta potentials with the
    Bethe-entropy gradient folded in, one sum-product pass, per-block
    normalization with the 1e-99 clamp, then consensus averaging and
    the constant-step multiplier update. p decodes at the final
    averaging; priors fall back for factor-less vertices."""
    parts = [
        "pot AS MATERIALIZED (SELECT id, "
        "-CAST(abs(id) % 5 AS DOUBLE) / 4.0E0 AS p0, "
        "-CAST(abs(id) % 3 AS DOUBLE) / 2.0E0 AS p1 FROM v)",
        "dg AS MATERIALIZED (SELECT vv, CAST(COUNT(*) AS DOUBLE) AS dg "
        "FROM (SELECT src AS vv FROM e UNION ALL SELECT dst FROM e) "
        "GROUP BY vv)",
        "eps AS MATERIALIZED (SELECT pot.id, dg.dg, "
        "p0 / dg.dg AS e0, p1 / dg.dg AS e1 "
        "FROM pot JOIN dg ON dg.vv = pot.id)",
        # edge state 0: lam = 0, q = 1/4 per slot (the UAI loader's
        # ones/cardsum), fb = 1/4 per config
        "st0 AS MATERIALIZED (SELECT src AS s, dst AS d, "
        "CAST(0.0 AS DOUBLE) AS ls0, CAST(0.0 AS DOUBLE) AS ls1, "
        "CAST(0.0 AS DOUBLE) AS ld0, CAST(0.0 AS DOUBLE) AS ld1, "
        "CAST(0.25 AS DOUBLE) AS qs0, CAST(0.25 AS DOUBLE) AS qs1, "
        "CAST(0.25 AS DOUBLE) AS qd0, CAST(0.25 AS DOUBLE) AS qd1, "
        "CAST(0.25 AS DOUBLE) AS fb00, CAST(0.25 AS DOUBLE) AS fb01, "
        "CAST(0.25 AS DOUBLE) AS fb10, CAST(0.25 AS DOUBLE) AS fb11 "
        "FROM e)",
        # variable beliefs 0: the reference's setConstant(0.5)
        "pv0 AS MATERIALIZED (SELECT vv, CAST(0.5 AS DOUBLE) AS b0, "
        "CAST(0.5 AS DOUBLE) AS b1 FROM dg)",
    ]
    fp = {"00": "0.0E0", "01": "-2.0E0", "10": "-2.0E0", "11": "0.0E0"}
    for t in range(1, iters + 1):
        p = t - 1
        us = {i: f"(power(10.0E0, ((ls{i} + es{i}) + (ps{i} - qs{i})))"
                 f" * (10.0E0 * qs{i}))" for i in (0, 1)}
        ud = {j: f"(power(10.0E0, ((ld{j} + ed{j}) + (pd{j} - qd{j})))"
                 f" * (10.0E0 * qd{j}))" for j in (0, 1)}
        fe = {f"{i}{j}": f"(power(10.0E0, {fp[f'{i}{j}']}) "
                         f"* (fb{i}{j} / 10.0E0) / qs{i} / qd{j})"
              for i in (0, 1) for j in (0, 1)}
        parts.extend([
            # even phase: raw sum-product marginals per edge
            f"ev{t} AS MATERIALIZED (SELECT s, d, "
            "ls0, ls1, ld0, ld1, "
            f"{us[0]} * ({fe['00']} * {ud[0]} + {fe['01']} * {ud[1]}) "
            "AS rqs0, "
            f"{us[1]} * ({fe['10']} * {ud[0]} + {fe['11']} * {ud[1]}) "
            "AS rqs1, "
            f"{ud[0]} * ({fe['00']} * {us[0]} + {fe['10']} * {us[1]}) "
            "AS rqd0, "
            f"{ud[1]} * ({fe['01']} * {us[0]} + {fe['11']} * {us[1]}) "
            "AS rqd1, "
            f"{fe['00']} * {us[0]} * {ud[0]} AS rf00, "
            f"{fe['01']} * {us[0]} * {ud[1]} AS rf01, "
            f"{fe['10']} * {us[1]} * {ud[0]} AS rf10, "
            f"{fe['11']} * {us[1]} * {ud[1]} AS rf11 "
            f"FROM (SELECT x.*, vs.e0 AS es0, vs.e1 AS es1, "
            "vd_.e0 AS ed0, vd_.e1 AS ed1, "
            "bs.b0 AS ps0, bs.b1 AS ps1, bd.b0 AS pd0, bd.b1 AS pd1 "
            f"FROM st{p} x JOIN eps vs ON vs.id = x.s "
            "JOIN eps vd_ ON vd_.id = x.d "
            f"JOIN pv{p} bs ON bs.vv = x.s "
            f"JOIN pv{p} bd ON bd.vv = x.d))",
            f"q{t} AS MATERIALIZED (SELECT s, d, ls0, ls1, ld0, ld1, "
            "GREATEST(rqs0 / (rqs0 + rqs1), 1.0E-99) AS qs0, "
            "GREATEST(rqs1 / (rqs0 + rqs1), 1.0E-99) AS qs1, "
            "GREATEST(rqd0 / (rqd0 + rqd1), 1.0E-99) AS qd0, "
            "GREATEST(rqd1 / (rqd0 + rqd1), 1.0E-99) AS qd1, "
            "GREATEST(rf00 / (rf00 + rf01 + rf10 + rf11), 1.0E-99) "
            "AS fb00, "
            "GREATEST(rf01 / (rf00 + rf01 + rf10 + rf11), 1.0E-99) "
            "AS fb01, "
            "GREATEST(rf10 / (rf00 + rf01 + rf10 + rf11), 1.0E-99) "
            "AS fb10, "
            "GREATEST(rf11 / (rf00 + rf01 + rf10 + rf11), 1.0E-99) "
            "AS fb11 "
            f"FROM ev{t})",
            # odd phase: consensus averaging
            f"pv{t} AS MATERIALIZED (SELECT vv, i0 / dg.dg AS b0, "
            "i1 / dg.dg AS b1 FROM (SELECT vv, SUM(m0) AS i0, "
            "SUM(m1) AS i1 FROM ("
            f"SELECT s AS vv, qs0 AS m0, qs1 AS m1 FROM q{t} "
            f"UNION ALL SELECT d, qd0, qd1 FROM q{t}) GROUP BY vv) "
            "JOIN dg USING (vv))",
            # multiplier update lam += 1 * (p_new - q_new)
            f"st{t} AS MATERIALIZED (SELECT x.s, x.d, "
            "ls0 + (bs.b0 - qs0) AS ls0, ls1 + (bs.b1 - qs1) AS ls1, "
            "ld0 + (bd.b0 - qd0) AS ld0, ld1 + (bd.b1 - qd1) AS ld1, "
            "qs0, qs1, qd0, qd1, fb00, fb01, fb10, fb11 "
            f"FROM q{t} x JOIN pv{t} bs ON bs.vv = x.s "
            f"JOIN pv{t} bd ON bd.vv = x.d)",
        ])
    return (
        f"WITH {_SQL_EDGES_MAT},\n" + ",\n".join(parts) + f"""
SELECT id, CASE WHEN b0 >= b1 THEN 0 ELSE 1 END AS label,
       ROUND(b0, 5) AS b0, ROUND(b1, 5) AS b1
FROM (SELECT pot.id,
        CASE WHEN m.vv IS NULL THEN pot.p0 ELSE m.b0 END AS b0,
        CASE WHEN m.vv IS NULL THEN pot.p1 ELSE m.b1 END AS b1
      FROM pot LEFT JOIN pv{iters} m ON m.vv = pot.id)
ORDER BY id
"""
    )


def q_nmf_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NMF multiplicative updates (nmf.cpp:209-241 gather/apply,
    :517-537 alternation), k=1 instantiation: the scalar rule
    u' = max(u * (sum_j v_j*(r/(u*v_j))) / sum_all(v), eps) is
    SQL-expressible, so the SAME generic kernel that runs k=20 is
    hash-checked against a DuckDB unroll of 2 full iterations.
    Portable strictly-positive init ((abs(id) % 97) + 1) / 98."""
    from powergraph_spark.algorithms.als import ratings_graph
    from powergraph_spark.algorithms.nmf import nmf

    g = ratings_graph(_ratings(spark, sf_dir), num_partitions=16)
    res = nmf(
        g, k=1, max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        with_rmse=False,
    )
    out = res.user_factors.selectExpr(
        "'u' AS kind", "id", "round(factor[0], 5) AS f"
    ).unionAll(
        res.item_factors.selectExpr(
            "'i' AS kind", "id", "round(factor[0], 5) AS f"
        )
    )
    return out.orderBy("kind", "id")


def q_svdpp_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVD++ (svdpp.cpp:265-376, BSP-determinized Jacobi form), k=1
    instantiation: 2 full iterations (PHASE1 implicit-weight
    aggregation + PHASE2 gradient pass, step decay 0.9) unroll to
    scalar SQL. Portable init p=((abs id%97)+1)/98, y=((abs id%89)+1)/90."""
    from powergraph_spark.algorithms.als import ratings_graph
    from powergraph_spark.algorithms.svdpp import svdpp

    g = ratings_graph(_ratings(spark, sf_dir), num_partitions=16)
    res = svdpp(
        g, k=1, max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        weight_init_expr="array(CAST(abs(id) % 89 + 1 AS DOUBLE) / 90.0)",
    )
    out = res.user_factors.selectExpr(
        "'u' AS kind", "id", "round(factor[0], 5) AS f",
        "round(bias * 10000.0, 5) AS b", "CAST(0.0 AS DOUBLE) AS y",
    ).unionAll(
        res.item_factors.selectExpr(
            "'i' AS kind", "id", "round(factor[0], 5) AS f",
            "round(bias * 10000.0, 5) AS b", "round(weight[0], 5) AS y",
        )
    )
    return out.orderBy("kind", "id")


def q_wals_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted ALS (wals.cpp:224-231 gather, :320-337 flat-lambda
    apply), k=1 instantiation: the scalar weighted normal equation
    w = sum(wt*f*r) / (lambda + sum(wt*f^2)) is SQL-expressible, so
    the SAME generic weighted kernel that runs k=20 is hash-checked
    against a DuckDB unroll of 2 full alternations. Deterministic
    per-edge weight 1 + (item % 5); portable init as als_k1."""
    from powergraph_spark.algorithms.als import ratings_graph
    from powergraph_spark.algorithms.wals import wals

    ratings = _ratings(spark, sf_dir).withColumn(
        "w", F.lit(1.0) + (F.col("item") % 5).cast("double")
    )
    g = ratings_graph(ratings, num_partitions=16, weight_col="w")
    res = wals(
        g, k=1, lam=0.1, tolerance=1e-15, max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        with_rmse=False,
    )
    out = res.user_factors.selectExpr(
        "'u' AS kind", "id", "round(factor[0], 5) AS f"
    ).unionAll(
        res.item_factors.selectExpr(
            "'i' AS kind", "id", "round(factor[0], 5) AS f"
        )
    )
    return out.orderBy("kind", "id")


def q_biassgd_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-SGD (biassgd.cpp:225-263 rule, BSP-determinized Jacobi
    form), k=1 instantiation: two full-batch supersteps of the scalar
    rule with global mean, per-vertex biases, and step decay 0.9
    unroll directly to SQL. Portable init as als_k1, biases start 0."""
    from powergraph_spark.algorithms.als import ratings_graph
    from powergraph_spark.algorithms.biassgd import biassgd

    g = ratings_graph(_ratings(spark, sf_dir), num_partitions=16)
    res = biassgd(
        g, k=1, gamma=0.01, lam=0.1, step_dec=0.9, tolerance=1e-15,
        max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        with_rmse=False,
    )
    out = res.user_factors.selectExpr(
        "'u' AS kind", "id", "round(factor[0], 5) AS f",
        "round(bias, 5) AS b",
    ).unionAll(
        res.item_factors.selectExpr(
            "'i' AS kind", "id", "round(factor[0], 5) AS f",
            "round(bias, 5) AS b",
        )
    )
    return out.orderBy("kind", "id")


def q_jacobi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jacobi linear solver (jacobi.cpp:322-326 fixed-iteration loop)
    on a diagonally-dominant system derived from the co-purchase
    graph: A_ij = -1 per undirected edge, A_ii = deg_i + 1,
    b_i = (i % 10) + 1, three iterations from x = 0 — each iterate is
    SQL-expressible, so the distributed mat-vec loop is hash-checked
    against a DuckDB unroll."""
    from powergraph_spark.algorithms.jacobi import jacobi

    g = _co_graph(spark, sf_dir)
    und = g.symmetrized_edges()
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ents = und.select(
        F.col("src").alias("row"), F.col("dst").alias("col"),
        F.lit(-1.0).alias("val"),
    ).unionAll(
        deg.select(
            F.col("src").alias("row"), F.col("src").alias("col"),
            (F.col("d") + 1).cast("double").alias("val"),
        )
    )
    b = deg.select(
        F.col("src").alias("id"),
        ((F.col("src") % 10) + 1).cast("double").alias("b"),
    )
    res = jacobi(ents, b, max_iterations=3, num_partitions=16)
    return res.x.select("id", F.round("x", 5).alias("x")).orderBy("id")


def q_adpredict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdPredictor Bayesian probit CTR (adpredictor.cpp:200-254
    two-phase loop, cdf.hpp A&S-7.1.26 phi): samples = orders with
    label +-1 by orderkey parity, features = the order's parts. ONE
    message-passing iteration (random parity labels make iteration 2
    produce confident-wrong samples whose variance factor trips the
    reference's own assert — adpredictor.cpp:243 — under the A&S tail
    error; the multi-iteration path is pytest-oracled on learnable
    fixtures). Output: feature posterior (mu, sigma) rows AND
    per-sample (score, prob) rows — the final probit scoring sweeps
    phi across the full argument range in both engines."""
    from powergraph_spark.algorithms.adpredictor import (
        adpredictor,
        adpredictor_graph,
    )

    l = (
        _load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
    )
    # samples need >= 2 features: with a single feature sigma_j/S = 1
    # and the reference's dropped beta^2 makes the variance factor
    # reach 0 under the A&S phi approximation (engine raise_error)
    multi = (
        l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("_n"))
        .filter("_n >= 2").select("l_orderkey")
    )
    samples = l.join(multi, "l_orderkey").select(
        F.col("l_orderkey").alias("sample"),
        F.col("l_partkey").alias("feature"),
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1)).alias("y"),
    )
    g = adpredictor_graph(samples, num_partitions=16)
    res = adpredictor(g, max_iterations=1)
    feats = res.feature_weights.selectExpr(
        "'f' AS kind", "id", "round(mu, 5) AS a", "round(sigma, 5) AS b"
    )
    rows = res.sample_scores.selectExpr(
        "'s' AS kind", "id", "round(score, 5) AS a", "round(prob, 5) AS b"
    )
    return feats.unionAll(rows).orderBy("kind", "id")


def _adpredictor_sql(iters: int = 1) -> str:
    """Unrolled DuckDB twin of q_adpredict: per-iteration sample sums
    (M, S) then the feature posterior update, with phi/v/w staged via
    lateral column aliases in the engine's exact op order
    (cdf.hpp:35-48, adpredictor.cpp:128-143)."""
    probit = (
        "ABS(tv) / SQRT(2.0) AS z, "
        "1.0 / (1.0 + 0.3275911 * z) AS tt, "
        "(((((1.061405429 * tt + -1.453152027) * tt) + 1.421413741) "
        "* tt + -0.284496736) * tt + 0.254829592) * tt AS poly, "
        "1.0 - poly * EXP(-z * z) AS yy, "
        "0.5 * (1.0 + (CASE WHEN tv < 0 THEN -1.0 ELSE 1.0 END) * yy) "
        "AS ph, "
        "CASE WHEN ph = 0.0 THEN 1e-5 ELSE ph END AS phf, "
        "(1.0 / SQRT(2 * 3.14159265)) * EXP(-tv * tv / 2.0) / phf "
        "AS vv, vv * (vv + tv) AS ww"
    )
    parts = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS s, l_partkey AS f,
         CASE WHEN l_orderkey % 2 = 0 THEN 1.0 ELSE -1.0 END AS y
  FROM lineitem
),
e AS MATERIALIZED (
  SELECT e0.* FROM e0
  JOIN (SELECT s FROM e0 GROUP BY s HAVING COUNT(*) >= 2) m ON m.s = e0.s
)""",
        "f0 AS MATERIALIZED (SELECT f AS id, CAST(0.0 AS DOUBLE) AS mu, "
        "CAST(1.0 AS DOUBLE) AS sigma FROM (SELECT DISTINCT f FROM e))",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.extend([
            f"s{t} AS MATERIALIZED (SELECT e.s AS id, ANY_VALUE(e.y) "
            f"AS y, SUM(f.mu) AS m, SUM(f.sigma) AS sv "
            f"FROM e JOIN f{p} f ON f.id = e.f GROUP BY e.s)",
            f"p{t} AS MATERIALIZED (SELECT id, y, m, sv, "
            f"y * m / SQRT(sv) AS tv, {probit} FROM s{t})",
            f"c{t} AS (SELECT e.f AS id, "
            "SUM(p.y / SQRT(p.sv) * p.vv) AS mu_sum, "
            "SUM(LN(1.0 - f.sigma / p.sv * p.ww)) AS ln_sum "
            f"FROM e JOIN p{t} p ON p.id = e.s "
            f"JOIN f{p} f ON f.id = e.f GROUP BY e.f)",
            f"f{t} AS MATERIALIZED (SELECT f.id, "
            "f.mu + f.sigma * c.mu_sum AS mu, "
            "f.sigma * EXP(c.ln_sum) AS sigma "
            f"FROM f{p} f JOIN c{t} c ON c.id = f.id)",
        ])
    parts.extend([
        f"sf AS (SELECT e.s AS id, ANY_VALUE(e.y) AS y, SUM(f.mu) AS sc, "
        f"SUM(f.sigma) AS sv FROM e JOIN f{iters} f ON f.id = e.f "
        "GROUP BY e.s)",
        f"sp AS (SELECT id, sc, sc * y AS tv, {probit} FROM sf)",
    ])
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT 'f' AS kind, id, ROUND(mu, 5) AS a, ROUND(sigma, 5) AS b
FROM f{iters}
UNION ALL
SELECT 's' AS kind, id, ROUND(sc, 5) AS a, ROUND(ph, 5) AS b FROM sp
ORDER BY kind, id
"""
    )


def q_sparse_als_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-ALS (sparse_als.cpp:317-347 CoSaMP apply), k=1
    instantiation: CoSaMP at D=1 collapses exactly to
    |Xy| / (XtX + lambda) (the reference's fabs quirk makes the
    sparse side's factor a magnitude), the item side keeps the
    flat-lambda solve — both SQL-expressible, so the SAME generic
    solver-hook kernel that runs k=20 is hash-checked against a
    DuckDB unroll of 2 alternations."""
    from powergraph_spark.algorithms.als import ratings_graph
    from powergraph_spark.algorithms.sparse_als import sparse_als

    g = ratings_graph(_ratings(spark, sf_dir), num_partitions=16)
    res = sparse_als(
        g, k=1, lam=0.01, mode="user", tolerance=1e-15,
        max_iterations=2,
        init_expr="array(CAST(abs(id) % 97 + 1 AS DOUBLE) / 98.0)",
        with_rmse=False,
    )
    out = res.user_factors.selectExpr(
        "'u' AS kind", "id", "round(factor[0], 5) AS f"
    ).unionAll(
        res.item_factors.selectExpr(
            "'i' AS kind", "id", "round(factor[0], 5) AS f"
        )
    )
    return out.orderBy("kind", "id")


# shared ratings CTE for the CF k=1 oracles (same as als_k1)
_SQL_RATINGS = """
r AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
)"""


def _nmf_sql(iters: int = 2) -> str:
    """Unrolled DuckDB twin of q_nmf_k1: px recomputed before each
    half-update, per-edge ratio in the engine's op order, clamp at
    1e-16 (positive init makes the zero-sum guard unreachable)."""
    parts = [
        "u0 AS MATERIALIZED (SELECT u AS id, "
        "CAST(u % 97 + 1 AS DOUBLE) / 98.0 AS f "
        "FROM (SELECT DISTINCT u FROM r))",
        "i0 AS MATERIALIZED (SELECT i AS id, "
        "CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS f "
        "FROM (SELECT DISTINCT i FROM r))",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.extend([
            f"xi{t} AS (SELECT SUM(f) AS x FROM i{p})",
            f"u{t} AS MATERIALIZED (SELECT r.u AS id, GREATEST("
            f"ANY_VALUE(u{p}.f) * (SUM(i{p}.f * (r.rating / "
            f"(u{p}.f * i{p}.f))) / ANY_VALUE(xi{t}.x)), 1e-16) AS f "
            f"FROM r JOIN u{p} ON u{p}.id = r.u "
            f"JOIN i{p} ON i{p}.id = r.i CROSS JOIN xi{t} "
            "GROUP BY r.u)",
            f"xu{t} AS (SELECT SUM(f) AS x FROM u{t})",
            f"i{t} AS MATERIALIZED (SELECT r.i AS id, GREATEST("
            f"ANY_VALUE(i{p}.f) * (SUM(u{t}.f * (r.rating / "
            f"(i{p}.f * u{t}.f))) / ANY_VALUE(xu{t}.x)), 1e-16) AS f "
            f"FROM r JOIN i{p} ON i{p}.id = r.i "
            f"JOIN u{t} ON u{t}.id = r.u CROSS JOIN xu{t} "
            "GROUP BY r.i)",
        ])
    return (
        f"WITH {_SQL_RATINGS},\n" + ",\n".join(parts) + f"""
SELECT 'u' AS kind, id, ROUND(f, 5) AS f FROM u{iters}
UNION ALL
SELECT 'i' AS kind, id, ROUND(f, 5) AS f FROM i{iters}
ORDER BY kind, id
"""
    )


def _svdpp_sql(iters: int = 2) -> str:
    """Unrolled DuckDB twin of q_svdpp_k1: per-iteration PHASE1 weight
    aggregation + PHASE2 Jacobi gradient sums, scalar k=1 expressions
    in the engine's exact op order, step decay 0.9 per iteration."""
    parts = [
        "gm AS (SELECT AVG(rating) AS m FROM r)",
        "deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS DOUBLE) AS d "
        "FROM r GROUP BY u)",
        "s0 AS MATERIALIZED (SELECT u AS id, TRUE AS is_u, "
        "CAST(u % 97 + 1 AS DOUBLE) / 98.0 AS p, "
        "CAST(u % 89 + 1 AS DOUBLE) / 90.0 AS y, "
        "CAST(0.0 AS DOUBLE) AS b FROM (SELECT DISTINCT u FROM r) "
        "UNION ALL "
        "SELECT i AS id, FALSE AS is_u, "
        "CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS p, "
        "CAST((i + 2) % 89 + 1 AS DOUBLE) / 90.0 AS y, "
        "CAST(0.0 AS DOUBLE) AS b FROM (SELECT DISTINCT i FROM r))",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        # engine: dec = 0.9 ** it (python pow); bs = fs = ws = 1e-4*dec
        step = f"(CAST(0.0001 AS DOUBLE) * POWER(0.9, {t - 1}))"
        reg = "CAST(0.0001 AS DOUBLE)"
        parts.extend([
            # PHASE1: user weight w_u = sum(y_i over edges)/sqrt(deg)
            f"w{t} AS MATERIALIZED (SELECT r.u, "
            f"SUM(si.y) / SQRT(ANY_VALUE(deg.d)) AS w "
            f"FROM r JOIN s{p} si ON NOT si.is_u AND si.id = r.i "
            "JOIN deg ON deg.u = r.u GROUP BY r.u)",
            # PHASE2 per-edge deltas
            f"e{t} AS MATERIALIZED (SELECT r.u, r.i, "
            f"r.rating - ((SELECT m FROM gm) + su.b + si.b "
            "+ su.p * (si.p + si.y)) AS err, "
            "su.p AS up, si.p AS ip, si.y AS iy, w.w AS uw, deg.d AS ud "
            f"FROM r JOIN s{p} su ON su.is_u AND su.id = r.u "
            f"JOIN s{p} si ON NOT si.is_u AND si.id = r.i "
            f"JOIN w{t} w ON w.u = r.u JOIN deg ON deg.u = r.u)",
            f"du{t} AS (SELECT u AS id, "
            f"SUM({step} * (err * (ip - {reg} * up))) AS dp, "
            f"SUM({step} * err) AS db FROM e{t} GROUP BY u)",
            f"di{t} AS (SELECT i AS id, "
            f"SUM({step} * (err * (up + uw) - {reg} * ip)) AS dp, "
            f"SUM({step} * ((1.0 / SQRT(ud)) * err * ip - {reg} * iy)) "
            f"AS dy, SUM({step} * err) AS db FROM e{t} GROUP BY i)",
            f"s{t} AS MATERIALIZED (SELECT s.id, s.is_u, "
            "s.p + COALESCE(CASE WHEN s.is_u THEN du.dp ELSE di.dp END, "
            "0.0) AS p, "
            "CASE WHEN s.is_u THEN s.y "
            "ELSE s.y + COALESCE(di.dy, 0.0) END AS y, "
            "s.b + COALESCE(CASE WHEN s.is_u THEN du.db ELSE di.db END, "
            "0.0) AS b "
            f"FROM s{p} s "
            f"LEFT JOIN du{t} du ON s.is_u AND du.id = s.id "
            f"LEFT JOIN di{t} di ON NOT s.is_u AND di.id = s.id)",
        ])
    return (
        f"WITH {_SQL_RATINGS},\n" + ",\n".join(parts) + f"""
SELECT 'u' AS kind, id, ROUND(p, 5) AS f, ROUND(b * 10000.0, 5) AS b,
       CAST(0.0 AS DOUBLE) AS y
FROM s{iters} WHERE is_u
UNION ALL
SELECT 'i' AS kind, id, ROUND(p, 5) AS f, ROUND(b * 10000.0, 5) AS b,
       ROUND(y, 5) AS y
FROM s{iters} WHERE NOT is_u
ORDER BY kind, id
"""
    )


def q_pagerank_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PageRank differential, oracle-encoded: converge
    delta PageRank on 80% of the edges, warm-start on the full graph
    (pagerank_warm_start seeds the gather cache + signals only
    perturbed vertices), and compare against a cold run. The contract
    row is (n_vertices, max_abs_diff) with max_abs_diff ROUNDED 5dp —
    the oracle pins it to exactly 0.0, so any warm/cold divergence
    turns this row red. Supersteps/touched-rows claims live in pytest
    (test_pagerank_warm_start_matches_cold)."""
    from powergraph_spark.algorithms import pagerank_warm_start
    from powergraph_spark.algorithms.pagerank import pagerank_delta

    g = _co_graph(spark, sf_dir)
    full = g.edges.select("src", "dst")
    old = full.filter(F.pmod(F.xxhash64("src", "dst"), F.lit(10)) < 8)
    new = full.join(old, ["src", "dst"], "left_anti")

    g1 = Graph.from_edges(old, num_partitions=g.num_partitions)
    prev = pagerank_delta(g1, tol=1e-8)
    warm = pagerank_warm_start(g, prev.state, new, tol=1e-8)
    cold = pagerank_delta(g, tol=1e-8)
    g1.unpersist()
    return (
        warm.state.selectExpr("id", "rank AS rw")
        .join(cold.state.selectExpr("id", "rank AS rc"), "id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.round(F.max(F.abs(F.col("rw") - F.col("rc"))), 5)
            .alias("max_abs_diff"),
        )
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label CC at convergence (connected_component.cpp:105-113)."""
    g = _co_graph(spark, sf_dir)
    res = connected_components(g)
    out = res.state.select("id", "component").orderBy("id")
    # graph stays persisted: shared via _GRAPH_CACHE across queries
    return out


def q_cc_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC: converge on 80% of the edges, warm-start with
    the rest (seeded labels + new-edge-endpoint frontier only) — the
    result must be the EXACT full-graph min-label fixpoint, so the
    oracle is the same recursive-CTE labeling the cold query uses."""
    from powergraph_spark.algorithms import connected_components

    g = _co_graph(spark, sf_dir)
    full = g.edges.select("src", "dst")
    old = full.filter(F.pmod(F.xxhash64("src", "dst"), F.lit(10)) < 8)
    new = full.join(old, ["src", "dst"], "left_anti")
    g1 = Graph.from_edges(old, num_partitions=g.num_partitions)
    prev = connected_components(g1)
    warm = connected_components(g, prev_state=prev.state, new_edges=new)
    g1.unpersist()
    return warm.state.select("id", "component").orderBy("id")


def q_cc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram (connected_component_stats.cpp:65-155)."""
    g = _co_graph(spark, sf_dir)
    res = connected_components(g)
    out = (
        res.state.groupBy("component")
        .agg(F.count(F.lit(1)).alias("csize"))
        .groupBy("csize")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("csize")
    )
    # graph stays persisted: shared via _GRAPH_CACHE across queries
    return out


def q_label_propagation2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous LP supersteps with the reference tie-break
    (label_propagation.cpp:101-125)."""
    g = _co_graph(spark, sf_dir)
    res = label_propagation(g, max_iterations=2)
    out = res.state.select("id", "label").orderBy("id")
    # graph stays persisted: shared via _GRAPH_CACHE across queries
    return out


def q_triangles_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total triangle count, degree-ordered intersection
    (undirected_triangle_count.cpp:148-560). Total-only path: the
    per-edge intersections fold straight into one SUM (no array
    cache — r6 opt, same result)."""
    from powergraph_spark.algorithms.triangle_count import triangle_total

    g = _co_graph(spark, sf_dir)
    # canonical_edges: _co_edges emits strictly src < dst pairs and
    # from_edges' finalize dedups (src, dst), so the co-graph's edge set
    # is already the canonical undirected form — the (least, greatest)
    # dedup exchange inside the triangle pass removes nothing (r6 opt,
    # guide §2.4; measured −35 % warm, identical totals).
    total = triangle_total(g, canonical_edges=True)
    # graph stays persisted: shared via _GRAPH_CACHE across queries
    return spark.createDataFrame([(total,)], "n_triangles long")


def q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (simple_undirected_triangle_count.cpp:216-288)."""
    g = _co_graph(spark, sf_dir)
    # canonical_edges: see q_triangles_total (co-graph pairs are
    # strictly ordered + finalize-deduped)
    per_v, _ = triangle_count(g, canonical_edges=True)
    out = per_v.orderBy("id")
    # graph stays persisted: shared via _GRAPH_CACHE across queries
    return out


def q_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient from the per-vertex
    triangle pass (undirected_triangle_count.cpp:350-660 PER_VERTEX
    mode, extended per SURVEY §2.9), rounded 6dp."""
    from powergraph_spark.algorithms.summary import local_clustering_coefficients

    g = _co_graph(spark, sf_dir)
    # canonical_edges: see q_triangles_total
    out = local_clustering_coefficients(g, canonical_edges=True)
    return out.select(
        "id", "degree", "n_triangles", F.round("lcc", 6).alias("lcc")
    ).orderBy("id")


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): Pearson correlation of
    endpoint degrees over the symmetrized edge list, rounded 6dp."""
    from powergraph_spark.algorithms.summary import degree_assortativity

    g = _co_graph(spark, sf_dir)
    # canonical_edges: see q_triangles_total
    return degree_assortativity(g, canonical_edges=True).select(
        F.round("assortativity", 6).alias("assortativity")
    )


def q_modularity_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q of the 2-superstep label-propagation communities
    (label_propagation.cpp:101-125 labels; Q per Newman-Girvan),
    rounded 6dp."""
    from powergraph_spark.algorithms.summary import modularity

    g = _co_graph(spark, sf_dir)
    res = label_propagation(g, max_iterations=2)
    # canonical_edges: see q_triangles_total
    out = modularity(g, res.state.select("id", "label"),
                     canonical_edges=True)
    return out.select(
        F.round("modularity", 6).alias("modularity"), "n_communities"
    )


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient 3T/W from the triangle pass +
    wedge-count degree aggregate (SURVEY §2.9), rounded 6dp."""
    from powergraph_spark.algorithms.summary import transitivity

    g = _co_graph(spark, sf_dir)
    # canonical_edges: see q_triangles_total
    return transitivity(g, canonical_edges=True).select(
        "n_triangles", "n_wedges", F.round("transitivity", 6).alias("transitivity")
    )


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed lineitem-order graph: fraction
    of directed edges with a reverse edge (SURVEY §2.9), rounded 6dp."""
    from powergraph_spark.algorithms.summary import reciprocity

    g = _dir_graph(spark, sf_dir)
    return reciprocity(g).select(
        "n_directed", "n_reciprocal", F.round("reciprocity", 6).alias("reciprocity")
    )


def q_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 link predictions by common-neighbor count (ties broken
    by (a, b) — integer ordering, engine-portable), with Adamic-Adar
    and Jaccard scores (SURVEY §2.9), rounded 6dp."""
    from powergraph_spark.algorithms.link_prediction import top_link_predictions

    g = _co_graph(spark, sf_dir)
    # canonical_edges: see q_triangles_total
    out = top_link_predictions(g, k=100, min_common=2,
                               canonical_edges=True)
    return out.select(
        "a",
        "b",
        "cn",
        F.round("aa", 6).alias("aa"),
        F.round("jacc", 6).alias("jacc"),
    )


def q_louvain2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous Louvain local-move rounds (integer-exact
    scores, singleton-swap guard; SURVEY §2.9) from singleton
    communities."""
    from powergraph_spark.algorithms.louvain import louvain_moves

    g = _co_graph(spark, sf_dir)
    return louvain_moves(g, rounds=2).orderBy("id")


def q_louvain_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full two-level Louvain: 2 move rounds, contract communities to
    an integer-weighted super-graph (self-loops = internal mass), 2
    more weighted rounds, project back (SURVEY §2.9)."""
    from powergraph_spark.algorithms.louvain import louvain

    g = _co_graph(spark, sf_dir)
    return louvain(g, rounds_per_level=2, levels=2).orderBy("id")


def q_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style fixed-fanout 2-hop neighbor sampling (fanouts
    3 then 2, md5-deterministic draws; SURVEY §2.9) from the 10
    lowest-id vertices."""
    from powergraph_spark.algorithms.sampling import neighbor_sample

    g = _co_graph(spark, sf_dir)
    seeds = g.vertices.select("id").orderBy("id").limit(10)
    return neighbor_sample(g, seeds, fanouts=[3, 2], seed=42).orderBy(
        "hop", "src", "dst"
    )


def q_neighbors_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vertex_set 1-hop expansion (distributed_graph.hpp:2471-2493):
    out-neighbors of the 10 lowest-id vertices."""
    g = _co_graph(spark, sf_dir)
    seed = g.vertices.select("id").orderBy("id").limit(10)
    return g.neighbors(seed, "out").orderBy("id")


def q_vertex_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_vertex_join (graph_vertex_join.hpp:171-522): join vertex
    degree data with the part dimension table."""
    g = _co_graph(spark, sf_dir)
    part = _load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), "p_brand", "p_retailprice"
    )
    return (
        g.degrees()
        .join(part, "id")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("in_deg") + F.col("out_deg")).alias("total_degree"),
            F.round(F.avg("p_retailprice"), 5).alias("avg_price"),
        )
        .orderBy("p_brand")
    )


def q_select_vset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select(pred) -> vertex_set (distributed_graph.hpp:2532-2550):
    high-degree vertices (degree > 40)."""
    g = _co_graph(spark, sf_dir)
    return (
        g.degrees()
        .filter((F.col("in_deg") + F.col("out_deg")) > 40)
        .select("id")
        .orderBy("id")
    )


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_reduce_vertices/edges global aggregation
    (distributed_graph.hpp:966-1170): one-row graph summary."""
    g = _co_graph(spark, sf_dir)
    nv = g.vertices.count()
    ne = g.edges.count()
    deg = g.degrees().agg(
        F.sum(F.col("in_deg") + F.col("out_deg")).alias("sum_deg"),
        F.max(F.col("in_deg") + F.col("out_deg")).alias("max_deg"),
    ).first()
    return spark.createDataFrame(
        [(nv, ne, int(deg["sum_deg"]), int(deg["max_deg"]))],
        "n_vertices long, n_edges long, sum_degree long, max_degree long",
    )


def q_vset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vertex_set boolean algebra (vertex_set.hpp:267-430): sizes of
    A&B, A|B, A-B for A = odd ids, B = degree>20."""
    from powergraph_spark.graph import vset_and, vset_minus, vset_or

    g = _co_graph(spark, sf_dir)
    a = g.select_vertices(F.col("id") % 2 == 1)
    deg = g.degrees()
    b = deg.filter((F.col("in_deg") + F.col("out_deg")) > 20).select("id")
    return spark.createDataFrame(
        [(vset_and(a, b).count(), vset_or(a, b).count(), vset_minus(a, b).count())],
        "n_and long, n_or long, n_minus long",
    )


def q_sssp_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSSP (sssp.cpp:96-201), undirected hop distances from the
    min-id vertex; unreachable omitted (finite rows only so the SQL
    oracle is expressible)."""
    from powergraph_spark.algorithms import sssp as sssp_fn

    g = _co_graph(spark, sf_dir)
    source = g.vertices.agg(F.min("id")).first()[0]
    res = sssp_fn(g, source=int(source), directed=False, max_iterations=40)
    out = (
        res.state.filter(~F.isnan("dist") & (F.col("dist") != float("inf")))
        .select("id", F.col("dist").cast("long").alias("hops"))
        .orderBy("id")
    )
    # graph stays persisted: shared via _GRAPH_CACHE across queries
    return out


KCORE_K = 60  # above the graph's min degree at sf0.001/0.01 so the
# cascade actually fires (min degree is 42 at sf0.01; k=60 removes
# vertices and forces a recount round).
KCORE_UNROLL = 12  # measured Jacobi fixpoint is 2 rounds at both SFs;
# extra unrolled rounds are exact no-ops after the fixpoint.


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core vertex set (kcore.cpp:70-185) — iterative cascade peel.
    Oracle: the same fixpoint computed by an unrolled Jacobi peel in
    SQL (survivors(n+1) = vertices with >= k neighbors in
    survivors(n)); the k-core is the unique maximal such set, so both
    iterations converge to identical output."""
    from powergraph_spark.algorithms import kcore_vertices

    g = _co_graph(spark, sf_dir)
    return kcore_vertices(g, KCORE_K).orderBy("id")


def q_coloring_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy coloring + the reference's own validation
    (simple_coloring.cpp:262): monochromatic-edge count MUST be 0, so
    the oracle is the constant 0 — this checks the engine produces a
    valid coloring, exactly the reference's self-check."""
    from powergraph_spark.algorithms import coloring, count_conflicts

    g = _co_graph(spark, sf_dir)
    # check_interval=4: depletion check every 4 waves — colors are
    # identical for any interval (post-completion waves are no-ops and
    # capped runs never overshoot); saves ~1 isEmpty job per wave over
    # ~200 waves (r6 opt, measured in coloring()'s docstring).
    colors = coloring(g, check_interval=4)
    return spark.createDataFrame(
        [(count_conflicts(g, colors),)], "n_conflicts long"
    )


def _q_coloring_ordered(spark: SparkSession, sf_dir: str, order: str) -> DataFrame:
    """Ordered-priority colorer + two engine-side invariants the oracle
    can assert as constants: zero monochromatic edges (the reference's
    own validation) and the greedy bound n_colors <= max_degree + 1
    (holds for ANY greedy selection order, so a colorer that blows the
    bound fails the hash compare)."""
    from powergraph_spark.algorithms import coloring, count_colors, count_conflicts

    g = _co_graph(spark, sf_dir)
    # check_interval=4: see q_coloring_conflicts (identical colors)
    colors = coloring(g, order=order, check_interval=4)
    n_conflicts = count_conflicts(g, colors)
    n_colors = count_colors(colors)
    max_deg = int(
        g.two_way_edges().groupBy("src").agg(F.sum("m").alias("d"))
        .agg(F.max("d")).first()[0]
    )
    return spark.createDataFrame(
        [(n_conflicts, bool(n_colors <= max_deg + 1))],
        "n_conflicts long, within_degree_bound boolean",
    )


def q_coloring_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered coloring (degree_ordered_coloring.cpp): high-
    degree vertices pick colors first."""
    return _q_coloring_ordered(spark, sf_dir, "degree")


def q_coloring_dsatur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saturation-ordered (DSATUR) coloring
    (saturation_ordered_coloring.cpp)."""
    return _q_coloring_ordered(spark, sf_dir, "saturation")


DIAM_R = 8
DIAM_MAX_HOPS = 16
DIAM_TOL = 1e-9  # stop when relative growth <= tol; 1e-9 makes the
# stopping rule robust to last-ulp summation-order differences between
# engines (at the mask fixpoint the relative delta is ~1e-16; before
# it, growth is orders of magnitude above 1e-9).


def q_approx_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM-bitmask approximate diameter (approximate_diameter.cpp).
    The FM masks are md5-derived (trailing zeros of the hex string),
    so the DuckDB oracle reproduces every mask bit-for-bit and the
    hop-by-hop estimates; the estimate comparison is integral."""
    from powergraph_spark.algorithms import approx_diameter

    g = _co_graph(spark, sf_dir)
    hops, _ = approx_diameter(g, r=DIAM_R, max_hops=DIAM_MAX_HOPS, tol=DIAM_TOL)
    return spark.createDataFrame([(hops,)], "diameter_hops long")


N_SEEDS = 4  # centrality sample roots = the 4 lowest-id vertices
BETW_DEPTH = 6  # >= 2x the measured seed eccentricity at sf0.01 (3)


def _seeds(g: Graph) -> list[int]:
    return [
        int(r["id"])
        for r in g.vertices.select("id").orderBy("id").limit(N_SEEDS).collect()
    ]


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source closeness (closeness.cpp; sampled roots as in
    betweeness.cpp:358-366): seeds = 4 lowest-id vertices."""
    from powergraph_spark.algorithms import closeness

    g = _co_graph(spark, sf_dir)
    return closeness(g, _seeds(g), max_depth=BETW_DEPTH).orderBy("id")


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source harmonic centrality (Boldi-Vigna variant of
    closeness.cpp's distance aggregate; SURVEY §2.9), same seeds and
    depth as the closeness query, rounded 5dp."""
    from powergraph_spark.algorithms import harmonic

    g = _co_graph(spark, sf_dir)
    return harmonic(g, _seeds(g), max_depth=BETW_DEPTH).orderBy("id")


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source Brandes betweenness (betweeness.cpp:167-310 is
    the reference's sampled-tree variant; we compute the exact Brandes
    dependency per sampled source — see algorithms/centrality.py)."""
    from powergraph_spark.algorithms import betweenness

    g = _co_graph(spark, sf_dir)
    return betweenness(g, _seeds(g), max_depth=BETW_DEPTH).orderBy("id")


def q_prestige(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity prestige over sampled roots (prestige.cpp): directed
    source->v hop distances on the l_linenumber-ordered part graph."""
    from powergraph_spark.algorithms import prestige

    g = Graph.from_edges(_dir_edges(spark, sf_dir), num_partitions=16)
    return prestige(g, _seeds(g), max_depth=8).orderBy("id")


def q_dijkstra_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path tree with parent pointers (djikstra.cpp:26-47):
    dist + MIN-id parent among tight in-neighbors; source parent -1."""
    from powergraph_spark.algorithms import dijkstra_tree

    g = _co_graph(spark, sf_dir)
    source = int(g.vertices.agg(F.min("id")).first()[0])
    return dijkstra_tree(g, source=source, directed=False).orderBy("id")


def q_directed_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex directed triangle census
    (directed_triangle_count.cpp:288-345,625-636)."""
    from powergraph_spark.algorithms import directed_triangle_counts

    g = _dir_graph(spark, sf_dir)
    out = directed_triangle_counts(g).orderBy("id")
    return out


def q_directed_census_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-wide census totals (directed_triangle_count.cpp:759-763)."""
    from powergraph_spark.algorithms import directed_triangle_totals

    g = _dir_graph(spark, sf_dir)
    return directed_triangle_totals(g)


PERC_PROB = 0.5
PERC_SEED = 7


def q_percolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond percolation (warp_bond_percolation.cpp): md5-seeded edge
    survival + engine CC over the surviving subgraph."""
    from powergraph_spark.warp import bond_percolation

    g = _co_graph(spark, sf_dir)
    out = bond_percolation(g, PERC_PROB, seed=PERC_SEED).orderBy("id")
    return out


SIR_P = 0.25       # infection_chance (exact binary fraction: literal-
SIR_R = 0.25       # recovery_chance   parity-safe across engines)
SIR_INIT = 0.125   # initial infection probability
SIR_ITERS = 3
SIR_SEED = "sir7"


def q_cascades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIR epidemic cascade (apps/cascades/cascades.cpp): determinized
    md5-draw replay, 3 supersteps over the co-occurrence graph."""
    from powergraph_spark.algorithms import cascades

    g = _co_graph(spark, sf_dir)
    res = cascades(
        g,
        SIR_P,
        SIR_R,
        init_infected_prob=SIR_INIT,
        max_iterations=SIR_ITERS,
        seed=SIR_SEED,
    )
    return res.state.select("id", "status").orderBy("id")


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the 4 lowest-id seeds, 3 fixed
    supersteps (reset mass only on the seed set), 5dp."""
    from powergraph_spark.algorithms import personalized_pagerank

    g = _co_graph(spark, sf_dir)
    seeds = [r["id"] for r in g.vertices.orderBy("id").limit(4).collect()]
    res = personalized_pagerank(g, seeds, tol=0.0, max_iterations=3)
    return res.state.select(
        "id", F.round("rank", 5).alias("rank")
    ).orderBy("id")


def q_plaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent MLE (CSN continuous approximation) of the
    co-occurrence out-degree distribution, dmin=2."""
    g = _co_graph(spark, sf_dir)
    alpha, n = g.powerlaw_alpha(direction="out", dmin=2)
    return spark.createDataFrame(
        [(round(alpha, 5), n)], "alpha double, n long"
    )


KTRUSS_K = 6
KTRUSS_UNROLL = 10


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss peel (edge analog of kcore.cpp's vertex peel): the
    maximal subgraph where every edge closes >= k-2 triangles, with
    each surviving edge's in-truss support."""
    from powergraph_spark.algorithms import ktruss

    g = _co_graph(spark, sf_dir)
    # canonical_edges: see q_triangles_total
    out, _ = ktruss(g, KTRUSS_K, canonical_edges=True)
    return out.orderBy("a", "b")


def q_hits3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 3 iterations with per-half-step L2
    normalization, over the directed part graph; 5dp."""
    from powergraph_spark.algorithms import hits

    g = _dir_graph(spark, sf_dir)
    out, _, _ = hits(g, max_iterations=3, tol=0.0)
    return out.select(
        "id",
        F.round("hub", 5).alias("hub"),
        F.round("auth", 5).alias("auth"),
    ).orderBy("id")


def q_laplacian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-cut graph Laplacian COO entries
    (graph_laplacian.cpp:95-131,182-202)."""
    from powergraph_spark.algorithms import graph_laplacian

    g = _co_graph(spark, sf_dir)
    return (
        graph_laplacian(g, mode="normalized_cut")
        .select("i", "j", F.round("value", 5).alias("value"))
        .orderBy("i", "j")
    )


def q_eigen3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power-iteration steps of the symmetrized adjacency
    (TSC.cpp:87-310): per-step L2 normalization, rounded 5dp."""
    from powergraph_spark.algorithms import top_eigenvector

    g = _co_graph(spark, sf_dir)
    vec, _ = top_eigenvector(g, max_iterations=3, tol=0.0)
    return vec.select("id", F.round("v", 5).alias("v")).orderBy("id")


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (rows-only; recall vs brute force gated in
    pytest)."""
    from powergraph_spark.datapipe import lsh_topk

    vecs = _load(spark, sf_dir, "embeddings")
    qs = vecs.filter(F.col("vec_id") < 5)
    return lsh_topk(vecs, qs, k=5, n_planes=6).orderBy("query_id", "rank")


# --------------------------------------------- training-data pipeline ops


SIMHASH_MAX_HAMMING = 8
EMB_DUP_THRESHOLD = 0.25


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4x16-bit-block pigeonhole join + exact
    hamming filter (bucket-capped)."""
    from powergraph_spark.datapipe.dedup import simhash_near_dups

    docs = _load(spark, sf_dir, "documents")
    return simhash_near_dups(
        docs, max_hamming=SIMHASH_MAX_HAMMING, max_bucket=MINHASH_CAP
    ).orderBy("id_a", "id_b")


def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification on the MinHash-LSH candidate
    pairs (the verification stage of the dedup pipeline)."""
    from powergraph_spark.datapipe.dedup import jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(
        docs, num_hashes=32, bands=16, k=3,
        hash_family="md5", max_bucket=MINHASH_CAP,
    )
    return jaccard_pairs(docs, cands, k=3).orderBy("id_a", "id_b")


def q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucketed cosine >= threshold."""
    from powergraph_spark.datapipe.similarity import embedding_near_dups

    vecs = _load(spark, sf_dir, "embeddings")
    return embedding_near_dups(
        vecs, threshold=EMB_DUP_THRESHOLD, n_planes=6, seed=42,
        max_bucket=MINHASH_CAP,
    ).orderBy("id_a", "id_b")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counting over the documents table (JVM exprs)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_got"),
    ).orderBy("doc_id")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup lines/paragraphs, top
    2/3-gram coverage, repeated 5-gram chars) — all JVM expressions."""
    from powergraph_spark.datapipe import repetition_stats

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(docs).drop("text").orderBy("doc_id")


def _messy_url_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy-URL link pairs synthesized from documents:
    exercises case folding, default ports, tracking params, fragments,
    and trailing slashes through the canonicalization chain."""
    docs = _load(spark, sf_dir, "documents").select("doc_id")
    return docs.selectExpr(
        "concat('HTTP://Site', CAST(doc_id % 17 AS STRING),"
        " '.Example.com:80/p/', CAST(doc_id AS STRING),"
        " '?utm_source=x&id=', CAST(doc_id AS STRING), '#frag')"
        " AS src_url",
        "concat('https://site', CAST((doc_id * 7) % 17 AS STRING),"
        " '.example.com:443/item/', CAST(doc_id % 50 AS STRING), '/')"
        " AS dst_url",
    )


def q_rank_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-layer composition: keep each document with probability
    proportional to its HOST's weighted PageRank (p = rank/max_rank,
    same md5-uniform draw as quality_sample) — the link-graph signal
    steering corpus curation, the axes-A mission in one query."""
    from powergraph_spark.datapipe.clean import quality_sample

    ranks = q_host_rank(spark, sf_dir)  # (host, rank) rounded 5dp
    mx = float(ranks.agg(F.max("rank")).collect()[0][0])
    docs = _load(spark, sf_dir, "documents").select("doc_id")
    d = docs.select(
        "doc_id",
        F.concat(
            F.lit("site"),
            (F.col("doc_id") % 17).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
    )
    j = d.join(ranks, "host")
    kept = quality_sample(
        j, weight=F.col("rank") / F.lit(mx), id_col="doc_id", seed="ranksample"
    )
    return kept.select(
        "doc_id", "host", F.round("rank", 5).alias("rank"),
        F.round("u", 5).alias("u"),
    ).orderBy("doc_id")


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host-level rollup (webtext.urls): weight
    = links per (src_host, dst_host); min_src pins every step of the
    canonical chain into the value hash."""
    from powergraph_spark.webtext import canonicalize_url, host_graph, host_of

    pairs = _messy_url_pairs(spark, sf_dir)
    hg = host_graph(pairs)
    cs = canonicalize_url(F.col("src_url"))
    cd = canonicalize_url(F.col("dst_url"))
    mins = (
        pairs.select(
            host_of(cs).alias("src_host"),
            host_of(cd).alias("dst_host"),
            cs.alias("c"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.min("c").alias("min_src"))
    )
    return hg.join(mins, ["src_host", "dst_host"]).orderBy(
        "src_host", "dst_host"
    )


def q_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the host graph (pagerank_weighted):
    link counts steer the rank split; 3 fixed supersteps, 5dp."""
    from powergraph_spark.algorithms import pagerank_weighted
    from powergraph_spark.webtext import host_graph
    from pyspark.sql import Window

    pairs = _messy_url_pairs(spark, sf_dir)
    hg = host_graph(pairs)
    hosts = (
        hg.select(F.col("src_host").alias("host"))
        .union(hg.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    # tiny fixture id assignment (17 hosts): global row_number; at
    # crawl scale host ids come from url_id hashing instead
    ids = hosts.select(
        "host",
        F.row_number().over(Window.orderBy("host")).cast("long").alias("id"),
    )
    e = (
        hg.join(ids.selectExpr("host AS src_host", "id AS src"), "src_host")
        .join(ids.selectExpr("host AS dst_host", "id AS dst"), "dst_host")
        .select("src", "dst", F.col("weight").cast("double").alias("weight"))
    )
    g = Graph.from_edges(e, vertices=ids.select("id"), num_partitions=4)
    res = pagerank_weighted(g, tol=0.0, max_iterations=3)
    out = (
        res.state.join(ids, "id")
        .select("host", F.round("rank", 5).alias("rank"))
        .orderBy("host")
    )
    g.unpersist()
    return out


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristic (length/alpha/punct bands)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup hash-groups (all groups, so the comparison is
    non-trivial even on a dup-free corpus)."""
    docs = _load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .orderBy("text_md5")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup survivors: keep the min-id doc per distinct text."""
    from powergraph_spark.datapipe import dedup_exact

    docs = _load(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id").orderBy("doc_id")


def q_text_quality_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text-stat width: whitespace + BPE-ish token counts,
    stopword/punct/alpha ratios (datapipe.text, all JVM exprs)."""
    from powergraph_spark.datapipe.text import (
        alpha_ratio,
        bpe_token_count,
        punct_ratio,
        stopword_ratio,
    )

    docs = _load(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        bpe_token_count(c).alias("n_bpe"),
        F.round(stopword_ratio(c), 5).alias("stopword_ratio"),
        F.round(punct_ratio(c), 5).alias("punct_ratio"),
        F.round(alpha_ratio(c), 5).alias("alpha_ratio"),
    ).orderBy("doc_id")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-min-hash document fingerprint (rolling 5-gram md5 min)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


def q_lang_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID histogram computed by the engine's lang_id heuristic
    (marker-word argmax) — NOT the table's lang column, so the oracle
    actually exercises the operator."""
    from powergraph_spark.datapipe.text import lang_id

    docs = _load(spark, sf_dir, "documents")
    return (
        docs.groupBy(lang_id(F.col("text")).alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


def q_warp_nbr_degree_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp::map_reduce_neighborhood (warp_graph_mapreduce.hpp:62):
    per vertex, the sum of IN-neighbor total degrees over the directed
    co-occurrence orientation — one neighborhood map+combine call at
    every vertex at once."""
    from powergraph_spark.warp import map_reduce_neighborhood

    g = _co_graph(spark, sf_dir)
    deg = (
        g.two_way_edges()
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("m").alias("deg"))
    )
    vdata = g.vertices.select("id").join(deg, "id", "left").select(
        "id", F.coalesce("deg", F.lit(0)).alias("deg")
    )
    out = map_reduce_neighborhood(
        g, vdata, map_fn=None, combine="sum", direction="in",
        value_col="deg", out_col="nbr_deg_sum",
    )
    return out.select(
        "id", F.coalesce("nbr_deg_sum", F.lit(0)).cast("long")
        .alias("nbr_deg_sum")
    ).orderBy("id")


SESSION_GAP_MIN = 240.0


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events table (the batch compile
    of streaming.sessionize — window/lag expressions, no Python);
    sessions as (user_id, start, end, n_events, total_value)."""
    from powergraph_spark.streaming import sessionize

    events = _load(spark, sf_dir, "events")
    out = sessionize(events, gap_minutes=SESSION_GAP_MIN)
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("session_end"),
        "n_events",
        "total_value",
    ).orderBy("user_id", "session_start")


STREAM_WINDOW = "6 hours"
STREAM_WATERMARK = "1 hour"


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming path, oracle-checked: the events table is
    drained through readStream -> event-time tumbling windows with a
    late-data watermark -> exactly-once parquet sink (availableNow),
    and the sink is read back. Both sides keep only windows provably
    closed by the final watermark (append mode withholds open windows
    by definition), so the comparison is deterministic."""
    import shutil

    from powergraph_spark.streaming import (
        run_stream_to_parquet,
        windowed_event_counts,
    )

    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    # content-keyed staging (ADVICE r3): a regenerated dataset with the
    # same basename gets a fresh staging dir, so a stale copy can never
    # feed the streaming side while batch/oracle read the new file.
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_"
        f"{st.st_size}_{st.st_mtime_ns}"
    )
    in_dir = f"/tmp/pg_stream_events_{tag}"
    os.makedirs(in_dir, exist_ok=True)
    staged = os.path.join(in_dir, "events.parquet")
    if not os.path.exists(staged):
        shutil.copy(src, staged)
    out_dir = f"/tmp/pg_stream_out_{tag}"
    ck_dir = f"/tmp/pg_stream_ck_{tag}"
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ck_dir, ignore_errors=True)

    batch = spark.read.parquet(staged)
    stream = spark.readStream.schema(batch.schema).parquet(in_dir)
    run_stream_to_parquet(
        windowed_event_counts(stream, window=STREAM_WINDOW,
                              watermark=STREAM_WATERMARK),
        out_dir, ck_dir,
    )
    res = spark.read.parquet(out_dir)
    max_ts = batch.agg(F.max(F.col("ts").cast("timestamp"))).first()[0]
    return (
        res.filter(
            F.col("window_start") + F.expr(f"INTERVAL {STREAM_WINDOW}")
            <= F.lit(max_ts) - F.expr(f"INTERVAL {STREAM_WATERMARK}")
        )
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


CONTAM_K = 4          # word 4-grams: non-trivial overlap at test SFs
CONTAM_BENCH_IDS = 10  # benchmark set = doc_id < 10


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: corpus docs (doc_id >= 10)
    sharing word 4-grams with the benchmark set (doc_id < 10); the
    standard eval-leakage check of a training-data pipeline. Corpus
    side only streams through a broadcast join — never shuffled by
    gram."""
    from powergraph_spark.datapipe import contamination

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < CONTAM_BENCH_IDS)
    corpus = docs.filter(F.col("doc_id") >= CONTAM_BENCH_IDS)
    return contamination(corpus, bench, k=CONTAM_K, min_overlap=1).orderBy(
        "doc_id", "bench_id"
    )


def _planted_pii(docs: DataFrame) -> DataFrame:
    """Deterministic PII-bearing text derived from doc_id (the
    synthetic corpus contains no natural PII; the SAME construction is
    mirrored in the oracle SQL so redaction is exercised for real)."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"), d.cast("string"), F.lit("@example.com"),
            F.lit(" from 10."), (d % 200).cast("string"),
            F.lit(".0."), ((d * 7) % 250).cast("string"),
            F.lit(" call +1-555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit(" id "), F.lpad((d % 900).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((d % 90).cast("string"), 2, "0"),
            F.lit("-"), F.lpad((d % 9000).cast("string"), 4, "0"),
        ).alias("text"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (email/IPv4/phone/SSN-shaped spans -> typed
    placeholders) + per-kind match counts; pure JVM regexp chain."""
    from powergraph_spark.datapipe.text import pii_counts, redact_pii

    docs = _planted_pii(_load(spark, sf_dir, "documents"))
    c = F.col("text")
    return docs.select(
        "doc_id",
        F.md5(redact_pii(c)).alias("redacted_md5"),
        *pii_counts(c),
    ).orderBy("doc_id")


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 5 vectors (the exact
    baseline of the ANN path)."""
    vecs = _load(spark, sf_dir, "embeddings")
    qs = vecs.filter(F.col("vec_id") < 5)
    return brute_force_topk(vecs, qs, k=5).orderBy("query_id", "rank")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantization, nprobe-cell search."""
    from powergraph_spark.datapipe import ivf_topk

    vecs = _load(spark, sf_dir, "embeddings")
    qs = vecs.filter(F.col("vec_id") < 5)
    return ivf_topk(vecs, qs, k=5, n_cells=16, nprobe=4).orderBy(
        "query_id", "rank"
    )


MINHASH_CAP = 1000  # max bucket size (boilerplate-bucket guard),
# mirrored exactly in the oracle SQL.


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs, md5 hash family so the
    DuckDB oracle recomputes signatures/bands/buckets exactly.

    _spread: the 32 md5-min aggregates ride the scan stage; without
    splitting the single-row-group input they run on ONE core
    (measured 8.2 s -> 2.1 s at sf0.1, identical rows — r6 opt)."""
    docs = _spread(_load(spark, sf_dir, "documents"))
    return minhash_lsh_candidates(
        docs, num_hashes=32, bands=16, k=3,
        hash_family="md5", max_bucket=MINHASH_CAP,
    ).orderBy("id_a", "id_b")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (hex), pure JVM expressions on an
    md5 token-hash spec — byte-identical in the DuckDB oracle."""
    docs = _load(spark, sf_dir, "documents")
    return simhash(docs).select("doc_id", "simhash").orderBy("doc_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank to convergence (tol 1e-4 at smoke scale) on
    the sf0.001 co-occurrence graph."""
    sf_dir = "/root/testdata/sf0.001"
    g = _co_graph(spark, sf_dir, P=8)
    res = pagerank(g, tol=1e-4, max_iterations=50)
    return res.state.select("id", F.round("rank", 5).alias("rank")).orderBy(
        F.desc("rank"), "id"
    )


def _lined_docs(spark: SparkSession, sf_dir: str, punct: bool = False) -> DataFrame:
    """Derive deterministic multi-line documents from the single-line
    synthetic corpus: whitespace tokens chunked into 8-token lines
    (newline-joined).  With punct=True, lines whose 0-based index j has
    j % 3 != 2 get a trailing '.' so the C4 terminal-punctuation rule
    sees both outcomes.  Mirrored token-for-token by the SQL oracles
    (same fixture-derivation idiom as _messy_url_pairs)."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+")
    n = F.size(toks)

    def mk(j: Column) -> Column:
        chunk = F.array_join(F.slice(toks, j * 8 + 1, 8), " ")
        if punct:
            chunk = F.concat(
                chunk,
                F.when(j % 3 != 2, F.lit(".")).otherwise(F.lit("")),
            )
        return chunk

    idx = F.sequence(F.lit(0), F.floor((n - 1) / 8).cast("int"))
    lined = F.array_join(F.transform(idx, mk), "\n")
    return docs.select(
        "doc_id",
        F.when(F.trim(F.col("text")) == "", F.lit("")).otherwise(lined).alias("text"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-line removal (CCNet/RefinedWeb-style):
    keep only the globally-first occurrence of every line, re-assemble
    each doc in order. clean_md5 pins the full surviving text."""
    from powergraph_spark.datapipe import line_dedup

    lined = _lined_docs(spark, sf_dir)
    return (
        line_dedup(lined)
        .select(
            "doc_id", "n_lines", "n_kept",
            F.md5("text_clean").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filtering (terminal punct, >=5 words, marker
    drops) + doc-level keep rule — zero-shuffle JVM projection."""
    from powergraph_spark.datapipe import c4_line_filter

    lined = _lined_docs(spark, sf_dir, punct=True)
    return (
        c4_line_filter(lined)
        .select(
            "doc_id", "n_lines", "n_kept", "kept",
            F.md5("text_clean").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-uniform train/val/test assignment: per-split
    doc count + id checksum (stable under any partitioning/rerun)."""
    from powergraph_spark.datapipe import hash_split

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    return (
        hash_split(docs, fractions=SPLIT_FRACTIONS)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("split")
    )


def q_qsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic Bernoulli sampling: keep doc iff
    md5-uniform(id) < quality_score(text); returns the survivors with
    their draw and weight (5dp)."""
    from powergraph_spark.datapipe import quality_sample

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        quality_sample(docs, quality_score(F.col("text")))
        .select(
            "doc_id",
            F.round("u", 5).alias("u"),
            F.round("w", 5).alias("w"),
        )
        .orderBy("doc_id")
    )


PACK_BUDGET = 64
PACK_SHARDS = 8
VOCAB_TOPK = 50


def q_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: shard-local prefix-sum binning
    (budget 64 tokens, 8 shards), aggregated per sequence."""
    from powergraph_spark.datapipe import pack_sequences

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_sequences(
        docs, budget=PACK_BUDGET, n_shards=PACK_SHARDS
    )
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("shard", "bin")
    )


def q_vocab2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram vocabulary: top-50 lowercased word bigrams by
    (count desc, gram asc) with doc frequencies."""
    from powergraph_spark.datapipe import corpus_ngram_counts

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        corpus_ngram_counts(docs, n=2)
        .orderBy(F.desc("count"), "gram")
        .limit(VOCAB_TOPK)
    )


def q_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text link extraction over synthesized html (entities,
    mixed case, embedded newline) — the full JVM regex chain replayed
    in RE2/DuckDB."""
    from powergraph_spark.webtext import anchor_pairs

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    html = (
        "concat('<html><body><a href=\"http://s',"
        " CAST(doc_id % 7 AS STRING), '.example.com/p/',"
        " CAST(doc_id % 13 AS STRING), '\">anchor ',"
        " CAST(doc_id AS STRING), ' &amp;  more</a><p>pad</p>',"
        " CASE WHEN doc_id % 3 = 0 THEN"
        " concat('<A href=\"http://t.example.com/q\" class=\"z\">second',"
        " char(10), ' link &lt;x&gt;</A>') ELSE '' END,"
        " '</body></html>')"
    )
    pages = docs.selectExpr(
        "concat('http://src/', CAST(doc_id AS STRING)) AS url",
        f"encode({html}, 'UTF-8') AS html",
    )
    return anchor_pairs(pages).orderBy("src_url", "dst_url", "anchor")


def q_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot dedup: newest capture per canonical URL over a
    synthesized re-crawl (doc_id%50 pages, 5 mirror sites, messy URLs
    through the full canonicalization chain; ties broken url/id-asc)."""
    from powergraph_spark.webtext import latest_capture

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    pages = docs.selectExpr(
        "doc_id",
        "concat('HTTP://Site', CAST(doc_id % 5 AS STRING),"
        " '.Example.com:80/p/', CAST(doc_id % 50 AS STRING),"
        " '?utm_source=x&gclid=', CAST(doc_id AS STRING), '#f') AS url",
        "CAST((doc_id * 37) % 1000 AS LONG) AS warc_ts",
    )
    out = latest_capture(pages, id_col="doc_id")
    return out.select("canon_url", "doc_id", "warc_ts").orderBy(
        "canon_url"
    )


def q_quantize8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization: per-vector max-abs
    scale (5dp) + md5 over the full code array pins every int."""
    from powergraph_spark.datapipe import quantize_embeddings

    emb = _load(spark, sf_dir, "embeddings")
    qd = quantize_embeddings(emb)
    return qd.select(
        "vec_id",
        F.round("scale", 5).alias("scale"),
        F.md5(
            F.array_join(
                F.transform(F.col("q"), lambda x: x.cast("string")), ","
            )
        ).alias("q_md5"),
    ).orderBy("vec_id")


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components over the deterministic quadratic
    functional graph i -> (i*i + 7) mod N (rho-shaped: cycles of
    several sizes + long tails). Oracle = INDEPENDENT transitive-
    closure semantics (mutual reachability), not a replay."""
    from powergraph_spark.algorithms import scc
    from powergraph_spark.graph import Graph

    ids = _load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    n = ids.count()
    edges = ids.selectExpr(
        "id AS src", f"(id * id + 7) % {n} AS dst"
    ).filter("src <> dst")
    g = Graph.from_edges(edges, num_partitions=8)
    res = scc(g)
    return res.state.orderBy("id")


def q_tfidf5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per doc (smoothed idf, deterministic
    score/term tie order)."""
    from powergraph_spark.datapipe import tfidf_top_terms

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, k=5).orderBy("doc_id", "rank")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram stupid-backoff LM perplexity signal, self-trained on
    the corpus (CCNet/KenLM-style quality filtering)."""
    from powergraph_spark.datapipe import bigram_lm_scores

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_scores(docs).orderBy("doc_id")


WALK_LEN = 3


def q_walks3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style deterministic walk corpus: 1 walk of up to 3
    steps per vertex over the directed co-occurrence graph (src<dst
    edges give plenty of absorbing dead ends); md5 step draws replayed
    index-for-index in the oracle."""
    from powergraph_spark.algorithms import random_walks

    g = _co_graph(spark, sf_dir, P=16)
    res = random_walks(g, walks_per_vertex=1, length=WALK_LEN)
    return res.walks.select(
        "start",
        F.array_join(
            F.transform(F.col("path"), lambda x: x.cast("string")), ","
        ).alias("path"),
    ).orderBy("start")


GIBBS_BETA = 0.7
GIBBS_SWEEPS = 2


def q_gibbs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chromatic Gibbs sampling (chromatic_sampler.cpp) on a chain
    Ising model (K=2, beta=0.7): parity coloring, 2 determinized
    sweeps, md5 draws — exact state replay in the oracle."""
    from powergraph_spark.algorithms import chromatic_gibbs
    from powergraph_spark.graph import Graph

    ids = _load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    edges = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("b.id") == F.col("a.id") + 1)
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )
    g = Graph.from_edges(edges, num_partitions=8)
    colors = ids.select(
        "id", (F.col("id") % 2).cast("int").alias("color")
    )
    res = chromatic_gibbs(
        g, colors, n_states=2, beta=GIBBS_BETA,
        sweeps=GIBBS_SWEEPS, seed="gibbs",
    )
    return res.state.orderBy("id")


def q_span_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup signal (Lee et al. 2022 shape):
    per-doc fraction of token positions covered by a word-8-gram whose
    fingerprint occurs >=2 times in the whole corpus."""
    from powergraph_spark.datapipe import span_dup_stats

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return span_dup_stats(docs, k=8).orderBy("doc_id")

def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup clustering: MinHash-LSH candidates (md5
    family) -> exact Jaccard >= 0.8 -> min-label connected components
    over the dup-pair graph. One row per doc that participates in a
    near-dup cluster; `cluster` = min doc_id of its component (the
    keep-first survivor)."""
    from powergraph_spark.algorithms import connected_components
    from powergraph_spark.datapipe import (
        jaccard_pairs, minhash_lsh_candidates,
    )
    from powergraph_spark.graph import Graph

    docs = _load(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(
        docs, num_hashes=32, bands=16, k=3,
        hash_family="md5", max_bucket=MINHASH_CAP,
    )
    dups = jaccard_pairs(docs, cands, k=3).filter(F.col("jaccard") >= 0.8)
    g = Graph.from_edges(
        dups.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        num_partitions=8,
    )
    res = connected_components(g)
    return res.state.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    ).orderBy("doc_id")

def q_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal surgery: corpus-wide first occurrence
    (min (doc_id, pos)) of each duplicated word-8-gram is kept, every
    other occurrence's token interval is excised; rebuilt text is
    md5-pinned so the oracle compares the exact surviving bytes."""
    from powergraph_spark.datapipe import span_dedup_rewrite
    from powergraph_spark.datapipe.text import token_count

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    reb = span_dedup_rewrite(docs, k=8)
    return reb.select(
        "doc_id",
        token_count(F.col("text")).alias("n_kept"),
        F.md5("text").alias("clean_md5"),
    ).orderBy("doc_id")

QLR_DIM = 8
QLR_LR = 0.5


def q_qlr2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-BoW logistic-regression quality classifier, 2 full-batch
    GD steps, label = (lang == 'en'): returns the dim+1 weights (bias
    last). Deterministic from zero-init + md5 feature hashing; the
    oracle unrolls both steps (step 1 has p = 0.5 everywhere)."""
    from powergraph_spark.datapipe.classifier import train_quality_lr

    docs = _load(spark, sf_dir, "documents")
    w = train_quality_lr(
        docs, F.col("lang") == "en", dim=QLR_DIM, steps=2, lr=QLR_LR,
    )
    out = spark.createDataFrame(
        [(j, float(v)) for j, v in enumerate(w)], "j int, w double"
    )
    return out.select("j", F.round("w", 5).alias("w")).orderBy("j")

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order matters: the driver's CORRECTNESS harness
    checks the FIRST 50 entries (observed cap, rounds 4-5). Round-6
    rotation (VERDICT r5 item 1; README §correctness):

    - positions 0-18: the 19 queries that have NEVER had a driver row
      (`dd_map2` `dd_proj2` `mplp2` `admm2` `bethe2` `split_counts`
      `quantize8` `image_dups` and the post-freeze tail `lcc` ...
      `rank_sample`) — the graphical-model solver family and the
      round-5 graph-summary tail earn their first driver rows here.
      `admm2`/`image_dups` are rows-only by design (documented).
    - positions 19-49: 31 queries whose newest driver row is the
      stale r04 one (oldest-standing first, in their r04 order).
    - positions 50-68: the remaining 19 r04-green queries (next
      rotation's head), then the 50 r05-green queries whose rows are
      current.

    Every registered query is ALSO oracle-checked on every pytest run
    (tests/test_entry_oracle.py, all 119 at sf0.01)."""
    return {
        # --- never driver-checked (r5 verdict item 1): first driver rows
        "dd_map2": q_dd_map2,
        "dd_proj2": q_dd_proj2,
        "mplp2": q_mplp2,
        "admm2": q_admm2,
        "bethe2": q_bethe2,
        "split_counts": q_split_counts,
        "quantize8": q_quantize8,
        "image_dups": q_image_dups,
        "lcc": q_lcc,
        "assortativity": q_assortativity,
        "modularity_lp": q_modularity_lp,
        "transitivity": q_transitivity,
        "reciprocity": q_reciprocity,
        "link_pred": q_link_pred,
        "harmonic": q_harmonic,
        "louvain2": q_louvain2,
        "louvain_l2": q_louvain_l2,
        "neighbor_sample": q_neighbor_sample,
        "rank_sample": q_rank_sample,
        # --- stale r04 rows, oldest standing -- refresh in-window
        "pagerank3": q_pagerank3,
        "pagerank_warm": q_pagerank_warm,
        "als_k1": q_als_k1,
        "kmeans_clusters": q_kmeans,
        "sgd_k1": q_sgd_k1,
        "svd_k1": q_svd_k1,
        "recommend": q_recommend,
        "connected_components": q_connected_components,
        "cc_warm": q_cc_warm,
        "label_propagation2": q_label_propagation2,
        "triangles_total": q_triangles_total,
        "triangles_per_vertex": q_triangles_per_vertex,
        "sssp_hops": q_sssp_hops,
        "kcore": q_kcore,
        "closeness": q_closeness,
        "betweenness": q_betweenness,
        "dijkstra_tree": q_dijkstra_tree,
        "directed_census": q_directed_census,
        "directed_census_totals": q_directed_census_totals,
        "coloring_conflicts": q_coloring_conflicts,
        "coloring_degree": q_coloring_degree,
        "percolation": q_percolation,
        "laplacian": q_laplacian,
        "eigen3": q_eigen3,
        "approx_diameter": q_approx_diameter,
        "lsh_topk": q_lsh_topk,
        "exact_dup_groups": q_exact_dup_groups,
        "text_quality_full": q_text_quality_full,
        "knn_cosine": q_knn_cosine,
        "ivf_topk": q_ivf_topk,
        "minhash_candidates": q_minhash_candidates,
        # --- r04-green remainder (head of the r07 rotation)
        "simhash": q_simhash,
        "embedding_dups": q_embedding_dups,
        "lang_histogram": q_lang_histogram,
        "prestige": q_prestige,
        "jaccard": q_jaccard,
        "coloring_dsatur": q_coloring_dsatur,
        "simhash_dups": q_simhash_dups,
        "dedup_exact": q_dedup_exact,
        "select_vset": q_select_vset,
        "vset_ops": q_vset_ops,
        "graph_stats": q_graph_stats,
        "neighbors_hop": q_neighbors_hop,
        "vertex_join": q_vertex_join,
        "degree_stats": q_degree_stats,
        "degree_histogram": q_degree_histogram,
        "cc_sizes": q_cc_sizes,
        "text_stats": q_text_stats,
        "quality_score": q_quality_score,
        "doc_fingerprint": q_doc_fingerprint,
        # --- r05-green (current rows)
        "contamination": q_contamination,
        "pii_redact": q_pii_redact,
        "stream_window_counts": q_stream_window_counts,
        "warp_nbr_degree_sum": q_warp_nbr_degree_sum,
        "sessions": q_sessions,
        "lda_k2": q_lda_k2,
        "spectral2": q_spectral2,
        "nmf_k1": q_nmf_k1,
        "lbp2": q_lbp2,
        "svdpp_k1": q_svdpp_k1,
        "wals_k1": q_wals_k1,
        "biassgd_k1": q_biassgd_k1,
        "jacobi_x": q_jacobi,
        "adpredict": q_adpredict,
        "sparse_als_k1": q_sparse_als_k1,
        "recommend_ann": q_recommend_ann,
        "cascades": q_cascades,
        "implicit_edges": q_implicit_edges,
        "repetition": q_repetition,
        "host_graph": q_host_graph,
        "host_rank": q_host_rank,
        "ppr": q_ppr,
        "hits3": q_hits3,
        "plaw_alpha": q_plaw_alpha,
        "ktruss": q_ktruss,
        "line_dedup": q_line_dedup,
        "c4_clean": q_c4_clean,
        "qsample": q_qsample,
        "gibbs2": q_gibbs2,
        "packing": q_packing,
        "vocab2": q_vocab2,
        "latest_capture": q_latest_capture,
        "anchors": q_anchors,
        "walks3": q_walks3,
        "lm_score": q_lm_score,
        "tfidf5": q_tfidf5,
        "scc": q_scc,
        "span_dup": q_span_dup,
        "dup_clusters": q_dup_clusters,
        "span_rewrite": q_span_rewrite,
        "qlr2": q_qlr2,
        "semdedup": q_semdedup,
        "dsir_sample": q_dsir,
        "bpe3": q_bpe,
        "ppl_buckets": q_ppl_buckets,
        "hll_words": q_hll_words,
        "strat_sample": q_strat_sample,
        "mixture40": q_mixture,
        "blocklist": q_blocklist,
        "sppmi2": q_sppmi,
    }


# -------------------------------------------------------------- oracle SQL

_HEX = "0123456789abcdef"
# shared DuckDB token-array expression (mirror of text.tokens())
_SQL_TOKS = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(text), '[ \t\n\r\f]+') END"
)


# Materialized variant for the unrolled oracles (kcore / diameter):
# each unrolled level references the edge set again, and DuckDB
# re-scans the parquet per non-materialized CTE reference (-> fd
# exhaustion at deep unrolls).
_SQL_EDGES_MAT = _SQL_EDGES.replace(
    "e AS (", "e AS MATERIALIZED (", 1
).replace("und AS (", "und AS MATERIALIZED (", 1).replace(
    "v AS (", "v AS MATERIALIZED (", 1
)


def _kcore_sql(k: int, unroll: int) -> str:
    """Unrolled Jacobi peel: s(n+1) = {v in s(n): >=k neighbors in
    s(n)}. Exact no-op once the fixpoint (the unique k-core) is
    reached, so over-unrolling is safe."""
    levels = ["s0 AS MATERIALIZED (SELECT src AS id FROM und GROUP BY src)"]
    for n in range(1, unroll + 1):
        levels.append(
            f"s{n} AS MATERIALIZED (SELECT e.src AS id FROM und e "
            f"JOIN s{n - 1} a ON a.id = e.src JOIN s{n - 1} b ON b.id = e.dst "
            f"GROUP BY e.src HAVING COUNT(*) >= {k})"
        )
    return (
        f"WITH {_SQL_EDGES_MAT},\n" + ",\n".join(levels)
        + f"\nSELECT id FROM s{unroll} ORDER BY id"
    )


def _simhash_fp_ctes() -> str:
    """CTE body computing fpall(doc_id, simhash) — the md5-vote
    fingerprint for every document."""
    votes = []
    for kbit in range(64):
        j, b = divmod(kbit, 4)
        d = f"(strpos('{_HEX}', substr(h, {j + 1}, 1)) - 1)"
        votes.append(
            f"SUM(CASE WHEN (({d} >> {3 - b}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS v{kbit}"
        )
    nibs = []
    for j in range(16):
        nib = " + ".join(
            f"(CASE WHEN v{4 * j + b} > 0 THEN {8 >> b} ELSE 0 END)"
            for b in range(4)
        )
        nibs.append(f"substr('{_HEX}', ({nib}) + 1, 1)")
    return f"""toks AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS tok FROM documents
),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
votes AS (SELECT doc_id, {', '.join(votes)} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, ({' || '.join(nibs)}) AS simhash FROM votes),
fpall AS MATERIALIZED (
  SELECT d.doc_id, COALESCE(fp.simhash, '0000000000000000') AS simhash
  FROM documents d LEFT JOIN fp USING (doc_id)
)"""


def _simhash_sql() -> str:
    return (
        f"WITH {_simhash_fp_ctes()}\n"
        "SELECT doc_id, simhash FROM fpall ORDER BY doc_id"
    )


def _simhash_dups_sql(max_hamming: int, cap: int) -> str:
    from powergraph_spark.datapipe.dedup import simhash_block_bounds

    ham = " + ".join(
        f"bit_count(xor((strpos('{_HEX}', substr(ha, {j + 1}, 1)) - 1),"
        f" (strpos('{_HEX}', substr(hb, {j + 1}, 1)) - 1)))"
        for j in range(16)
    )
    # max_hamming+1 nibble blocks (full-recall pigeonhole) — mirrors
    # dedup.simhash_block_bounds exactly.
    block_rows = " UNION ALL ".join(
        f"SELECT {b} AS blk, substr(simhash, {lo + 1}, {hi - lo}) AS key, "
        "doc_id, simhash FROM fpall"
        for b, (lo, hi) in enumerate(simhash_block_bounds(max_hamming))
    )
    return f"""
WITH {_simhash_fp_ctes()},
blocks AS ({block_rows}),
ok AS (SELECT blk, key FROM blocks GROUP BY blk, key HAVING COUNT(*) <= {cap}),
kept AS (SELECT bl.* FROM blocks bl JOIN ok USING (blk, key)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS ha, b.simhash AS hb
  FROM kept a JOIN kept b
    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, ({ham})::BIGINT AS hamming
FROM pairs WHERE ({ham}) <= {max_hamming}
ORDER BY id_a, id_b
"""


def _minhash_ctes(num_hashes: int, bands: int, k: int, cap: int) -> str:
    """CTE body ending in cand(id_a, id_b) — the capped LSH candidate
    pairs — plus toks for downstream shingle reuse."""
    r = num_hashes // bands
    return f"""toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= {k} THEN list_transform(
        generate_series(1, len(t) - {k - 1}),
        i -> array_to_string(t[i:i+{k - 1}], ' '))
    ELSE t END)) AS s
  FROM toks
),
hashes AS (
  SELECT doc_id, i.i, md5(i.i::VARCHAR || ':' || s) AS h
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {num_hashes - 1})) AS i) i
),
sig AS (SELECT doc_id, i, MIN(h) AS mh FROM hashes GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // {r} AS band,
         md5(string_agg(mh, ',' ORDER BY i)) AS bucket
  FROM sig GROUP BY doc_id, i // {r}
),
ok AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket
  HAVING COUNT(*) <= {cap}
),
kept AS (SELECT b.* FROM bands b JOIN ok USING (band, bucket)),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


def _minhash_sql(num_hashes: int, bands: int, k: int, cap: int) -> str:
    return (
        f"WITH {_minhash_ctes(num_hashes, bands, k, cap)}\n"
        "SELECT id_a, id_b FROM cand ORDER BY id_a, id_b"
    )


def _jaccard_sql(num_hashes: int, bands: int, k: int, cap: int) -> str:
    return f"""
WITH {_minhash_ctes(num_hashes, bands, k, cap)},
sharr AS MATERIALIZED (
  SELECT doc_id, list_distinct(
    CASE WHEN len(t) >= {k} THEN list_transform(
        generate_series(1, len(t) - {k - 1}),
        i -> array_to_string(t[i:i+{k - 1}], ' '))
    ELSE t END) AS sh
  FROM toks
),
scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.sh, b.sh))::DOUBLE AS ilen,
         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
           AS ulen
  FROM cand c
  JOIN sharr a ON a.doc_id = c.id_a
  JOIN sharr b ON b.doc_id = c.id_b
)
SELECT id_a, id_b,
       ROUND(CASE WHEN ulen > 0 THEN ilen / ulen ELSE 0.0 END, 5) AS jaccard
FROM scored ORDER BY id_a, id_b
"""


def _dup_clusters_sql(num_hashes: int, bands: int, k: int, cap: int,
                      thr: float) -> str:
    """Jaccard-verified LSH pairs -> transitive closure (recursive
    CTE) -> min-reachable-id component label, mirroring min-label CC."""
    return f"""
WITH RECURSIVE {_minhash_ctes(num_hashes, bands, k, cap)},
sharr AS MATERIALIZED (
  SELECT doc_id, list_distinct(
    CASE WHEN len(t) >= {k} THEN list_transform(
        generate_series(1, len(t) - {k - 1}),
        i -> array_to_string(t[i:i+{k - 1}], ' '))
    ELSE t END) AS sh
  FROM toks
),
scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.sh, b.sh))::DOUBLE AS ilen,
         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
           AS ulen
  FROM cand c
  JOIN sharr a ON a.doc_id = c.id_a
  JOIN sharr b ON b.doc_id = c.id_b
),
dup AS MATERIALIZED (
  SELECT id_a, id_b FROM scored
  WHERE ROUND(CASE WHEN ulen > 0 THEN ilen / ulen ELSE 0.0 END, 5) >= {thr}
),
und AS (SELECT id_a AS a, id_b AS b FROM dup
        UNION SELECT id_b, id_a FROM dup),
reach AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
),
members AS (SELECT DISTINCT a AS id FROM und),
lab AS (
  SELECT m.id, LEAST(m.id, MIN(r.b))::BIGINT AS component
  FROM members m LEFT JOIN reach r ON r.a = m.id GROUP BY m.id
)
SELECT id AS doc_id, component AS cluster FROM lab ORDER BY doc_id
"""


def _sql_md5_u32(hcol: str) -> str:
    """Integer form of _sql_md5_u: first 8 md5 nibbles as a u32
    (mirrors classifier.hash_bucket before the mod)."""
    return "(" + " + ".join(
        f"(strpos('{_HEX}', substr({hcol}, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    ) + ")"


def _qlr_sql(dim: int, lr: float) -> str:
    """Two unrolled GD steps of the hashed-BoW logistic regression.
    Step 1: w0 = 0 so every p = 0.5; step 2 scores from w1. The j
    domain is seeded so zero-weight buckets still emit rows."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {_SQL_TOKS} AS t,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
tok AS (SELECT doc_id, unnest(t) AS tok FROM base),
bkt AS (
  SELECT doc_id, {_sql_md5_u32("md5(tok)")} % {dim} AS j FROM tok
),
feat AS MATERIALIZED (
  SELECT doc_id, j, COUNT(*)::DOUBLE AS x FROM bkt GROUP BY doc_id, j
  UNION ALL
  SELECT doc_id, {dim} AS j, 1.0 AS x FROM base
),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM base),
dom AS (SELECT unnest(generate_series(0, {dim})) AS j),
g1 AS (
  SELECT f.j, SUM((0.5 - b.y) * f.x) / (SELECT n FROM nn) AS g
  FROM feat f JOIN base b USING (doc_id) GROUP BY f.j
),
w1 AS (
  SELECT d.j, -{lr} * COALESCE(g1.g, 0.0) AS w
  FROM dom d LEFT JOIN g1 USING (j)
),
z2 AS (
  SELECT f.doc_id, SUM(f.x * w.w) AS z
  FROM feat f JOIN w1 w USING (j) GROUP BY f.doc_id
),
p2 AS (
  SELECT b.doc_id, b.y,
         1.0 / (1.0 + exp(-COALESCE(z.z, 0.0))) AS p
  FROM base b LEFT JOIN z2 z USING (doc_id)
),
g2 AS (
  SELECT f.j, SUM((p.p - p.y) * f.x) / (SELECT n FROM nn) AS g
  FROM feat f JOIN p2 p USING (doc_id) GROUP BY f.j
)
SELECT w1.j::INT AS j, ROUND(w1.w - {lr} * COALESCE(g2.g, 0.0), 5) AS w
FROM w1 LEFT JOIN g2 USING (j) ORDER BY w1.j
"""


def _dsir_sql(dim: int = DSIR_DIM, n: int = DSIR_N,
              alpha: float = 1.0, seed: str = "drv") -> str:
    """DuckDB twin of q_dsir: same md5-nibble buckets, same
    Laplace-smoothed log-ratio arithmetic in the same op order, the
    per-doc score replayed as an ORDERED left fold (list_reduce with a
    prepended 0.0 seed — mirrors Spark's F.aggregate, since the top-n
    cutoff compares unrounded keys), same +0.5-shifted Gumbel draws."""
    a = f"{alpha!r}::DOUBLE"
    ad = f"{alpha * dim!r}::DOUBLE"
    bucket_tok = f"({_sql_md5_u32('md5(tok)')} % {dim})"
    u32_id = _sql_md5_u32(f"md5('{seed}:' || doc_id::VARCHAR)")
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {_SQL_TOKS} AS t, lang FROM documents
),
tok AS (SELECT doc_id, unnest(t) AS tok FROM base),
bkt AS MATERIALIZED (SELECT doc_id, {bucket_tok} AS j FROM tok),
rawc AS (SELECT j, COUNT(*) AS c FROM bkt GROUP BY j),
tgtc AS (
  SELECT k.j, COUNT(*) AS c FROM bkt k JOIN base b USING (doc_id)
  WHERE b.lang = 'en' GROUP BY k.j
),
tot AS (
  SELECT (SELECT COALESCE(SUM(c), 0)::DOUBLE FROM rawc) AS tr,
         (SELECT COALESCE(SUM(c), 0)::DOUBLE FROM tgtc) AS tt
),
dom AS (SELECT unnest(generate_series(0, {dim - 1})) AS j),
lr AS (
  SELECT d.j,
         ln((COALESCE(t.c, 0)::DOUBLE + {a}) / (tot.tt + {ad}))
       - ln((COALESCE(r.c, 0)::DOUBLE + {a}) / (tot.tr + {ad})) AS w
  FROM dom d LEFT JOIN tgtc t USING (j) LEFT JOIN rawc r USING (j)
  CROSS JOIN tot
),
lrarr AS (SELECT list(w ORDER BY j) AS lr FROM lr),
sc AS (
  SELECT b.doc_id,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list_transform(b.t, tok -> l.lr[{bucket_tok} + 1])),
           (x, y) -> x + y) AS s
  FROM base b CROSS JOIN lrarr l
),
sel AS (
  SELECT doc_id, s,
         s + (- ln(- ln((({u32_id}) + 0.5E0) / 4294967296.0E0))) AS g
  FROM sc
  ORDER BY g DESC, doc_id ASC LIMIT {n}
)
SELECT doc_id, ROUND(s, 5) AS iw_score, ROUND(g, 5) AS gkey
FROM sel ORDER BY doc_id
"""


def _bpe_sql(n_merges: int = BPE_MERGES) -> str:
    """Unrolled DuckDB twin of q_bpe: same char+</w> seeding (RE2 has
    no lookahead, so both engines split-then-drop-empties), same
    overlapping pair counts weighted by word frequency, same
    (count DESC, a, b) tie-break, and the same greedy leftmost
    non-overlapping re-segmentation — replayed positionally: matches
    grouped into consecutive runs, every even-offset match taken,
    consumed positions dropped on rebuild."""
    parts = [
        "w0 AS MATERIALIZED (SELECT word, COUNT(*) AS cnt, "
        "list_append(list_filter(string_split_regex(word, ''), "
        "x -> x <> ''), '</w>') AS syms FROM ("
        f"SELECT unnest({_SQL_TOKS}) AS word FROM documents) GROUP BY word)"
    ]
    for r in range(1, n_merges + 1):
        p = f"w{r - 1}"
        parts.append(
            f"m{r} AS MATERIALIZED (SELECT a, b, c FROM ("
            "SELECT syms[i] AS a, syms[i + 1] AS b, SUM(cnt) AS c "
            f"FROM (SELECT cnt, syms, unnest(CASE WHEN len(syms) >= 2 "
            "THEN generate_series(1, len(syms) - 1) ELSE []::BIGINT[] "
            f"END) AS i FROM {p}) GROUP BY syms[i], syms[i + 1]) "
            "ORDER BY c DESC, a ASC, b ASC LIMIT 1)"
        )
        parts.append(
            f"mm{r} AS (SELECT word, i, "
            "i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp "
            f"FROM (SELECT w.word, w.syms, unnest(CASE WHEN "
            "len(w.syms) >= 2 THEN generate_series(1, len(w.syms) - 1) "
            f"ELSE []::BIGINT[] END) AS i FROM {p} w), m{r} m "
            "WHERE syms[i] = m.a AND syms[i + 1] = m.b)"
        )
        parts.append(
            f"tk{r} AS (SELECT word, i FROM (SELECT word, i, "
            "ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY i) AS k "
            f"FROM mm{r}) WHERE (k - 1) % 2 = 0)"
        )
        parts.append(
            f"px{r} AS (SELECT word, syms, "
            "unnest(generate_series(1, len(syms))) AS p "
            f"FROM {p})"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT px.word, "
            f"ANY_VALUE(w.cnt) AS cnt, "
            "list(CASE WHEN t1.i IS NOT NULL THEN "
            "px.syms[px.p] || px.syms[px.p + 1] ELSE px.syms[px.p] END "
            "ORDER BY px.p) FILTER (WHERE t2.i IS NULL) AS syms "
            f"FROM px{r} px "
            f"JOIN {p} w ON w.word = px.word "
            f"LEFT JOIN tk{r} t1 ON t1.word = px.word AND t1.i = px.p "
            f"LEFT JOIN tk{r} t2 ON t2.word = px.word AND t2.i = px.p - 1 "
            "GROUP BY px.word)"
        )
    final = " UNION ALL ".join(
        f"SELECT {r} AS rank, a AS \"left\", b AS \"right\", "
        f"c::BIGINT AS freq FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT * FROM ({final}) ORDER BY rank"
    )


def _mixture_sql(weights: dict | None = None, n: int = MIX_N,
                 seed: str = "drv") -> str:
    """DuckDB twin of q_mixture: the same largest-remainder quotas
    (computed by the SAME python helper and embedded as a VALUES
    table) over the replayed bottom-k draws."""
    from powergraph_spark.datapipe import mixture_quotas

    quota = mixture_quotas(weights or MIX_WEIGHTS, n)
    vals = ", ".join(
        f"('{k}', {v})" for k, v in sorted(quota.items())
    )
    u = _sql_md5_u32(f"md5('{seed}:' || doc_id::VARCHAR)")
    return f"""
WITH d AS (
  SELECT doc_id, lang,
         ({u})::DOUBLE / 4294967296.0E0 AS u
  FROM documents
),
r AS (
  SELECT doc_id, lang, u,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rk
  FROM d
),
q AS (SELECT * FROM (VALUES {vals}) q(lang, quota))
SELECT doc_id, lang, ROUND(u, 5) AS u
FROM r JOIN q USING (lang) WHERE rk <= quota ORDER BY doc_id
"""


def _lm_sql_with(tail: str) -> str:
    """Shared bigram stupid-backoff LM CTE chain (twin of
    datapipe.text.bigram_lm_scores), ending at ``s`` =
    (doc_id, n_bigrams, avg_logprob-rounded-5dp); used by the
    lm_score and ppl_buckets oracles."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, list_transform({_SQL_TOKS}, t -> lower(t)) AS ltoks
  FROM documents
),
uni AS MATERIALIZED (
  SELECT w, COUNT(*) AS c1
  FROM (SELECT unnest(ltoks) AS w FROM base) GROUP BY w
),
nv AS (SELECT SUM(c1) AS n, COUNT(*) AS v FROM uni),
grams AS MATERIALIZED (
  SELECT doc_id, unnest(
    CASE WHEN len(ltoks) >= 2 THEN
      list_transform(generate_series(1, len(ltoks) - 1),
                     i -> array_to_string(ltoks[i:i+1], ' '))
    ELSE []::VARCHAR[] END) AS g
  FROM base
),
bi AS MATERIALIZED (SELECT g, COUNT(*) AS c12 FROM grams GROUP BY g),
db AS (SELECT doc_id, g,
              string_split(g, ' ')[1] AS w1,
              string_split(g, ' ')[2] AS w2
       FROM grams),
j AS (
  SELECT d.doc_id,
         CASE WHEN b.c12 IS NOT NULL THEN ln(b.c12::DOUBLE / u1.c1)
              ELSE ln(0.4 * (COALESCE(u2.c1, 0) + 1)::DOUBLE
                      / (SELECT n + v FROM nv)) END AS lp
  FROM db d LEFT JOIN bi b USING (g)
  LEFT JOIN uni u1 ON u1.w = d.w1
  LEFT JOIN uni u2 ON u2.w = d.w2
),
s AS (SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(AVG(lp), 5) AS avg_logprob
      FROM j GROUP BY doc_id)
{tail}"""


def _hll_sql(b: int = 10) -> str:
    """DuckDB twin of q_hll_words: same md5-u32 hash, same idx/w
    split (mod/div), same bin()-length rho, same alpha*m^2 literal and
    small-range correction. The 2^-rho register sum is exact in
    float64 (dyadic terms), so aggregation order is immaterial."""
    from powergraph_spark.datapipe.sketch import _alpha

    m = 1 << b
    a = repr(_alpha(m) * m * m)
    h = _sql_md5_u32("md5(w)")
    return f"""
WITH toks AS (
  SELECT lang, lower(unnest({_SQL_TOKS})) AS w FROM documents
),
hx AS (
  SELECT lang, ({h}) % {m} AS idx, ({h}) // {m} AS wd FROM toks
),
reg AS (
  SELECT lang, idx,
         MAX(CASE WHEN wd > 0 THEN {32 - b} - length(bin(wd)) + 1
                  ELSE {32 - b + 1} END) AS rho
  FROM hx GROUP BY lang, idx
),
agg AS (
  SELECT lang, COUNT(*) AS cnt, SUM(power(2.0, -rho)) AS z
  FROM reg GROUP BY lang
)
SELECT lang,
       ROUND(CASE WHEN ({a} / (z + ({m} - cnt))) <= {2.5 * m!r}
                   AND ({m} - cnt) > 0
                  THEN {float(m)!r} * ln({float(m)!r} / ({m} - cnt))
                  ELSE {a} / (z + ({m} - cnt)) END, 4) AS est
FROM agg ORDER BY lang
"""


def _ivf_sql(n_cells: int, nprobe: int, k: int) -> str:
    """Mirror of datapipe.similarity.ivf_topk: seeded unit centroids,
    assignment = argmax cosine (tie -> larger cell id, matching the
    reversed array_sort), queries probe the nprobe best cells."""
    import numpy as np

    rng = np.random.RandomState(42)
    cents = rng.randn(n_cells, 64).astype(np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vals = ", ".join(
        f"({i}, [" + ", ".join(repr(float(x)) for x in c) + "])"
        for i, c in enumerate(cents)
    )
    cos = (
        "list_dot_product(v.e, c.cv)"
        " / (sqrt(list_dot_product(v.e, v.e))"
        " * sqrt(list_dot_product(c.cv, c.cv)))"
    )
    return f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (SELECT * FROM (VALUES {vals}) c(cell, cv)),
sims AS (
  SELECT v.vec_id, c.cell, {cos} AS sim
  FROM vecs v CROSS JOIN cents c
),
ranked_cells AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cell DESC) AS rn
  FROM sims
),
assign AS (SELECT vec_id AS neighbor_id, cell FROM ranked_cells WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cell FROM ranked_cells
  WHERE rn <= {nprobe} AND vec_id < 5
),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE a.neighbor_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(q.e, n.e)
           / (sqrt(list_dot_product(q.e, q.e))
              * sqrt(list_dot_product(n.e, n.e))) AS sim
  FROM cand c
  JOIN vecs q ON q.vec_id = c.query_id
  JOIN vecs n ON n.vec_id = c.neighbor_id
),
final AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(sim, 5) AS sim
FROM final WHERE rank <= {k} ORDER BY query_id, rank
"""


def _embedding_dups_sql(n_planes: int, threshold: float, cap: int) -> str:
    from powergraph_spark.datapipe.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes, seed=42)
    plane_lits = [
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(vec, {plane_lits[i]}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
WITH vv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
vb AS (SELECT id, vec, ({bucket}) AS bucket FROM vv),
vkept AS (
  SELECT id, vec, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS _n FROM vb
  ) WHERE _n <= {cap}
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         list_dot_product(a.vec, b.vec)
           / (sqrt(list_dot_product(a.vec, a.vec))
              * sqrt(list_dot_product(b.vec, b.vec))) AS sim
  FROM vkept a JOIN vkept b ON a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b, ROUND(sim, 5) AS sim
FROM pairs WHERE sim >= {threshold} ORDER BY id_a, id_b
"""


_NIB_TZ_SQL = (
    "CASE {c} WHEN '1' THEN 0 WHEN '2' THEN 1 WHEN '3' THEN 0 WHEN '4' THEN 2 "
    "WHEN '5' THEN 0 WHEN '6' THEN 1 WHEN '7' THEN 0 WHEN '8' THEN 3 "
    "WHEN '9' THEN 0 WHEN 'a' THEN 1 WHEN 'b' THEN 0 WHEN 'c' THEN 2 "
    "WHEN 'd' THEN 0 WHEN 'e' THEN 1 ELSE 0 END"
)


def _diameter_sql(r: int, max_hops: int, tol: float) -> str:
    """Mirror of algorithms.approx_diameter: md5 FM masks, per-hop
    OR-gather over OUT neighbors, stop at first hop whose estimate
    growth is <= prev * tol (masks are integers so the fixpoint hop is
    engine-independent)."""
    # initial masks: (id, reg, m)
    mask_rows = []
    for reg in range(r):
        h = f"substr(md5('{reg}:' || id::VARCHAR), 1, 15)"
        s = f"rtrim({h}, '0')"
        last = f"substr({s}, length({s}), 1)"
        tz = (
            f"CASE WHEN length({s}) = 0 THEN 60 "
            f"ELSE 4 * (15 - length({s})) + {_NIB_TZ_SQL.format(c=last)} END"
        )
        mask_rows.append(
            f"SELECT id, {reg} AS reg, (1::BIGINT << LEAST({tz}, 60)) AS m FROM v"
        )
    est = (
        "SELECT SUM(pow(2.0, mb) / 0.77351) AS est FROM ("
        "SELECT id, AVG(CAST(LEAST(bit_count(m & ~(m + 1)), 60) AS DOUBLE)) AS mb "
        "FROM m{h} GROUP BY id)"
    )
    parts = [
        f"m0 AS MATERIALIZED ({' UNION ALL '.join(mask_rows)})",
        f"e0 AS ({est.format(h=0)})",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"n{h} AS (SELECT e.src AS id, m.reg, bit_or(m.m) AS nm "
            f"FROM e JOIN m{h - 1} m ON m.id = e.dst GROUP BY e.src, m.reg)"
        )
        parts.append(
            f"m{h} AS MATERIALIZED (SELECT m.id, m.reg, m.m | COALESCE(n.nm, 0)"
            f" AS m "
            f"FROM m{h - 1} m LEFT JOIN n{h} n ON n.id = m.id AND n.reg = m.reg)"
        )
        parts.append(f"e{h} AS ({est.format(h=h)})")
    ests = " UNION ALL ".join(
        f"SELECT {h} AS hop, est FROM e{h}" for h in range(max_hops + 1)
    )
    parts.append(f"ests AS ({ests})")
    parts.append(
        "g AS (SELECT hop, est, lag(est) OVER (ORDER BY hop) AS prev FROM ests)"
    )
    return (
        f"WITH {_SQL_EDGES_MAT},\n" + ",\n".join(parts)
        + f"\nSELECT CAST(COALESCE((SELECT MIN(hop) FROM g "
        f"WHERE prev > 0 AND (est - prev) <= prev * {tol}) - 1, {max_hops}) "
        "AS BIGINT) AS diameter_hops"
    )


def _lang_sql() -> str:
    from powergraph_spark.datapipe.text import LANG_MARKERS

    hit_cols, case_arms = [], []
    for lang in sorted(LANG_MARKERS):
        lit = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        hit_cols.append(
            f"len(list_filter(toks, x -> list_contains([{lit}], x))) AS h_{lang}"
        )
        case_arms.append(f"WHEN h_{lang} = mx THEN '{lang}'")
    langs = sorted(LANG_MARKERS)
    mx = "GREATEST(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    return f"""
WITH t AS (
  SELECT doc_id, list_transform({_SQL_TOKS}, x -> lower(x)) AS toks
  FROM documents
),
h AS (SELECT doc_id, {', '.join(hit_cols)} FROM t),
m AS (SELECT doc_id, *, {mx} AS mx FROM h),
pred AS (
  SELECT doc_id,
         CASE WHEN mx = 0 THEN 'und' {' '.join(case_arms)} ELSE 'und' END AS lang
  FROM m
)
SELECT lang, COUNT(*) AS n_docs FROM pred GROUP BY lang ORDER BY lang
"""


def _lsh_topk_sql(n_planes: int, k: int) -> str:
    from powergraph_spark.datapipe.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes, seed=42)
    plane_lits = [
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product({{v}}, {plane_lits[i]}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    probe_masks = [0] + [1 << i for i in range(n_planes)]
    masks_vals = ", ".join(f"({m})" for m in probe_masks)
    return f"""
WITH vv AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM embeddings
),
vb AS (SELECT neighbor_id, nv, ({bucket.format(v='nv')}) AS bucket FROM vv),
qq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5
),
qb AS (SELECT query_id, qv, ({bucket.format(v='qv')}) AS base FROM qq),
probes AS (
  SELECT query_id, xor(base::BIGINT, mm.m::BIGINT) AS bucket
  FROM qb CROSS JOIN (VALUES {masks_vals}) mm(m)
),
cand AS (
  SELECT DISTINCT p.query_id, v.neighbor_id
  FROM probes p JOIN vb v ON v.bucket = p.bucket
  WHERE v.neighbor_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(q.qv, v.nv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(v.nv, v.nv))) AS sim
  FROM cand c
  JOIN qb q ON q.query_id = c.query_id
  JOIN vb v ON v.neighbor_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(sim, 5) AS sim
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


_HOST_GRAPH_SQL = r"""
WITH pairs AS (
  SELECT 'HTTP://Site' || (doc_id % 17)::VARCHAR || '.Example.com:80/p/'
         || doc_id::VARCHAR || '?utm_source=x&id=' || doc_id::VARCHAR
         || '#frag' AS src_url,
         'https://site' || ((doc_id * 7) % 17)::VARCHAR
         || '.example.com:443/item/' || (doc_id % 50)::VARCHAR || '/'
         AS dst_url
  FROM documents
),
canon AS (
  SELECT
    regexp_replace(trim(src_url), '#.*$', '') AS s1,
    regexp_replace(trim(dst_url), '#.*$', '') AS d1,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(s1,
      '([?&])(utm_[a-zA-Z0-9_]+|gclid|fbclid)=[^&#]*', '\1', 'g'),
      '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '') AS s2,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(d1,
      '([?&])(utm_[a-zA-Z0-9_]+|gclid|fbclid)=[^&#]*', '\1', 'g'),
      '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '') AS d2,
    lower(regexp_extract(s2, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS ss,
    lower(regexp_extract(s2, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS sa,
    regexp_replace(s2, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS sr,
    lower(regexp_extract(d2, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS ds,
    lower(regexp_extract(d2, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS da,
    regexp_replace(d2, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS dr,
    CASE WHEN ss = 'http' THEN regexp_replace(sa, ':80$', '')
         WHEN ss = 'https' THEN regexp_replace(sa, ':443$', '')
         ELSE sa END AS sa2,
    CASE WHEN ds = 'http' THEN regexp_replace(da, ':80$', '')
         WHEN ds = 'https' THEN regexp_replace(da, ':443$', '')
         ELSE da END AS da2,
    regexp_replace(CASE WHEN ss <> '' THEN ss || '://' || sa2 || sr
                        ELSE s2 END, '/$', '') AS cs,
    regexp_replace(CASE WHEN ds <> '' THEN ds || '://' || da2 || dr
                        ELSE d2 END, '/$', '') AS cd
  FROM pairs
),
hosted AS (
  SELECT lower(regexp_extract(cs, '://([^/?#:]*)', 1)) AS src_host,
         lower(regexp_extract(cd, '://([^/?#:]*)', 1)) AS dst_host,
         cs
  FROM canon
  WHERE lower(regexp_extract(cs, '://([^/?#:]*)', 1)) <> ''
    AND lower(regexp_extract(cd, '://([^/?#:]*)', 1)) <> ''
)
SELECT src_host, dst_host, COUNT(*) AS weight, MIN(cs) AS min_src
FROM hosted
GROUP BY src_host, dst_host
ORDER BY src_host, dst_host
"""


def _ppr_sql() -> str:
    """Personalized-PageRank unroll: reset = 0.15 on the 4 lowest-id
    seeds else 0; r0 = reset; 3 steps mirroring the engine's
    rank/out_deg contribution order."""
    steps = []
    for t in range(1, 4):
        steps.append(f"""
r{t} AS (
  SELECT v.id,
         (CASE WHEN s.id IS NOT NULL THEN 0.15 ELSE 0.0 END)
         + 0.85 * COALESCE(SUM(r{t - 1}.rank / od.c), 0.0) AS rank
  FROM v LEFT JOIN seeds s ON s.id = v.id
         LEFT JOIN e ON e.dst = v.id
         LEFT JOIN r{t - 1} ON r{t - 1}.id = e.src
         LEFT JOIN od ON od.id = e.src
  GROUP BY v.id, s.id
)""")
    body = ",".join(steps)
    return f"""
WITH {_SQL_EDGES_MAT},
seeds AS MATERIALIZED (SELECT id FROM v ORDER BY id LIMIT 4),
od AS (SELECT src AS id, COUNT(*) AS c FROM e GROUP BY src),
r0 AS (
  SELECT v.id,
         CASE WHEN s.id IS NOT NULL THEN 0.15 ELSE 0.0 END AS rank
  FROM v LEFT JOIN seeds s ON s.id = v.id
),{body}
SELECT id, ROUND(rank, 5) AS rank FROM r3 ORDER BY id
"""


def _ktruss_sql(k: int, unroll: int) -> str:
    """Unrolled k-truss peel: per level, enumerate triangles with the
    x<y<z three-way join, credit each triangle's three edges, keep
    edges with support >= k-2. Exact no-op at the fixpoint, so
    over-unrolling is safe (same property as the kcore oracle)."""
    need = k - 2

    def tri(t: int) -> str:
        return (
            f"t{t} AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z"
            f" FROM u{t} e1 JOIN u{t} e2 ON e2.a = e1.b"
            f" JOIN u{t} e3 ON e3.a = e1.a AND e3.b = e2.b)"
        )

    def sup(t: int) -> str:
        return (
            f"s{t} AS (SELECT a, b, COUNT(*) AS s FROM ("
            f"SELECT x AS a, y AS b FROM t{t}"
            f" UNION ALL SELECT y AS a, z AS b FROM t{t}"
            f" UNION ALL SELECT x AS a, z AS b FROM t{t}) GROUP BY a, b)"
        )

    ctes = ["u0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM e)"]
    for t in range(unroll):
        ctes.append(tri(t))
        ctes.append(sup(t))
        ctes.append(
            f"u{t + 1} AS MATERIALIZED (SELECT u.a, u.b FROM u{t} u"
            f" LEFT JOIN s{t} s ON s.a = u.a AND s.b = u.b"
            f" WHERE COALESCE(s.s, 0) >= {need})"
        )
    ctes.append(tri(unroll))
    ctes.append(sup(unroll))
    body = ",\n".join(ctes)
    return f"""
WITH {_SQL_EDGES_MAT},
{body}
SELECT u.a, u.b, COALESCE(s.s, 0) AS support
FROM u{unroll} u LEFT JOIN s{unroll} s ON s.a = u.a AND s.b = u.b
ORDER BY u.a, u.b
"""


def _hits_sql(iters: int = 3) -> str:
    """HITS unroll over the directed part graph: authorities from
    current hubs, hubs from the new authorities, L2 norm per
    half-step (eigen3's proven norm-parity pattern), 5dp."""
    ctes = [
        "n0 AS (SELECT sqrt(COUNT(*)::DOUBLE) AS nn FROM vd)",
        "h0 AS (SELECT id, 1.0 / (SELECT nn FROM n0) AS h FROM vd)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"ar{t} AS MATERIALIZED (SELECT v.id,"
            f" COALESCE(SUM(h{t - 1}.h), 0.0) AS a"
            f" FROM vd v LEFT JOIN ed ON ed.dst = v.id"
            f" LEFT JOIN h{t - 1} ON h{t - 1}.id = ed.src GROUP BY v.id)"
        )
        ctes.append(f"na{t} AS (SELECT sqrt(SUM(a * a)) AS n FROM ar{t})")
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT id,"
            f" CASE WHEN (SELECT n FROM na{t}) = 0 THEN a"
            f" ELSE a / (SELECT n FROM na{t}) END AS a FROM ar{t})"
        )
        ctes.append(
            f"hr{t} AS MATERIALIZED (SELECT v.id,"
            f" COALESCE(SUM(a{t}.a), 0.0) AS h"
            f" FROM vd v LEFT JOIN ed ON ed.src = v.id"
            f" LEFT JOIN a{t} ON a{t}.id = ed.dst GROUP BY v.id)"
        )
        ctes.append(f"nh{t} AS (SELECT sqrt(SUM(h * h)) AS n FROM hr{t})")
        ctes.append(
            f"h{t} AS MATERIALIZED (SELECT id,"
            f" CASE WHEN (SELECT n FROM nh{t}) = 0 THEN h"
            f" ELSE h / (SELECT n FROM nh{t}) END AS h FROM hr{t})"
        )
    body = ",\n".join(ctes)
    return f"""
WITH {_SQL_DIR_EDGES},
{body}
SELECT h{iters}.id, ROUND(h{iters}.h, 5) AS hub, ROUND(a{iters}.a, 5) AS auth
FROM h{iters} JOIN a{iters} ON a{iters}.id = h{iters}.id
ORDER BY h{iters}.id
"""


def _host_rank_ctes() -> str:
    """Shared WITH-body for the host-rank oracles: hosts/weights
    computed straight from doc_id residues (not via the
    canonicalization chain — a stronger, implementation-independent
    check), then 3 unrolled weighted-PageRank steps mirroring the
    engine's (rank / wout) * w operation order. Self-loop host edges
    are dropped exactly like Graph.from_edges, while the vertex set
    keeps every host."""
    steps = []
    for t in range(1, 4):
        steps.append(f"""
r{t} AS (
  SELECT v.host,
         0.15 + 0.85 * COALESCE(SUM((r{t - 1}.rank / wo.wout) * he.w), 0.0)
           AS rank
  FROM hv v LEFT JOIN he ON he.dst = v.host
            LEFT JOIN r{t - 1} ON r{t - 1}.host = he.src
            LEFT JOIN wo ON wo.host = he.src
  GROUP BY v.host
)""")
    body = ",".join(steps)
    return f"""he_all AS MATERIALIZED (
  SELECT 'site' || (doc_id % 17)::VARCHAR || '.example.com' AS src,
         'site' || ((doc_id * 7) % 17)::VARCHAR || '.example.com' AS dst,
         COUNT(*) AS w
  FROM documents GROUP BY 1, 2
),
hv AS (SELECT src AS host FROM he_all UNION SELECT dst FROM he_all),
he AS MATERIALIZED (SELECT * FROM he_all WHERE src <> dst),
wo AS (SELECT src AS host, CAST(SUM(w) AS DOUBLE) AS wout FROM he GROUP BY src),
r0 AS (SELECT host, 1.0 AS rank FROM hv),{body}"""


def _host_rank_sql() -> str:
    return f"""
WITH {_host_rank_ctes()}
SELECT host, ROUND(rank, 5) AS rank FROM r3 ORDER BY host
"""


def _repetition_sql() -> str:
    """Mirror of datapipe.text.repetition_stats: identical segment /
    token semantics (space-only trim, Spark-split empty-field rules via
    _SQL_TOKS) and identical arithmetic order, rounded 5dp."""
    def gcol(n: int) -> str:
        return (
            f"CASE WHEN len(toks) >= {n} THEN"
            f" list_transform(generate_series(1, len(toks) - {n - 1}),"
            f" i -> array_to_string(toks[i:i+{n - 1}], ' '))"
            " ELSE []::VARCHAR[] END"
        )

    def cnt_cte(tag: str, src: str) -> str:
        return (
            f"c{tag} AS (SELECT doc_id, g, COUNT(*) AS cnt FROM"
            f" (SELECT doc_id, unnest({src}) AS g FROM grams)"
            " GROUP BY 1, 2)"
        )

    def top_cte(tag: str) -> str:
        return (
            f"t{tag} AS (SELECT doc_id, cnt * length(g) AS cover FROM"
            f" (SELECT doc_id, g, cnt, ROW_NUMBER() OVER"
            " (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn"
            f" FROM c{tag}) WHERE rn = 1)"
        )

    def topfrac(tag: str, out: str) -> str:
        return (
            f"ROUND(CASE WHEN b.chars > 0 AND t{tag}.cover IS NOT NULL"
            f" THEN LEAST(CAST(t{tag}.cover AS DOUBLE) / b.chars,"
            f" CAST(1.0 AS DOUBLE)) ELSE 0.0 END, 5) AS {out}"
        )

    segs = (
        "list_filter(list_transform(string_split{split}, x -> trim(x)),"
        " x -> x <> '')"
    )
    lines = segs.format(split="(text, chr(10))")
    paras = segs.format(split="_regex(text, '\\n{2,}')")
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, length(text) AS chars,
         {lines} AS lines,
         {paras} AS paras,
         list_transform({_SQL_TOKS}, t -> lower(t)) AS toks
  FROM documents
),
lineagg AS (
  SELECT doc_id,
         len(lines) AS nl, len(list_distinct(lines)) AS dl,
         COALESCE(list_sum(list_transform(lines, x -> length(x))), 0) AS lt,
         COALESCE(list_sum(list_transform(list_distinct(lines),
                                          x -> length(x))), 0) AS ld,
         len(paras) AS np, len(list_distinct(paras)) AS dp
  FROM base
),
grams AS MATERIALIZED (
  SELECT doc_id, {gcol(2)} AS g2, {gcol(3)} AS g3, {gcol(5)} AS g5
  FROM base
),
{cnt_cte('2', 'g2')},
{top_cte('2')},
{cnt_cte('3', 'g3')},
{top_cte('3')},
{cnt_cte('5', 'g5')},
r5 AS (SELECT doc_id, SUM((cnt - 1) * length(g)) AS dup
       FROM c5 GROUP BY doc_id)
SELECT b.doc_id,
  ROUND(CASE WHEN la.nl > 0 THEN CAST(la.nl - la.dl AS DOUBLE) / la.nl
        ELSE 0.0 END, 5) AS dup_line_frac,
  ROUND(CASE WHEN la.np > 0 THEN CAST(la.np - la.dp AS DOUBLE) / la.np
        ELSE 0.0 END, 5) AS dup_para_frac,
  ROUND(CASE WHEN la.lt > 0 THEN CAST(la.lt - la.ld AS DOUBLE) / la.lt
        ELSE 0.0 END, 5) AS dup_line_char_frac,
  {topfrac('2', 'top_2gram_frac')},
  {topfrac('3', 'top_3gram_frac')},
  ROUND(CASE WHEN b.chars > 0 AND COALESCE(r5.dup, 0) > 0
        THEN LEAST(CAST(r5.dup AS DOUBLE) / b.chars, CAST(1.0 AS DOUBLE))
        ELSE 0.0 END, 5) AS rep_5gram_frac
FROM base b
JOIN lineagg la USING (doc_id)
LEFT JOIN t2 USING (doc_id)
LEFT JOIN t3 USING (doc_id)
LEFT JOIN r5 USING (doc_id)
ORDER BY doc_id
"""


def _implicit_sql() -> str:
    """Mirror of als.add_implicit_ratings over the customer x part
    rating table: generate_series replays the md5 draw stream."""
    toadd = int(IMPL_PCT * IMPL_M * IMPL_N)

    def u(tag: str) -> str:
        h = f"md5('{IMPL_SEED}:{tag}:' || j::VARCHAR)"
        val = " + ".join(
            f"(strpos('{_HEX}', substr({h}, {k + 1}, 1)) - 1)"
            f" * {16 ** (7 - k)}"
            for k in range(8)
        )
        return f"(({val})::DOUBLE / CAST(4294967296 AS DOUBLE))"

    return f"""
WITH r AS (
  SELECT o_custkey AS usr, l_partkey AS itm, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
gen AS (
  SELECT CAST(floor({u('u')} * {IMPL_M}) AS BIGINT) AS usr,
         CAST(floor({u('i')} * {IMPL_N}) AS BIGINT) AS itm,
         CAST({IMPL_VALUE!r} AS DOUBLE) AS rating
  FROM generate_series(0, {toadd - 1}) t(j)
)
SELECT usr, itm, ROUND(rating, 5) AS rating
FROM (SELECT * FROM r UNION ALL SELECT * FROM gen)
ORDER BY usr, itm, rating
"""


def _sir_sql() -> str:
    """Mirror of algorithms.cascades: md5-uniform SIR replay over the
    co-occurrence graph, unrolled SIR_ITERS supersteps. Identical
    literals and operation order as the engine (including the
    1 - exp(k * ln(q)) infection threshold) so every double compares
    bit for bit."""
    from powergraph_spark.algorithms.cascades import _dlit

    def u(h: str) -> str:
        val = " + ".join(
            f"(strpos('{_HEX}', substr({h}, {k + 1}, 1)) - 1)"
            f" * {16 ** (7 - k)}"
            for k in range(8)
        )
        return f"(({val})::DOUBLE / {_dlit(float(16 ** 8))})"

    qlit = _dlit(1.0 - SIR_P)
    rlit = _dlit(SIR_R)
    ctes = [
        "s0pre AS MATERIALIZED (SELECT id,"
        f" md5('{SIR_SEED}:' || 'init:' || id::VARCHAR) AS h FROM v)",
        f"s0 AS MATERIALIZED (SELECT id, CASE WHEN {u('h')} <"
        f" {_dlit(SIR_INIT)} THEN 'I' ELSE 'S' END AS status FROM s0pre)",
    ]
    for t in range(1, SIR_ITERS + 1):
        ctes.append(
            f"inf{t} AS (SELECT id FROM s{t - 1} WHERE status = 'I')"
        )
        ctes.append(
            f"k{t} AS (SELECT und.dst AS id, COUNT(*) AS k FROM und"
            f" JOIN inf{t} ON und.src = inf{t}.id GROUP BY und.dst)"
        )
        ctes.append(
            f"s{t}pre AS MATERIALIZED (SELECT s.id, s.status,"
            f" COALESCE(k.k, 0) AS kk,"
            f" md5('{SIR_SEED}:' || '{t}:r:' || s.id::VARCHAR) AS hr,"
            f" md5('{SIR_SEED}:' || '{t}:i:' || s.id::VARCHAR) AS hi"
            f" FROM s{t - 1} s LEFT JOIN k{t} k ON k.id = s.id)"
        )
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT id,"
            f" CASE WHEN status = 'R' THEN 'R'"
            f" WHEN status = 'I' THEN (CASE WHEN {u('hr')} < {rlit}"
            f" THEN 'R' ELSE 'I' END)"
            f" WHEN kk > 0 AND {u('hi')} <"
            f" (1.0E0 - exp(CAST(kk AS DOUBLE) * ln({qlit})))"
            f" THEN 'I' ELSE 'S' END AS status FROM s{t}pre)"
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {_SQL_EDGES_MAT},\n{body}\n"
        f"SELECT id, status FROM s{SIR_ITERS} ORDER BY id"
    )


def _percolation_sql(prob: float, seed: int) -> str:
    """Mirror of warp.bond_percolation: md5-uniform edge survival
    (first 8 hex digits / 16^8) + min-label CC over survivors."""
    hexv = "(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
    val = " + ".join(
        f"{hexv.format(p=k + 1)} * {16 ** (7 - k)}" for k in range(8)
    )
    return f"""
WITH RECURSIVE {_SQL_EDGES},
verts AS (SELECT DISTINCT id FROM v),
hashed AS (
  SELECT src, dst,
         md5('{seed}:' || src::VARCHAR || ',' || dst::VARCHAR) AS h
  FROM e
),
kept AS (
  SELECT src, dst FROM hashed
  WHERE (({val})::DOUBLE / {float(16 ** 8)!r}) < {prob}
),
kund AS (SELECT src, dst FROM kept
         UNION ALL SELECT dst AS src, src AS dst FROM kept),
walk(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT kund.dst AS id, walk.comp
  FROM walk JOIN kund ON kund.src = walk.id
  WHERE walk.comp < kund.dst
)
SELECT id, MIN(comp) AS component FROM walk GROUP BY id ORDER BY id
"""


_LAPLACIAN_SQL = f"""
WITH {_SQL_EDGES},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
off AS (
  SELECT u.src AS i, u.dst AS j,
         ROUND(1.0 / sqrt(da.d * db.d), 5) AS value
  FROM und u JOIN deg da ON da.id = u.src JOIN deg db ON db.id = u.dst
),
diag AS (SELECT id AS i, id AS j, 2.0 AS value FROM v)
SELECT i, j, value FROM off
UNION ALL
SELECT i, j, value FROM diag
ORDER BY i, j
"""


def _eigen3_sql() -> str:
    parts = [
        "x0 AS (SELECT id, 1.0 / sqrt((SELECT COUNT(*) FROM v)) AS x FROM v)"
    ]
    for i in range(1, 4):
        parts.append(
            f"y{i} AS (SELECT v.id, COALESCE(SUM(x{i - 1}.x), 0.0) AS y "
            f"FROM v LEFT JOIN und ON und.dst = v.id "
            f"LEFT JOIN x{i - 1} ON x{i - 1}.id = und.src GROUP BY v.id)"
        )
        parts.append(
            f"x{i} AS (SELECT id, y / (SELECT sqrt(SUM(y * y)) FROM y{i})"
            f" AS x FROM y{i})"
        )
    return (
        f"WITH {_SQL_EDGES},\n" + ",\n".join(parts)
        + "\nSELECT id, ROUND(x, 5) AS v FROM x3 ORDER BY id"
    )


def _prestige_sql(n_seeds: int, max_depth: int) -> str:
    return f"""
WITH RECURSIVE {_SQL_DIR_EDGES},
seeds AS (SELECT DISTINCT id FROM vd ORDER BY id LIMIT {n_seeds}),
walk(s, id, hops) AS (
  SELECT id, id, 0 FROM seeds
  UNION
  SELECT walk.s, ed.dst, walk.hops + 1
  FROM walk JOIN ed ON ed.src = walk.id
  WHERE walk.hops < {max_depth}
),
dist AS (SELECT s, id, MIN(hops) AS d FROM walk GROUP BY s, id)
SELECT id, COUNT(*)::BIGINT AS n_sources, SUM(d)::BIGINT AS sum_dist,
       ROUND(CASE WHEN SUM(d) > 0 THEN COUNT(*)::DOUBLE / SUM(d)
                  ELSE 0.0 END, 5) AS prestige
FROM dist GROUP BY id ORDER BY id
"""


_DIJKSTRA_SQL = f"""
WITH RECURSIVE {_SQL_EDGES},
seed AS (SELECT MIN(id) AS id FROM v),
walk(id, hops) AS (
  SELECT id, 0 FROM seed
  UNION
  SELECT und.dst, walk.hops + 1
  FROM walk JOIN und ON und.src = walk.id
  WHERE walk.hops < 39
),
dist AS (SELECT id, MIN(hops) AS d FROM walk GROUP BY id),
parents AS (
  SELECT e2.dst AS id, MIN(e2.src) AS parent
  FROM und e2
  JOIN dist a ON a.id = e2.src
  JOIN dist b ON b.id = e2.dst AND b.d = a.d + 1
  GROUP BY e2.dst
)
SELECT d.id, d.d::DOUBLE AS dist,
       (CASE WHEN d.id = (SELECT id FROM seed) THEN -1
             ELSE p.parent END)::BIGINT AS parent
FROM dist d LEFT JOIN parents p ON p.id = d.id
ORDER BY d.id
"""


def _closeness_sql(n_seeds: int, max_depth: int) -> str:
    # NB: inside WITH RECURSIVE, DuckDB 1.0 evaluates the plain
    # `v AS (a UNION b)` CTE with UNION ALL semantics (no dedup), so
    # every vertex-set consumer below must DISTINCT explicitly.
    return f"""
WITH RECURSIVE {_SQL_EDGES},
seeds AS (SELECT DISTINCT id FROM v ORDER BY id LIMIT {n_seeds}),
walk(s, id, hops) AS (
  SELECT id, id, 0 FROM seeds
  UNION
  SELECT walk.s, und.dst, walk.hops + 1
  FROM walk JOIN und ON und.src = walk.id
  WHERE walk.hops < {max_depth}
),
dist AS (SELECT s, id, MIN(hops) AS d FROM walk GROUP BY s, id)
SELECT id, COUNT(*)::BIGINT AS n_sources, SUM(d)::BIGINT AS sum_dist,
       ROUND(CASE WHEN SUM(d) > 0 THEN COUNT(*)::DOUBLE / SUM(d)
                  ELSE 0.0 END, 5) AS closeness
FROM dist GROUP BY id ORDER BY id
"""


def _louvain_rounds_cte(parts: list, L: int, rounds: int) -> str:
    """Append `rounds` weighted synchronous move rounds at level L to
    `parts`, reading sym_{L} (a, b, w), deg_{L} (id, d) and
    lab_{L}_0; returns the name of the final label CTE."""
    for r in range(1, rounds + 1):
        p, t = f"lab_{L}_{r - 1}", f"{L}_{r}"
        parts += [
            f"sig_{t} AS MATERIALIZED (SELECT l.c, SUM(d.d) AS sigma "
            f"FROM {p} l JOIN deg_{L} d ON d.id = l.id GROUP BY l.c)",
            f"siz_{t} AS MATERIALIZED (SELECT c, COUNT(*) AS n FROM {p} GROUP BY c)",
            f"nc_{t} AS MATERIALIZED (SELECT s.a AS id, l.c, SUM(s.w) AS k "
            f"FROM sym_{L} s JOIN {p} l ON l.id = s.b GROUP BY s.a, l.c)",
            f"cand_{t} AS MATERIALIZED ("
            f"SELECT COALESCE(n.id, o.id) AS id, COALESCE(n.c, o.c) AS c, "
            f"COALESCE(n.k, 0) AS k "
            f"FROM nc_{t} n FULL JOIN {p} o ON o.id = n.id AND o.c = n.c)",
            f"sc_{t} AS MATERIALIZED ("
            f"SELECT cd.id, cd.c, "
            f"2 * (SELECT m FROM mm) * cd.k - d.d * (s.sigma - "
            f"CASE WHEN cd.c = l.c THEN d.d ELSE 0 END) AS score "
            f"FROM cand_{t} cd JOIN {p} l ON l.id = cd.id "
            f"JOIN deg_{L} d ON d.id = cd.id JOIN sig_{t} s ON s.c = cd.c)",
            f"bst_{t} AS MATERIALIZED (SELECT id, c AS best_c FROM ("
            f"SELECT id, c, ROW_NUMBER() OVER (PARTITION BY id "
            f"ORDER BY score DESC, c ASC) AS rn FROM sc_{t}) WHERE rn = 1)",
            f"lab_{L}_{r} AS MATERIALIZED ("
            f"SELECT b.id, CASE WHEN so.n = 1 AND st.n = 1 AND b.best_c > l.c "
            f"THEN l.c ELSE b.best_c END AS c "
            f"FROM bst_{t} b JOIN {p} l ON l.id = b.id "
            f"JOIN siz_{t} so ON so.c = l.c JOIN siz_{t} st ON st.c = b.best_c)",
        ]
    return f"lab_{L}_{rounds}"


def _louvain_sql(rounds: int, levels: int = 1) -> str:
    """Unrolled synchronous Louvain mirroring algorithms/louvain.py:
    integer ×2m scores, min-c tie-break, singleton-swap guard; with
    levels=2, one community-graph coarsening (integer edge weights,
    self-loop mass) and a second block of weighted rounds, projected
    back to original vertex ids. Every CTE is MATERIALIZED — each
    label CTE is referenced five times per round and DuckDB would
    otherwise inline it exponentially."""
    parts = [
        "deg_1 AS MATERIALIZED "
        "(SELECT src AS id, COUNT(*)::BIGINT AS d FROM und GROUP BY src)",
        "mm AS MATERIALIZED (SELECT COUNT(*) AS m FROM e)",
        "sym_1 AS MATERIALIZED (SELECT src AS a, dst AS b, 1::BIGINT AS w FROM und)",
        "lab_1_0 AS MATERIALIZED (SELECT id, id AS c FROM deg_1)",
    ]
    final = _louvain_rounds_cte(parts, 1, rounds)
    if levels == 1:
        joined = ",\n".join(parts)
        return f"""
WITH {_SQL_EDGES},
{joined}
SELECT id, c AS community FROM {final} ORDER BY id
"""
    assert levels == 2
    parts += [
        f"ce_2 AS MATERIALIZED ("
        f"SELECT LEAST(la.c, lb.c) AS a, GREATEST(la.c, lb.c) AS b, "
        f"COUNT(*)::BIGINT AS w "
        f"FROM e JOIN {final} la ON la.id = e.src "
        f"JOIN {final} lb ON lb.id = e.dst GROUP BY 1, 2)",
        "wund_2 AS MATERIALIZED (SELECT a, b, w FROM ce_2 WHERE a <> b)",
        "wself_2 AS MATERIALIZED (SELECT a AS id, w FROM ce_2 WHERE a = b)",
        "deg_2 AS MATERIALIZED (SELECT id, SUM(w) AS d FROM ("
        "SELECT a AS id, w FROM wund_2 UNION ALL SELECT b AS id, w FROM wund_2 "
        "UNION ALL SELECT id, 2 * w FROM wself_2) GROUP BY id)",
        "sym_2 AS MATERIALIZED (SELECT a, b, w FROM wund_2 "
        "UNION ALL SELECT b AS a, a AS b, w FROM wund_2)",
        "lab_2_0 AS MATERIALIZED (SELECT id, id AS c FROM deg_2)",
    ]
    final2 = _louvain_rounds_cte(parts, 2, rounds)
    joined = ",\n".join(parts)
    return f"""
WITH {_SQL_EDGES},
{joined}
SELECT l.id, u.c AS community
FROM {final} l JOIN {final2} u ON u.id = l.c
ORDER BY l.id
"""


def _harmonic_sql(n_seeds: int, max_depth: int) -> str:
    # same BFS-walk CTE as _closeness_sql; harmonic aggregate on top
    return f"""
WITH RECURSIVE {_SQL_EDGES},
seeds AS (SELECT DISTINCT id FROM v ORDER BY id LIMIT {n_seeds}),
walk(s, id, hops) AS (
  SELECT id, id, 0 FROM seeds
  UNION
  SELECT walk.s, und.dst, walk.hops + 1
  FROM walk JOIN und ON und.src = walk.id
  WHERE walk.hops < {max_depth}
),
dist AS (SELECT s, id, MIN(hops) AS d FROM walk GROUP BY s, id)
SELECT id,
       (COUNT(*) FILTER (WHERE d > 0))::BIGINT AS n_reached,
       ROUND(COALESCE(SUM(1.0 / d) FILTER (WHERE d > 0), 0.0), 5) AS harmonic
FROM dist GROUP BY id ORDER BY id
"""


def _betweenness_sql(n_seeds: int, max_depth: int) -> str:
    """Unrolled Brandes: sigma forward by BFS level, dependency delta
    backward. Levels beyond the true eccentricity are exact no-ops
    (empty sig CTEs), mirroring the Spark loop's empty-frontier stop."""
    parts = [
        # DISTINCT: see _closeness_sql note on WITH RECURSIVE + UNION
        f"seeds AS (SELECT DISTINCT id FROM v ORDER BY id LIMIT {n_seeds})",
        "verts AS (SELECT DISTINCT id FROM v)",
        "walk(s, id, hops) AS ("
        "  SELECT id, id, 0 FROM seeds"
        "  UNION"
        "  SELECT walk.s, und.dst, walk.hops + 1"
        "  FROM walk JOIN und ON und.src = walk.id"
        f"  WHERE walk.hops < {max_depth})",
        "dist AS MATERIALIZED "
        "(SELECT s, id, MIN(hops) AS d FROM walk GROUP BY s, id)",
        "sig0 AS MATERIALIZED "
        "(SELECT id AS s, id, 1.0::DOUBLE AS sigma FROM seeds)",
    ]
    for n in range(1, max_depth + 1):
        parts.append(
            f"sig{n} AS MATERIALIZED ("
            f"SELECT p.s, e.dst AS id, SUM(p.sigma) AS sigma "
            f"FROM sig{n - 1} p JOIN und e ON e.src = p.id "
            f"JOIN dist d ON d.s = p.s AND d.id = e.dst AND d.d = {n} "
            f"GROUP BY p.s, e.dst)"
        )
    parts.append(
        f"delta{max_depth} AS MATERIALIZED "
        f"(SELECT s, id, sigma, 0.0::DOUBLE AS delta FROM sig{max_depth})"
    )
    for n in range(max_depth - 1, -1, -1):
        parts.append(
            f"delta{n} AS MATERIALIZED ("
            f"SELECT c.s, c.id, c.sigma, "
            f"c.sigma * COALESCE(SUM((1.0 + w.delta) / w.sigma), 0.0) AS delta "
            f"FROM sig{n} c "
            f"LEFT JOIN und e ON e.src = c.id "
            f"LEFT JOIN delta{n + 1} w ON w.s = c.s AND w.id = e.dst "
            f"GROUP BY c.s, c.id, c.sigma)"
        )
    acc = " UNION ALL ".join(
        f"SELECT s, id, delta FROM delta{n}" for n in range(max_depth + 1)
    )
    parts.append(f"acc AS ({acc})")
    parts.append(
        "bc AS (SELECT id, SUM(delta) AS b FROM acc WHERE id <> s GROUP BY id)"
    )
    return (
        f"WITH RECURSIVE {_SQL_EDGES_MAT},\n" + ",\n".join(parts)
        + "\nSELECT verts.id, ROUND(COALESCE(bc.b, 0.0), 5) AS betweenness "
        "FROM verts LEFT JOIN bc USING (id) ORDER BY verts.id"
    )


_SQL_CENSUS_CORE = f"""
{_SQL_DIR_EDGES},
s_s_t AS MATERIALIZED (
  SELECT a.src AS u, b.src AS w2, COUNT(*) AS c
  FROM ed a JOIN ed b ON a.dst = b.dst GROUP BY a.src, b.src
),
st_st_t AS MATERIALIZED (
  SELECT a.dst AS u, b.dst AS w2, COUNT(*) AS c
  FROM ed a JOIN ed b ON a.src = b.src GROUP BY a.dst, b.dst
),
st_s_t AS MATERIALIZED (
  SELECT a.dst AS u, b.src AS w2, COUNT(*) AS c
  FROM ed a JOIN ed b ON a.src = b.dst GROUP BY a.dst, b.src
),
pe AS MATERIALIZED (
  SELECT e.src, e.dst,
         COALESCE(ss.c, 0) AS s_s,
         COALESCE(tt.c, 0) AS st_st,
         COALESCE(ts.c, 0) AS st_s
  FROM ed e
  LEFT JOIN s_s_t ss ON ss.u = e.src AND ss.w2 = e.dst
  LEFT JOIN st_st_t tt ON tt.u = e.src AND tt.w2 = e.dst
  LEFT JOIN st_s_t ts ON ts.u = e.src AND ts.w2 = e.dst
),
per_v AS (
  SELECT vd.id,
         COALESCE(fi.in_t, 0)::BIGINT AS in_triangles,
         COALESCE(fo.out_t, 0)::BIGINT AS out_triangles,
         COALESCE(fo.through_t, 0)::BIGINT AS through_triangles,
         COALESCE(fo.cycle_t, 0)::BIGINT AS cycle_triangles
  FROM vd
  LEFT JOIN (
    SELECT src AS id, SUM(s_s) AS out_t, SUM(st_st) AS through_t,
           SUM(st_s) AS cycle_t
    FROM pe GROUP BY src
  ) fo ON fo.id = vd.id
  LEFT JOIN (
    SELECT dst AS id, SUM(st_st) AS in_t FROM pe GROUP BY dst
  ) fi ON fi.id = vd.id
)
"""


def _contamination_sql(k: int, bench_ids: int) -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= {k} THEN list_transform(
        generate_series(1, len(t) - {k - 1}),
        i -> array_to_string(t[i:i+{k - 1}], ' '))
    ELSE t END)) AS gram
  FROM toks
),
bg AS (SELECT doc_id AS bench_id, gram FROM sh WHERE doc_id < {bench_ids}),
bs AS (SELECT bench_id, COUNT(*) AS bench_grams FROM bg GROUP BY bench_id),
cg AS (SELECT doc_id, gram FROM sh WHERE doc_id >= {bench_ids}),
hits AS (
  SELECT cg.doc_id, bg.bench_id, COUNT(*) AS n_shared
  FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id, bg.bench_id
)
SELECT h.doc_id, h.bench_id, h.n_shared, bs.bench_grams,
       ROUND(h.n_shared::DOUBLE / bs.bench_grams, 5) AS overlap_frac
FROM hits h JOIN bs USING (bench_id)
WHERE h.n_shared >= 1 ORDER BY h.doc_id, h.bench_id
"""


def _pii_redact_sql() -> str:
    from powergraph_spark.datapipe.text import PII_PATTERNS

    planted = (
        "text || ' contact doc' || doc_id::VARCHAR || '@example.com'"
        " || ' from 10.' || (doc_id % 200)::VARCHAR"
        " || '.0.' || ((doc_id * 7) % 250)::VARCHAR"
        " || ' call +1-555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')"
        " || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
        " || ' id ' || lpad((doc_id % 900)::VARCHAR, 3, '0')"
        " || '-' || lpad((doc_id % 90)::VARCHAR, 2, '0')"
        " || '-' || lpad((doc_id % 9000)::VARCHAR, 4, '0')"
    )
    red = "p"
    counts = []
    for kind, (pat, repl) in PII_PATTERNS.items():
        # same order as redact_pii; DuckDB needs the 'g' flag to match
        # Spark's replace-all semantics
        # DuckDB standard string literals take backslashes literally —
        # only quotes need escaping
        esc = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{esc}', '{repl}', 'g')"
        counts.append(
            f"len(regexp_extract_all(p, '{esc}'))::BIGINT AS n_{kind}"
        )
    return f"""
WITH planted AS (SELECT doc_id, ({planted}) AS p FROM documents)
SELECT doc_id, md5({red}) AS redacted_md5, {', '.join(counts)}
FROM planted ORDER BY doc_id
"""


_RECOMMEND_SQL = """
WITH r AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
i0 AS MATERIALIZED (
  SELECT i AS id, CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT i FROM r)
),
u1 AS MATERIALIZED (
  SELECT r.u AS id,
         SUM(i0.f * r.rating)
         / (CAST(0.1 AS DOUBLE) * COUNT(*) + SUM(i0.f * i0.f)) AS f
  FROM r JOIN i0 ON i0.id = r.i GROUP BY r.u
),
i1 AS MATERIALIZED (
  SELECT r.i AS id,
         SUM(u1.f * r.rating)
         / (CAST(0.1 AS DOUBLE) * COUNT(*) + SUM(u1.f * u1.f)) AS f
  FROM r JOIN u1 ON u1.id = r.u GROUP BY r.i
),
u2 AS MATERIALIZED (
  SELECT r.u AS id,
         SUM(i1.f * r.rating)
         / (CAST(0.1 AS DOUBLE) * COUNT(*) + SUM(i1.f * i1.f)) AS f
  FROM r JOIN i1 ON i1.id = r.i GROUP BY r.u
),
i2 AS MATERIALIZED (
  SELECT r.i AS id,
         SUM(u2.f * r.rating)
         / (CAST(0.1 AS DOUBLE) * COUNT(*) + SUM(u2.f * u2.f)) AS f
  FROM r JOIN u2 ON u2.id = r.u GROUP BY r.i
),
scored AS (
  SELECT u2.id AS "user", i2.id AS item, u2.f * i2.f AS score
  FROM u2 CROSS JOIN i2
  WHERE u2.id < 50
    AND NOT EXISTS (SELECT 1 FROM r WHERE r.u = u2.id AND r.i = i2.id)
),
ranked AS (
  SELECT "user", item, score,
         ROW_NUMBER() OVER (PARTITION BY "user"
                            ORDER BY score DESC, item ASC) AS rank
  FROM scored
)
SELECT "user", item, rank, ROUND(score, 5) AS score
FROM ranked WHERE rank <= 3
ORDER BY "user", rank
"""


def _lined_sql(punct: bool = False) -> str:
    """CTEs base/lined/ls mirroring _lined_docs + split_lines: tokens
    chunked into 8-token lines (optionally '.'-terminated when the
    0-based line index j has j % 3 != 2), then trimmed non-empty
    line arrays."""
    dot = (
        " || (CASE WHEN j % 3 <> 2 THEN '.' ELSE '' END)" if punct else ""
    )
    return f"""
base AS MATERIALIZED (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
),
lined AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(toks) = 0 THEN ''
              ELSE array_to_string(
                list_transform(
                  generate_series(0, CAST(floor((len(toks) - 1) / 8.0) AS INT)),
                  j -> array_to_string(toks[j*8+1:j*8+8], ' '){dot}),
                chr(10)) END AS text
  FROM base
),
ls AS MATERIALIZED (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS lines
  FROM lined
)"""


def _line_dedup_sql() -> str:
    """Mirror of datapipe.clean.line_dedup over the lined fixture:
    global first-occurrence (doc_id, pos) keeps, per-doc reassembly."""
    return f"""
WITH {_lined_sql()},
lx AS (
  SELECT doc_id, s.pos AS pos, s.line AS line
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(lines)),
                      i -> {{'pos': i - 1, 'line': lines[i]}})) AS s
        FROM ls)
),
ranked AS (
  SELECT doc_id, pos, line,
         COUNT(*) OVER (PARTITION BY md5(line)) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY md5(line)
                            ORDER BY doc_id, pos) AS rn
  FROM lx
),
kept AS (SELECT * FROM ranked WHERE cnt = 1 OR rn = 1),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id,
       len(s.lines)::BIGINT AS n_lines,
       COALESCE(a.n_kept, 0)::BIGINT AS n_kept,
       md5(COALESCE(a.text_clean, '')) AS clean_md5
FROM ls s LEFT JOIN agg a USING (doc_id)
ORDER BY s.doc_id
"""


def _c4_clean_sql() -> str:
    """Mirror of datapipe.clean.c4_line_filter over the punctuated
    lined fixture (same rule constants as C4_LINE/DOC_MARKERS)."""
    line_ok = (
        "len(string_split_regex(x, '[ \t]+')) >= 5"
        " AND right(x, 1) IN ('.', '!', '?', '\"')"
        " AND NOT contains(lower(x), 'javascript')"
        " AND NOT contains(lower(x), 'cookie policy')"
        " AND NOT contains(lower(x), 'terms of use')"
    )
    return f"""
WITH {_lined_sql(punct=True)},
f AS (
  SELECT s.doc_id, s.lines,
         list_filter(s.lines, x -> {line_ok}) AS keptl,
         (contains(lower(l.text), 'lorem ipsum')
          OR contains(l.text, '{{')) AS marked
  FROM ls s JOIN lined l USING (doc_id)
)
SELECT doc_id,
       len(lines)::BIGINT AS n_lines,
       len(keptl)::BIGINT AS n_kept,
       (len(keptl) >= 3 AND NOT marked) AS kept,
       md5(array_to_string(keptl, chr(10))) AS clean_md5
FROM f ORDER BY doc_id
"""


def _sql_md5_u(hcol: str = "h") -> str:
    """Nibble-replay of the Spark conv(substring(md5(..),1,8),16,10)
    / 2^32 uniform draw over a hex column (same scheme as the
    ALS/LDA/cascades oracles)."""
    val = " + ".join(
        f"(strpos('{_HEX}', substr({hcol}, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )
    return f"(({val})::DOUBLE / CAST(4294967296 AS DOUBLE))"


def _split_counts_sql() -> str:
    """Mirror of hash_split: identical Python-accumulated thresholds
    (float repr preserves the Spark-side cumulative-sum doubles)."""
    acc = 0.0
    cases = []
    names = list(SPLIT_FRACTIONS.items())
    for name, frac in names[:-1]:
        acc += frac
        cases.append(f"WHEN u < {acc!r} THEN '{name}'")
    cases.append(f"ELSE '{names[-1][0]}'")
    case = "CASE " + " ".join(cases) + " END"
    return f"""
WITH hs AS (SELECT doc_id, md5('split:' || doc_id::VARCHAR) AS h
            FROM documents),
d AS (SELECT doc_id, {_sql_md5_u()} AS u FROM hs)
SELECT {case} AS split, COUNT(*)::BIGINT AS n_docs,
       SUM(doc_id)::BIGINT AS sum_ids
FROM d GROUP BY 1 ORDER BY 1
"""


def _qsample_sql() -> str:
    """Mirror of quality_sample(quality_score): same 5dp-rounded
    weight as the quality_score oracle, same md5-uniform draw."""
    w = """ROUND(
         0.4 * LEAST(length(text) / 500.0, 1.0)
       + 0.4 * (CASE WHEN length(text) > 0
                THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                     / length(text) ELSE 0.0 END)
       + 0.2 * (1.0 - LEAST(
           (CASE WHEN length(text) > 0
            THEN length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE
                 / length(text) ELSE 0.0 END) * 4, 1.0)),
       5)"""
    return f"""
WITH hs AS (SELECT doc_id, md5('qsample:' || doc_id::VARCHAR) AS h, {w} AS w
            FROM documents),
d AS (SELECT doc_id, {_sql_md5_u()} AS u, w FROM hs)
SELECT doc_id, ROUND(u, 5) AS u, ROUND(w, 5) AS w
FROM d WHERE u < w ORDER BY doc_id
"""


def _packing_sql(budget: int, shards: int) -> str:
    """Mirror of pack_sequences: same tokenizer, shard = id mod
    n_shards, bin = floor(preceding_tokens / budget) via a shard-
    partitioned running sum."""
    return f"""
WITH t AS (
  SELECT doc_id, doc_id % {shards} AS shard,
         (CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '[ \t\n\r\f]+'))
          END)::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT shard::INT AS shard,
       CAST(floor((cum - n_tokens) / {float(budget)!r}) AS BIGINT) AS bin,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_tokens)::BIGINT AS sum_tokens
FROM c GROUP BY 1, 2 ORDER BY 1, 2
"""


def _vocab_sql(n: int, topk: int) -> str:
    """Mirror of corpus_ngram_counts(n) + top-k: lowercased word
    n-grams (same _word_ngrams chunk rule as the repetition oracle)."""
    gcol = (
        f"CASE WHEN len(ltoks) >= {n} THEN"
        f" list_transform(generate_series(1, len(ltoks) - {n - 1}),"
        f" i -> array_to_string(ltoks[i:i+{n - 1}], ' '))"
        " ELSE []::VARCHAR[] END"
    )
    return f"""
WITH base AS (
  SELECT doc_id, list_transform({_SQL_TOKS}, t -> lower(t)) AS ltoks
  FROM documents
),
g AS (
  SELECT doc_id, unnest({gcol}) AS gram FROM base
)
SELECT gram, COUNT(*)::BIGINT AS count,
       COUNT(DISTINCT doc_id)::BIGINT AS n_docs
FROM g GROUP BY gram
ORDER BY count DESC, gram ASC LIMIT {topk}
"""


def _walks_cte_parts(length: int) -> list[str]:
    """Shared exact replay of random_walks over the co-graph:
    dst-sorted edge index + per-step md5 draw floor(u * out_degree);
    dead ends absorb. s{length} carries both the comma path (walks3)
    and a BIGINT list ``plist`` (sppmi2)."""

    def u(t: int) -> str:
        h = f"md5('walk:{t}:' || s.start::VARCHAR || ':0')"
        val = " + ".join(
            f"(strpos('{_HEX}', substr({h}, {k + 1}, 1)) - 1)"
            f" * {16 ** (7 - k)}"
            for k in range(8)
        )
        return f"(({val})::DOUBLE / CAST(4294967296 AS DOUBLE))"

    parts = [
        "eidx AS MATERIALIZED (SELECT src, dst,"
        " ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS pos"
        " FROM e)",
        "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)",
        "s0 AS (SELECT id AS start, id AS cur, id::VARCHAR AS path,"
        " [id] AS plist FROM v)",
    ]
    for t in range(length):
        parts.append(
            f"s{t + 1} AS (SELECT s.start, "
            "COALESCE(x.dst, s.cur) AS cur, "
            "CASE WHEN x.dst IS NOT NULL THEN s.path || ',' || "
            "x.dst::VARCHAR ELSE s.path END AS path, "
            "CASE WHEN x.dst IS NOT NULL THEN "
            "list_append(s.plist, x.dst) ELSE s.plist END AS plist "
            f"FROM s{t} s "
            "LEFT JOIN deg d ON d.src = s.cur "
            "LEFT JOIN eidx x ON x.src = s.cur AND x.pos = "
            f"CAST(floor({u(t)} * d.d) AS BIGINT))"
        )
    return parts


def _walks_sql(length: int) -> str:
    """Exact replay of q_walks3 (see _walks_cte_parts)."""
    return (
        f"WITH {_SQL_EDGES.strip().rstrip()},\n"
        + ",\n".join(_walks_cte_parts(length))
        + f"\nSELECT start, path FROM s{length} ORDER BY start"
    )


def _sppmi_sql(length: int, window: int, shift: float = 1.0) -> str:
    """DuckDB twin of q_sppmi: the shared walk replay, windowed
    ordered co-occurrence pairs, and the identical SPPMI composition
    ln(c * t / (r * s)) - ln(shift), positives only."""
    parts = _walks_cte_parts(length)
    parts += [
        f"wk AS (SELECT plist FROM s{length})",
        "px AS (SELECT plist, "
        "unnest(generate_series(1, len(plist))) AS i FROM wk)",
        "pr AS (SELECT plist[i] AS a, plist[j] AS b FROM ("
        "SELECT plist, i, unnest(generate_series("
        f"greatest(1, i - {window}), least(len(plist), i + {window})"
        ")) AS j FROM px) WHERE j <> i)",
        "cooc AS MATERIALIZED (SELECT a, b, COUNT(*)::DOUBLE AS c "
        "FROM pr GROUP BY a, b)",
        "tot AS (SELECT SUM(c) AS t FROM cooc)",
        "rowm AS (SELECT a, SUM(c) AS r FROM cooc GROUP BY a)",
        "colm AS (SELECT b, SUM(c) AS s FROM cooc GROUP BY b)",
    ]
    return (
        f"WITH {_SQL_EDGES.strip().rstrip()},\n"
        + ",\n".join(parts)
        + f"""
SELECT i, j, ROUND(val, 5) AS val FROM (
  SELECT c.a AS i, c.b AS j,
         ln(c.c * tot.t / (rowm.r * colm.s)) - {math.log(shift)!r}
           AS val
  FROM cooc c JOIN rowm USING (a) JOIN colm USING (b) CROSS JOIN tot
) WHERE val > 0 ORDER BY i, j
"""
    )


def _gibbs_sql(beta: float, sweeps: int) -> str:
    """Exact replay of q_gibbs2: chain und view over documents ids,
    md5-uniform init, per-(sweep, color) class updates with the same
    exp / inverse-CDF arithmetic order as algorithms/gibbs.py."""

    def u(tag: str) -> str:
        h = f"md5('gibbs:{tag}:' || id::VARCHAR)"
        val = " + ".join(
            f"(strpos('{_HEX}', substr({h}, {k + 1}, 1)) - 1)"
            f" * {16 ** (7 - k)}"
            for k in range(8)
        )
        return f"(({val})::DOUBLE / CAST(4294967296 AS DOUBLE))"

    parts = [
        "ids AS (SELECT doc_id AS id FROM documents)",
        "e AS (SELECT a.id AS a, b.id AS b FROM ids a"
        " JOIN ids b ON b.id = a.id + 1)",
        "und AS MATERIALIZED (SELECT a, b FROM e"
        " UNION ALL SELECT b AS a, a AS b FROM e)",
        "verts AS (SELECT DISTINCT a AS id FROM und)",
        f"s0 AS (SELECT id, CAST(floor({u('init')} * 2) AS INT) AS x"
        " FROM verts)",
    ]
    n = 0
    for t in range(sweeps):
        for c in (0, 1):
            p0 = f"exp({beta!r} * COALESCE(c.c0, 0))"
            p1 = f"exp({beta!r} * COALESCE(c.c1, 0))"
            parts.append(
                f"c{n} AS (SELECT u.b AS id, "
                "SUM(CASE WHEN s.x = 0 THEN 1 ELSE 0 END) AS c0, "
                "SUM(CASE WHEN s.x = 1 THEN 1 ELSE 0 END) AS c1 "
                f"FROM und u JOIN s{n} s ON s.id = u.a "
                f"WHERE u.b % 2 = {c} GROUP BY u.b)"
            )
            parts.append(
                f"s{n + 1} AS (SELECT s.id, "
                f"CASE WHEN s.id % 2 = {c} THEN "
                f"(CASE WHEN {u(f'{t}:{c}')} < {p0} / ({p0} + {p1}) "
                "THEN 0 ELSE 1 END) "
                f"ELSE s.x END AS x "
                f"FROM s{n} s LEFT JOIN c{n} c USING (id))"
            )
            n += 1
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, x::INT AS x FROM s{n} ORDER BY id"
    )


def oracle_sql() -> dict[str, str]:
    E = _SQL_EDGES
    out = {
        "degree_stats": f"""
WITH {E}
SELECT v.id,
       COALESCE(i.c, 0) AS in_deg,
       COALESCE(o.c, 0) AS out_deg
FROM v
LEFT JOIN (SELECT dst AS id, COUNT(*) AS c FROM e GROUP BY dst) i ON i.id = v.id
LEFT JOIN (SELECT src AS id, COUNT(*) AS c FROM e GROUP BY src) o ON o.id = v.id
ORDER BY v.id
""",
        "degree_histogram": f"""
WITH {E},
deg AS (SELECT src AS id FROM und GROUP BY src),
dc AS (SELECT src AS id, COUNT(*) AS degree FROM und GROUP BY src)
SELECT degree, COUNT(*) AS n_vertices FROM dc GROUP BY degree ORDER BY degree
""",
        # ALS k=1: two full alternations of the scalar normal equation
        # w = sum(f*r)/(lambda*n + sum(f^2)), regnormal reg = 0.1*n,
        # portable init ((abs(id)%97)+1)/98 (item vertex id = -(i+2))
        "kmeans_clusters": _kmeans_oracle_sql(),
        # collapsed-Gibbs LDA k=2: exact replay of the determinized
        # chain (md5 draws, self-excluded counts), 2 supersteps
        "lda_k2": _lda_sql(),
        # spectral clustering k=2: unrolled block power steps on
        # I + D^-1/2 W D^-1/2 (exact 2x2 Cholesky/inv scalar replay)
        # + the pinned 2-round Lloyd composition
        "spectral2": _spectral_sql(),
        # NMF k=1: 2 unrolled multiplicative iterations
        "nmf_k1": _nmf_sql(),
        # SVD++ k=1: 2 unrolled PHASE1/PHASE2 iterations, decay 0.9
        "svdpp_k1": _svdpp_sql(),
        # loopy BP 2-state: 3 unrolled flooding supersteps
        "lbp2": _lbp_sql(),
        "dd_map2": _dd_sql(),
        "dd_proj2": _dd_proj_sql(),
        "mplp2": _mplp_sql(),
        "bethe2": _bethe_sql(),
        # SVD k=1: two alternating normalized power steps; norms carry
        # the engine's 1e-12 Cholesky ridge; sigma = final V-step norm
        "svd_k1": """
WITH r AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
v0 AS MATERIALIZED (
  SELECT i AS id, CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT i FROM r)
),
ur1 AS MATERIALIZED (
  SELECT r.u AS id, SUM(r.rating * v0.f) AS f
  FROM r JOIN v0 ON v0.id = r.i GROUP BY r.u
),
nu1 AS MATERIALIZED (
  SELECT SQRT(SUM(f * f) + CAST(1e-12 AS DOUBLE)) AS n FROM ur1
),
u1 AS MATERIALIZED (SELECT id, f / (SELECT n FROM nu1) AS f FROM ur1),
vr1 AS MATERIALIZED (
  SELECT r.i AS id, SUM(r.rating * u1.f) AS f
  FROM r JOIN u1 ON u1.id = r.u GROUP BY r.i
),
nv1 AS MATERIALIZED (
  SELECT SQRT(SUM(f * f) + CAST(1e-12 AS DOUBLE)) AS n FROM vr1
),
v1 AS MATERIALIZED (SELECT id, f / (SELECT n FROM nv1) AS f FROM vr1),
ur2 AS MATERIALIZED (
  SELECT r.u AS id, SUM(r.rating * v1.f) AS f
  FROM r JOIN v1 ON v1.id = r.i GROUP BY r.u
),
nu2 AS MATERIALIZED (
  SELECT SQRT(SUM(f * f) + CAST(1e-12 AS DOUBLE)) AS n FROM ur2
),
u2 AS MATERIALIZED (SELECT id, f / (SELECT n FROM nu2) AS f FROM ur2),
vr2 AS MATERIALIZED (
  SELECT r.i AS id, SUM(r.rating * u2.f) AS f
  FROM r JOIN u2 ON u2.id = r.u GROUP BY r.i
),
nv2 AS MATERIALIZED (
  SELECT SQRT(SUM(f * f) + CAST(1e-12 AS DOUBLE)) AS n FROM vr2
),
v2 AS MATERIALIZED (SELECT id, f / (SELECT n FROM nv2) AS f FROM vr2)
SELECT 'u' AS kind, id, ROUND(f, 5) AS f FROM u2
UNION ALL
SELECT 'i' AS kind, id, ROUND(f, 5) AS f FROM v2
UNION ALL
SELECT 's' AS kind, 0 AS id, ROUND((SELECT n FROM nv2), 5) AS f
ORDER BY kind, id
""",
        # SGD k=1: two simultaneous batch-GD supersteps of the scalar
        # rule u' = u + g*(sum err*i - l*n*u), g=0.01 l=0.1, same
        # portable init as als_k1
        "sgd_k1": """
WITH r AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
u0 AS MATERIALIZED (
  SELECT u AS id, CAST(u % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT u FROM r)
),
i0 AS MATERIALIZED (
  SELECT i AS id, CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT i FROM r)
),
e0 AS MATERIALIZED (
  SELECT r.u, r.i, (r.rating - u0.f * i0.f) AS err, u0.f AS uf, i0.f AS vf
  FROM r JOIN u0 ON u0.id = r.u JOIN i0 ON i0.id = r.i
),
u1 AS MATERIALIZED (
  SELECT u AS id, ANY_VALUE(uf)
         + CAST(0.01 AS DOUBLE) * (SUM(err * vf)
             - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(uf)) AS f
  FROM e0 GROUP BY u
),
i1 AS MATERIALIZED (
  SELECT i AS id, ANY_VALUE(vf)
         + CAST(0.01 AS DOUBLE) * (SUM(err * uf)
             - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(vf)) AS f
  FROM e0 GROUP BY i
),
e1 AS MATERIALIZED (
  SELECT r.u, r.i, (r.rating - u1.f * i1.f) AS err, u1.f AS uf, i1.f AS vf
  FROM r JOIN u1 ON u1.id = r.u JOIN i1 ON i1.id = r.i
),
u2 AS MATERIALIZED (
  SELECT u AS id, ANY_VALUE(uf)
         + CAST(0.01 AS DOUBLE) * (SUM(err * vf)
             - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(uf)) AS f
  FROM e1 GROUP BY u
),
i2 AS MATERIALIZED (
  SELECT i AS id, ANY_VALUE(vf)
         + CAST(0.01 AS DOUBLE) * (SUM(err * uf)
             - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(vf)) AS f
  FROM e1 GROUP BY i
)
SELECT 'u' AS kind, id, ROUND(f, 5) AS f FROM u2
UNION ALL
SELECT 'i' AS kind, id, ROUND(f, 5) AS f FROM i2
ORDER BY kind, id
""",

        "als_k1": """
WITH r AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
i0 AS MATERIALIZED (
  SELECT i AS id, CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT i FROM r)
),
u1 AS MATERIALIZED (
  SELECT r.u AS id,
         SUM(i0.f * r.rating)
         / (CAST(0.1 AS DOUBLE) * COUNT(*) + SUM(i0.f * i0.f)) AS f
  FROM r JOIN i0 ON i0.id = r.i GROUP BY r.u
),
i1 AS MATERIALIZED (
  SELECT r.i AS id,
         SUM(u1.f * r.rating)
         / (CAST(0.1 AS DOUBLE) * COUNT(*) + SUM(u1.f * u1.f)) AS f
  FROM r JOIN u1 ON u1.id = r.u GROUP BY r.i
),
u2 AS MATERIALIZED (
  SELECT r.u AS id,
         SUM(i1.f * r.rating)
         / (CAST(0.1 AS DOUBLE) * COUNT(*) + SUM(i1.f * i1.f)) AS f
  FROM r JOIN i1 ON i1.id = r.i GROUP BY r.u
),
i2 AS MATERIALIZED (
  SELECT r.i AS id,
         SUM(u2.f * r.rating)
         / (CAST(0.1 AS DOUBLE) * COUNT(*) + SUM(u2.f * u2.f)) AS f
  FROM r JOIN u2 ON u2.id = r.u GROUP BY r.i
)
SELECT 'u' AS kind, id, ROUND(f, 5) AS f FROM u2
UNION ALL
SELECT 'i' AS kind, id, ROUND(f, 5) AS f FROM i2
ORDER BY kind, id
""",
        # WALS k=1: two alternations of the scalar weighted normal
        # equation f = sum(wt*f*r) / (0.1 + sum(wt*f^2)), flat lambda
        # (wals.cpp:331), deterministic weight wt = 1 + (item % 5)
        "wals_k1": """
WITH r AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
i0 AS MATERIALIZED (
  SELECT i AS id, CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT i FROM r)
),
u1 AS MATERIALIZED (
  SELECT r.u AS id,
         SUM((1.0 + (r.i % 5)) * i0.f * r.rating)
         / (CAST(0.1 AS DOUBLE)
            + SUM((1.0 + (r.i % 5)) * i0.f * i0.f)) AS f
  FROM r JOIN i0 ON i0.id = r.i GROUP BY r.u
),
i1 AS MATERIALIZED (
  SELECT r.i AS id,
         SUM((1.0 + (r.i % 5)) * u1.f * r.rating)
         / (CAST(0.1 AS DOUBLE)
            + SUM((1.0 + (r.i % 5)) * u1.f * u1.f)) AS f
  FROM r JOIN u1 ON u1.id = r.u GROUP BY r.i
),
u2 AS MATERIALIZED (
  SELECT r.u AS id,
         SUM((1.0 + (r.i % 5)) * i1.f * r.rating)
         / (CAST(0.1 AS DOUBLE)
            + SUM((1.0 + (r.i % 5)) * i1.f * i1.f)) AS f
  FROM r JOIN i1 ON i1.id = r.i GROUP BY r.u
),
i2 AS MATERIALIZED (
  SELECT r.i AS id,
         SUM((1.0 + (r.i % 5)) * u2.f * r.rating)
         / (CAST(0.1 AS DOUBLE)
            + SUM((1.0 + (r.i % 5)) * u2.f * u2.f)) AS f
  FROM r JOIN u2 ON u2.id = r.u GROUP BY r.i
)
SELECT 'u' AS kind, id, ROUND(f, 5) AS f FROM u2
UNION ALL
SELECT 'i' AS kind, id, ROUND(f, 5) AS f FROM i2
ORDER BY kind, id
""",
        # bias-SGD k=1: two Jacobi supersteps of the scalar rule with
        # global mean, biases (start 0), g0 = 0.01, g1 = 0.01*0.9,
        # l = 0.1 applied n times per vertex (once per train edge)
        "biassgd_k1": """
WITH r AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
gm AS (SELECT AVG(rating) AS m FROM r),
u0 AS MATERIALIZED (
  SELECT u AS id, CAST(u % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT u FROM r)
),
i0 AS MATERIALIZED (
  SELECT i AS id, CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT i FROM r)
),
e0 AS MATERIALIZED (
  SELECT r.u, r.i,
         (r.rating - ((SELECT m FROM gm) + u0.f * i0.f)) AS err,
         u0.f AS uf, i0.f AS vf
  FROM r JOIN u0 ON u0.id = r.u JOIN i0 ON i0.id = r.i
),
u1 AS MATERIALIZED (
  SELECT u AS id,
         ANY_VALUE(uf) + CAST(0.01 AS DOUBLE) * (SUM(err * vf)
           - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(uf)) AS f,
         CAST(0.01 AS DOUBLE) * SUM(err) AS b
  FROM e0 GROUP BY u
),
i1 AS MATERIALIZED (
  SELECT i AS id,
         ANY_VALUE(vf) + CAST(0.01 AS DOUBLE) * (SUM(err * uf)
           - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(vf)) AS f,
         CAST(0.01 AS DOUBLE) * SUM(err) AS b
  FROM e0 GROUP BY i
),
e1 AS MATERIALIZED (
  SELECT r.u, r.i,
         (r.rating - ((SELECT m FROM gm) + u1.b + i1.b
                      + u1.f * i1.f)) AS err,
         u1.f AS uf, u1.b AS ub, i1.f AS vf, i1.b AS vb
  FROM r JOIN u1 ON u1.id = r.u JOIN i1 ON i1.id = r.i
),
u2 AS MATERIALIZED (
  SELECT u AS id,
         ANY_VALUE(uf) + (CAST(0.01 AS DOUBLE) * CAST(0.9 AS DOUBLE)) * (SUM(err * vf)
           - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(uf)) AS f,
         ANY_VALUE(ub) + (CAST(0.01 AS DOUBLE) * CAST(0.9 AS DOUBLE)) * (SUM(err)
           - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(ub)) AS b
  FROM e1 GROUP BY u
),
i2 AS MATERIALIZED (
  SELECT i AS id,
         ANY_VALUE(vf) + (CAST(0.01 AS DOUBLE) * CAST(0.9 AS DOUBLE)) * (SUM(err * uf)
           - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(vf)) AS f,
         ANY_VALUE(vb) + (CAST(0.01 AS DOUBLE) * CAST(0.9 AS DOUBLE)) * (SUM(err)
           - CAST(0.1 AS DOUBLE) * COUNT(*) * ANY_VALUE(vb)) AS b
  FROM e1 GROUP BY i
)
SELECT 'u' AS kind, id, ROUND(f, 5) AS f, ROUND(b, 5) AS b FROM u2
UNION ALL
SELECT 'i' AS kind, id, ROUND(f, 5) AS f, ROUND(b, 5) AS b FROM i2
ORDER BY kind, id
""",
        # Jacobi: 3 unrolled iterations of x = (b + sum_nbr x) / (d+1)
        # over the co-purchase graph (A_ij = -1, A_ii = deg + 1,
        # b = id % 10 + 1, x0 = 0)
        "jacobi_x": f"""
WITH {_SQL_EDGES_MAT},
deg AS MATERIALIZED (
  SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS d FROM und GROUP BY src
),
x1 AS MATERIALIZED (
  SELECT id, CAST(id % 10 + 1 AS DOUBLE) / (d + 1.0) AS x FROM deg
),
s1 AS (
  SELECT und.src AS id, SUM(x1.x) AS s FROM und
  JOIN x1 ON x1.id = und.dst GROUP BY und.src
),
x2 AS MATERIALIZED (
  SELECT deg.id,
         (CAST(deg.id % 10 + 1 AS DOUBLE) + COALESCE(s1.s, 0.0))
         / (deg.d + 1.0) AS x
  FROM deg LEFT JOIN s1 ON s1.id = deg.id
),
s2 AS (
  SELECT und.src AS id, SUM(x2.x) AS s FROM und
  JOIN x2 ON x2.id = und.dst GROUP BY und.src
),
x3 AS MATERIALIZED (
  SELECT deg.id,
         (CAST(deg.id % 10 + 1 AS DOUBLE) + COALESCE(s2.s, 0.0))
         / (deg.d + 1.0) AS x
  FROM deg LEFT JOIN s2 ON s2.id = deg.id
)
SELECT id, ROUND(x, 5) AS x FROM x3 ORDER BY id
""",
        "adpredict": _adpredictor_sql(),
        # sparse-ALS k=1: user side |sum(f*r)| / (sum(f^2) + 0.01)
        # (CoSaMP D=1 + the fabs quirk), item side flat-lambda solve
        "sparse_als_k1": """
WITH r AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i, AVG(l_quantity) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
i0 AS MATERIALIZED (
  SELECT i AS id, CAST((i + 2) % 97 + 1 AS DOUBLE) / 98.0 AS f
  FROM (SELECT DISTINCT i FROM r)
),
u1 AS MATERIALIZED (
  SELECT r.u AS id,
         ABS(SUM(i0.f * r.rating)
             / (SUM(i0.f * i0.f) + CAST(0.01 AS DOUBLE))) AS f
  FROM r JOIN i0 ON i0.id = r.i GROUP BY r.u
),
i1 AS MATERIALIZED (
  SELECT r.i AS id,
         SUM(u1.f * r.rating)
         / (SUM(u1.f * u1.f) + CAST(0.01 AS DOUBLE)) AS f
  FROM r JOIN u1 ON u1.id = r.u GROUP BY r.i
),
u2 AS MATERIALIZED (
  SELECT r.u AS id,
         ABS(SUM(i1.f * r.rating)
             / (SUM(i1.f * i1.f) + CAST(0.01 AS DOUBLE))) AS f
  FROM r JOIN i1 ON i1.id = r.i GROUP BY r.u
),
i2 AS MATERIALIZED (
  SELECT r.i AS id,
         SUM(u2.f * r.rating)
         / (SUM(u2.f * u2.f) + CAST(0.01 AS DOUBLE)) AS f
  FROM r JOIN u2 ON u2.id = r.u GROUP BY r.i
)
SELECT 'u' AS kind, id, ROUND(f, 5) AS f FROM u2
UNION ALL
SELECT 'i' AS kind, id, ROUND(f, 5) AS f FROM i2
ORDER BY kind, id
""",
        "recommend": _RECOMMEND_SQL,
        # full-probe IVF == exact recommend (engine-pinned identity)
        "recommend_ann": _RECOMMEND_SQL,
        # warm-start == cold differential, encoded in the contract: the
        # Spark side computes round(max|warm - cold|, 5); the oracle
        # pins it to 0.0 (both runs stop at unsent-residual <= 1e-8, so
        # each is within ~6e-8 of the same fixpoint — 5dp must agree)
        "pagerank_warm": f"""
WITH {E}
SELECT COUNT(*) AS n_vertices, 0.0 AS max_abs_diff FROM v
""",
        "pagerank3": f"""
WITH {E},
od AS (SELECT src AS id, COUNT(*) AS c FROM e GROUP BY src),
r0 AS (SELECT id, 1.0 AS rank FROM v),
r1 AS (
  SELECT v.id, 0.15 + 0.85 * COALESCE(SUM(r0.rank / od.c), 0.0) AS rank
  FROM v LEFT JOIN e ON e.dst = v.id
         LEFT JOIN r0 ON r0.id = e.src
         LEFT JOIN od ON od.id = e.src
  GROUP BY v.id
),
r2 AS (
  SELECT v.id, 0.15 + 0.85 * COALESCE(SUM(r1.rank / od.c), 0.0) AS rank
  FROM v LEFT JOIN e ON e.dst = v.id
         LEFT JOIN r1 ON r1.id = e.src
         LEFT JOIN od ON od.id = e.src
  GROUP BY v.id
),
r3 AS (
  SELECT v.id, 0.15 + 0.85 * COALESCE(SUM(r2.rank / od.c), 0.0) AS rank
  FROM v LEFT JOIN e ON e.dst = v.id
         LEFT JOIN r2 ON r2.id = e.src
         LEFT JOIN od ON od.id = e.src
  GROUP BY v.id
)
SELECT id, ROUND(rank, 5) AS rank FROM r3 ORDER BY id
""",
        "connected_components": f"""
WITH RECURSIVE {E},
walk(id, comp) AS (
  SELECT id, id FROM v
  UNION
  SELECT und.dst AS id, walk.comp
  FROM walk JOIN und ON und.src = walk.id
  WHERE walk.comp < und.dst
)
SELECT id, MIN(comp) AS component FROM walk GROUP BY id ORDER BY id
""",
        "cc_sizes": f"""
WITH RECURSIVE {E},
walk(id, comp) AS (
  SELECT id, id FROM v
  UNION
  SELECT und.dst AS id, walk.comp
  FROM walk JOIN und ON und.src = walk.id
  WHERE walk.comp < und.dst
),
cc AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id),
sizes AS (SELECT component, COUNT(*) AS csize FROM cc GROUP BY component)
SELECT csize, COUNT(*) AS n_components FROM sizes GROUP BY csize ORDER BY csize
""",
        "label_propagation2": f"""
WITH {E},
l1 AS (
  SELECT v.id, COALESCE(MIN(und.src), v.id) AS label
  FROM v LEFT JOIN und ON und.dst = v.id
  GROUP BY v.id
),
c2 AS (
  SELECT und.dst AS id, l1.label AS lbl, COUNT(*) AS cnt
  FROM und JOIN l1 ON l1.id = und.src
  GROUP BY und.dst, l1.label
),
b2 AS (
  SELECT id, lbl,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn
  FROM c2
)
SELECT l1.id, COALESCE(b2.lbl, l1.label) AS label
FROM l1 LEFT JOIN (SELECT id, lbl FROM b2 WHERE rn = 1) b2 ON b2.id = l1.id
ORDER BY l1.id
""",
        "triangles_total": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
              THEN e.src ELSE e.dst END AS lo,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
              THEN e.dst ELSE e.src END AS hi
  FROM e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
)
SELECT COUNT(*) AS n_triangles
FROM o ab JOIN o bc ON bc.lo = ab.hi JOIN o ac ON ac.lo = ab.lo AND ac.hi = bc.hi
""",
        "triangles_per_vertex": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
              THEN e.src ELSE e.dst END AS lo,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
              THEN e.dst ELSE e.src END AS hi
  FROM e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
),
tri AS (
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM o ab JOIN o bc ON bc.lo = ab.hi JOIN o ac ON ac.lo = ab.lo AND ac.hi = bc.hi
),
credit AS (
  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
)
SELECT v.id, COALESCE(t.n, 0) AS n_triangles
FROM v LEFT JOIN (SELECT id, COUNT(*) AS n FROM credit GROUP BY id) t ON t.id = v.id
ORDER BY v.id
""",
        "neighbors_hop": f"""
WITH {E},
seed AS (SELECT id FROM v ORDER BY id LIMIT 10)
SELECT DISTINCT e.dst AS id
FROM e JOIN seed ON e.src = seed.id
ORDER BY id
""",
        "vertex_join": f"""
WITH {E},
deg AS (
  SELECT v.id,
         COALESCE(i.c, 0) AS in_deg, COALESCE(o.c, 0) AS out_deg
  FROM v
  LEFT JOIN (SELECT dst AS id, COUNT(*) AS c FROM e GROUP BY dst) i ON i.id = v.id
  LEFT JOIN (SELECT src AS id, COUNT(*) AS c FROM e GROUP BY src) o ON o.id = v.id
)
SELECT p.p_brand,
       COUNT(*) AS n_parts,
       CAST(SUM(deg.in_deg + deg.out_deg) AS BIGINT) AS total_degree,
       ROUND(AVG(p.p_retailprice), 5) AS avg_price
FROM deg JOIN part p ON p.p_partkey = deg.id
GROUP BY p.p_brand
ORDER BY p.p_brand
""",
        "select_vset": f"""
WITH {E},
dc AS (SELECT src AS id, COUNT(*) AS degree FROM und GROUP BY src)
SELECT id FROM dc WHERE degree > 40 ORDER BY id
""",
        "graph_stats": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src)
SELECT (SELECT COUNT(*) FROM v) AS n_vertices,
       (SELECT COUNT(*) FROM e) AS n_edges,
       CAST((SELECT SUM(d) FROM deg) AS BIGINT) AS sum_degree,
       (SELECT MAX(d) FROM deg) AS max_degree
""",
        "vset_ops": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
a AS (SELECT id FROM v WHERE id % 2 = 1),
b AS (SELECT id FROM deg WHERE d > 20)
SELECT (SELECT COUNT(*) FROM (SELECT id FROM a INTERSECT SELECT id FROM b)) AS n_and,
       (SELECT COUNT(*) FROM (SELECT id FROM a UNION SELECT id FROM b)) AS n_or,
       (SELECT COUNT(*) FROM (SELECT id FROM a EXCEPT SELECT id FROM b)) AS n_minus
""",
        "sssp_hops": f"""
WITH RECURSIVE {E},
seed AS (SELECT MIN(id) AS id FROM v),
walk(id, hops) AS (
  SELECT id, 0 FROM seed
  UNION
  SELECT und.dst, walk.hops + 1
  FROM walk JOIN und ON und.src = walk.id
  WHERE walk.hops < 39
)
SELECT id, MIN(hops)::BIGINT AS hops FROM walk GROUP BY id ORDER BY id
""",
        "coloring_conflicts": """
SELECT CAST(0 AS BIGINT) AS n_conflicts
""",
        "coloring_degree": """
SELECT CAST(0 AS BIGINT) AS n_conflicts, true AS within_degree_bound
""",
        "coloring_dsatur": """
SELECT CAST(0 AS BIGINT) AS n_conflicts, true AS within_degree_bound
""",
        "text_stats": """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '[ \t\n\r\f]+')) END::BIGINT
         AS n_tokens,
       length(text)::BIGINT AS n_chars_got
FROM documents ORDER BY doc_id
""",
        "quality_score": """
SELECT doc_id,
       ROUND(
         0.4 * LEAST(length(text) / 500.0, 1.0)
       + 0.4 * (CASE WHEN length(text) > 0
                THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                     / length(text) ELSE 0.0 END)
       + 0.2 * (1.0 - LEAST(
           (CASE WHEN length(text) > 0
            THEN length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE
                 / length(text) ELSE 0.0 END) * 4, 1.0)),
       5) AS quality
FROM documents ORDER BY doc_id
""",
        "exact_dup_groups": """
SELECT md5(text) AS text_md5, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
FROM documents GROUP BY md5(text) ORDER BY text_md5
""",
        "dedup_exact": """
SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
ORDER BY doc_id
""",
        "text_quality_full": f"""
WITH t AS (
  SELECT doc_id, text,
         list_transform({_SQL_TOKS}, x -> lower(x)) AS ltoks,
         {_SQL_TOKS} AS toks
  FROM documents
)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT
         AS n_bpe,
       ROUND(CASE WHEN len(toks) > 0 THEN
         len(list_intersect(ltoks,
             ['the','and','of','to','in','is','that','with']))::DOUBLE
           / len(toks) ELSE 0.0 END, 5) AS stopword_ratio,
       ROUND(CASE WHEN length(text) > 0 THEN
         length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))::DOUBLE
           / length(text) ELSE 0.0 END, 5) AS punct_ratio,
       ROUND(CASE WHEN length(text) > 0 THEN
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
           / length(text) ELSE 0.0 END, 5) AS alpha_ratio
FROM t ORDER BY doc_id
""",
        "doc_fingerprint": """
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '[ \t\n\r\f]+') END AS t
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(t) >= 5 THEN
         list_min(list_transform(
           generate_series(1, len(t) - 4),
           i -> md5(array_to_string(t[i:i+4], ' '))))
       ELSE md5(text) END AS fingerprint
FROM toks ORDER BY doc_id
""",
        "lcc": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
              THEN e.src ELSE e.dst END AS lo,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
              THEN e.dst ELSE e.src END AS hi
  FROM e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
),
tri AS (
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM o ab JOIN o bc ON bc.lo = ab.hi JOIN o ac ON ac.lo = ab.lo AND ac.hi = bc.hi
),
credit AS (
  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
),
t AS (SELECT id, COUNT(*) AS n FROM credit GROUP BY id)
SELECT v.id,
       COALESCE(deg.d, 0) AS degree,
       COALESCE(t.n, 0) AS n_triangles,
       ROUND(CASE WHEN COALESCE(deg.d, 0) >= 2
                  THEN 2.0 * COALESCE(t.n, 0)
                       / (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0))
                  ELSE 0.0 END, 6) AS lcc
FROM v LEFT JOIN deg ON deg.id = v.id LEFT JOIN t ON t.id = v.id
ORDER BY v.id
""",
        "assortativity": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src)
SELECT ROUND(CORR(CAST(da.d AS DOUBLE), CAST(db.d AS DOUBLE)), 6) AS assortativity
FROM und JOIN deg da ON da.id = und.src JOIN deg db ON db.id = und.dst
""",
        "modularity_lp": f"""
WITH {E},
l1 AS (
  SELECT v.id, COALESCE(MIN(und.src), v.id) AS label
  FROM v LEFT JOIN und ON und.dst = v.id
  GROUP BY v.id
),
c2 AS (
  SELECT und.dst AS id, l1.label AS lbl, COUNT(*) AS cnt
  FROM und JOIN l1 ON l1.id = und.src
  GROUP BY und.dst, l1.label
),
b2 AS (
  SELECT id, lbl,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn
  FROM c2
),
lab AS (
  SELECT l1.id, COALESCE(w.lbl, l1.label) AS c
  FROM l1 LEFT JOIN (SELECT id, lbl FROM b2 WHERE rn = 1) w ON w.id = l1.id
),
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
mm AS (SELECT COUNT(*) AS m FROM e),
internal AS (
  SELECT la.c, COUNT(*) AS l_c
  FROM e JOIN lab la ON la.id = e.src JOIN lab lb ON lb.id = e.dst
  WHERE la.c = lb.c
  GROUP BY la.c
),
mass AS (
  SELECT lab.c, SUM(deg.d) AS d_c
  FROM deg JOIN lab ON lab.id = deg.id
  GROUP BY lab.c
),
perc AS (
  SELECT CAST(COALESCE(i.l_c, 0) AS DOUBLE) / (SELECT m FROM mm)
         - (CAST(mass.d_c AS DOUBLE) / (2.0 * (SELECT m FROM mm)))
           * (CAST(mass.d_c AS DOUBLE) / (2.0 * (SELECT m FROM mm))) AS q_c
  FROM mass LEFT JOIN internal i ON i.c = mass.c
)
SELECT ROUND(SUM(q_c), 6) AS modularity, COUNT(*) AS n_communities FROM perc
""",
        "transitivity": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
              THEN e.src ELSE e.dst END AS lo,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
              THEN e.dst ELSE e.src END AS hi
  FROM e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
),
tt AS (
  SELECT COUNT(*) AS t
  FROM o ab JOIN o bc ON bc.lo = ab.hi JOIN o ac ON ac.lo = ab.lo AND ac.hi = bc.hi
),
ww AS (
  SELECT SUM(CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0) / 2.0) AS w FROM deg
)
SELECT (SELECT t FROM tt) AS n_triangles,
       CAST((SELECT w FROM ww) AS BIGINT) AS n_wedges,
       ROUND(3.0 * (SELECT t FROM tt) / (SELECT w FROM ww), 6) AS transitivity
""",
        "reciprocity": f"""
WITH {_SQL_DIR_EDGES.strip().rstrip()},
nn AS (SELECT COUNT(*) AS n FROM ed),
rr AS (
  SELECT COUNT(*) AS r FROM ed e1
  WHERE EXISTS (SELECT 1 FROM ed e2 WHERE e2.src = e1.dst AND e2.dst = e1.src)
)
SELECT (SELECT n FROM nn) AS n_directed,
       (SELECT r FROM rr) AS n_reciprocal,
       ROUND(CAST((SELECT r FROM rr) AS DOUBLE) / (SELECT n FROM nn), 6) AS reciprocity
""",
        "link_pred": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
w AS (
  SELECT u1.src AS c, u1.dst AS x, u2.dst AS y
  FROM und u1 JOIN und u2 ON u1.src = u2.src AND u1.dst < u2.dst
),
p AS (
  SELECT x AS a, y AS b, COUNT(*) AS cn,
         SUM(1.0 / LN(CAST(dc.d AS DOUBLE))) AS aa
  FROM w JOIN deg dc ON dc.id = w.c
  GROUP BY x, y
),
np AS (
  SELECT p.* FROM p LEFT JOIN e ON e.src = p.a AND e.dst = p.b
  WHERE e.src IS NULL AND p.cn >= 2
)
SELECT np.a, np.b, np.cn,
       ROUND(np.aa, 6) AS aa,
       ROUND(CAST(np.cn AS DOUBLE) / (da.d + db.d - np.cn), 6) AS jacc
FROM np JOIN deg da ON da.id = np.a JOIN deg db ON db.id = np.b
ORDER BY np.cn DESC, np.a, np.b
LIMIT 100
""",
        "lang_histogram": _lang_sql(),
        "kcore": _kcore_sql(KCORE_K, KCORE_UNROLL),
        "percolation": _percolation_sql(PERC_PROB, PERC_SEED),
        "cascades": _sir_sql(),
        "implicit_edges": _implicit_sql(),
        "repetition": _repetition_sql(),
        "host_graph": _HOST_GRAPH_SQL,
        "host_rank": _host_rank_sql(),
        "ppr": _ppr_sql(),
        "hits3": _hits_sql(3),
        "ktruss": _ktruss_sql(KTRUSS_K, KTRUSS_UNROLL),
        "line_dedup": _line_dedup_sql(),
        "c4_clean": _c4_clean_sql(),
        "split_counts": _split_counts_sql(),
        "qsample": _qsample_sql(),
        "gibbs2": _gibbs_sql(GIBBS_BETA, GIBBS_SWEEPS),
        "walks3": _walks_sql(WALK_LEN),
        "sppmi2": _sppmi_sql(WALK_LEN, 2),
        "scc": """
WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT COUNT(*) AS n FROM ids),
ed AS MATERIALIZED (
  SELECT id AS src, (id * id + 7) % (SELECT n FROM nn) AS dst
  FROM ids
  WHERE (id * id + 7) % (SELECT n FROM nn) <> id
),
verts AS (SELECT src AS id FROM ed UNION SELECT dst AS id FROM ed),
r AS (SELECT src AS a, dst AS b FROM ed
      UNION
      SELECT r.a, e.dst FROM r JOIN ed e ON e.src = r.b),
mut AS (SELECT r1.a AS v, r1.b AS u
        FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a)
SELECT i.id, GREATEST(i.id, COALESCE(MAX(m.u), i.id))::BIGINT AS scc
FROM verts i LEFT JOIN mut m ON m.v = i.id
GROUP BY i.id ORDER BY i.id
""",
        "tfidf5": f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, list_transform({_SQL_TOKS}, t -> lower(t)) AS ltoks
  FROM documents
),
pairs AS (SELECT doc_id, unnest(ltoks) AS term FROM base),
tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
dn AS (SELECT COUNT(*) AS d FROM documents),
scored AS (
  SELECT t.doc_id, t.term,
         t.tf * (ln(((SELECT d FROM dn) + 1)::DOUBLE / (f.df + 1))
                 + 1.0) AS score
  FROM tf t JOIN dfreq f USING (term)
),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, rank::INT AS rank, ROUND(score, 5) AS score
FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
""",
        "lm_score": _lm_sql_with("""
SELECT d.doc_id, COALESCE(s.n_bigrams, 0)::BIGINT AS n_bigrams,
       COALESCE(s.avg_logprob, 0.0) AS avg_logprob
FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id
"""),
        "ppl_buckets": _lm_sql_with(f"""
SELECT d.doc_id, COALESCE(s.avg_logprob, 0.0) AS avg_logprob,
       CASE WHEN COALESCE(s.avg_logprob, 0.0) >= {PPL_CUTS[1]!r}
              THEN 'head'
            WHEN COALESCE(s.avg_logprob, 0.0) >= {PPL_CUTS[0]!r}
              THEN 'middle'
            ELSE 'tail' END AS bucket
FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id
"""),
        "anchors": r"""
WITH p AS (
  SELECT 'http://src/' || doc_id::VARCHAR AS src_url,
    '<html><body><a href="http://s' || (doc_id % 7)::VARCHAR ||
    '.example.com/p/' || (doc_id % 13)::VARCHAR || '">anchor ' ||
    doc_id::VARCHAR || ' &amp;  more</a><p>pad</p>' ||
    CASE WHEN doc_id % 3 = 0 THEN
      '<A href="http://t.example.com/q" class="z">second' || chr(10)
      || ' link &lt;x&gt;</A>' ELSE '' END ||
    '</body></html>' AS html
  FROM documents
),
els AS (
  SELECT src_url, unnest(regexp_extract_all(html,
    '(?is)<a\s[^>]*?href="[^"]*"[^>]*>.*?</a>', 0)) AS e
  FROM p
),
x AS (
  SELECT src_url,
     regexp_extract(e, '(?i)href="([^"]*)"', 1) AS dst_url,
     trim(regexp_replace(
       replace(replace(replace(replace(replace(
         regexp_replace(
           regexp_replace(regexp_replace(e, '(?is)^<a[^>]*>', ''),
                          '(?is)</a>$', ''),
           '<[^>]*>', ' ', 'g'),
         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         '&amp;', '&'),
       '[ \t\n\r\f]+', ' ', 'g')) AS anchor
  FROM els
)
SELECT src_url, dst_url, anchor FROM x
ORDER BY src_url, dst_url, anchor
""",
        "latest_capture": r"""
WITH pages AS (
  SELECT doc_id,
         'HTTP://Site' || (doc_id % 5)::VARCHAR || '.Example.com:80/p/'
         || (doc_id % 50)::VARCHAR || '?utm_source=x&gclid='
         || doc_id::VARCHAR || '#f' AS url,
         ((doc_id * 37) % 1000)::BIGINT AS warc_ts
  FROM documents
),
canon AS (
  SELECT doc_id, url, warc_ts,
    regexp_replace(trim(url), '#.*$', '') AS u1,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(u1,
      '([?&])(utm_[a-zA-Z0-9_]+|gclid|fbclid)=[^&#]*', '\1', 'g'),
      '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '') AS u2,
    lower(regexp_extract(u2, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS ss,
    lower(regexp_extract(u2, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1))
      AS sa,
    regexp_replace(u2, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS sr,
    CASE WHEN ss = 'http' THEN regexp_replace(sa, ':80$', '')
         WHEN ss = 'https' THEN regexp_replace(sa, ':443$', '')
         ELSE sa END AS sa2,
    regexp_replace(CASE WHEN ss <> '' THEN ss || '://' || sa2 || sr
                        ELSE u2 END, '/$', '') AS canon_url
  FROM pages
)
SELECT canon_url, doc_id, warc_ts
FROM canon
QUALIFY ROW_NUMBER() OVER (PARTITION BY canon_url
  ORDER BY warc_ts DESC, url ASC, doc_id ASC) = 1
ORDER BY canon_url
""",
        "packing": _packing_sql(PACK_BUDGET, PACK_SHARDS),
        "vocab2": _vocab_sql(2, VOCAB_TOPK),
        "quantize8": """
WITH v AS (SELECT vec_id,
                  list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS scale
      FROM v),
q AS (SELECT vec_id, scale,
             CASE WHEN scale > 0
                  THEN list_transform(v,
                       x -> CAST(round(x / scale * 127.0) AS INT))
                  ELSE list_transform(v, x -> 0) END AS q
      FROM s)
SELECT vec_id, ROUND(scale, 5) AS scale,
       md5(array_to_string(q, ',')) AS q_md5
FROM q ORDER BY vec_id
""",
        "plaw_alpha": f"""
WITH {_SQL_EDGES},
od AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src),
f AS (SELECT d FROM od WHERE d >= 2)
SELECT ROUND(1.0 + COUNT(*) / SUM(LN(d / 1.5E0)), 5) AS alpha,
       COUNT(*) AS n
FROM f
""",
        "laplacian": _LAPLACIAN_SQL,
        "eigen3": _eigen3_sql(),
        "closeness": _closeness_sql(N_SEEDS, BETW_DEPTH),
        "harmonic": _harmonic_sql(N_SEEDS, BETW_DEPTH),
        "louvain2": _louvain_sql(2),
        "louvain_l2": _louvain_sql(2, levels=2),
        "rank_sample": f"""
WITH {_host_rank_ctes()},
ranks AS (SELECT host, ROUND(rank, 5) AS rank FROM r3),
mx AS (SELECT MAX(rank) AS m FROM ranks),
d AS (
  SELECT doc_id,
         'site' || (doc_id % 17)::VARCHAR || '.example.com' AS host
  FROM documents
),
hs AS (
  SELECT d.doc_id, d.host, ranks.rank,
         md5('ranksample:' || d.doc_id::VARCHAR) AS h
  FROM d JOIN ranks ON ranks.host = d.host
),
uu AS (SELECT doc_id, host, rank, {_sql_md5_u()} AS u FROM hs)
SELECT doc_id, host, ROUND(rank, 5) AS rank, ROUND(u, 5) AS u
FROM uu WHERE u < rank / (SELECT m FROM mx)
ORDER BY doc_id
""",
        "neighbor_sample": f"""
WITH {E},
seeds AS (SELECT DISTINCT id FROM v ORDER BY id LIMIT 10),
f0 AS (SELECT id AS src FROM seeds),
h1 AS (
  SELECT 1 AS hop, src, dst FROM (
    SELECT f0.src, und.dst,
           ROW_NUMBER() OVER (PARTITION BY f0.src
             ORDER BY md5(concat_ws('|', 42, f0.src, und.dst)), und.dst) AS rk
    FROM f0 JOIN und ON und.src = f0.src)
  WHERE rk <= 3
),
f1 AS (SELECT DISTINCT dst AS src FROM h1),
h2 AS (
  SELECT 2 AS hop, src, dst FROM (
    SELECT f1.src, und.dst,
           ROW_NUMBER() OVER (PARTITION BY f1.src
             ORDER BY md5(concat_ws('|', 42, f1.src, und.dst)), und.dst) AS rk
    FROM f1 JOIN und ON und.src = f1.src)
  WHERE rk <= 2
)
SELECT hop, src, dst FROM h1
UNION ALL
SELECT hop, src, dst FROM h2
ORDER BY hop, src, dst
""",
        "betweenness": _betweenness_sql(N_SEEDS, BETW_DEPTH),
        "prestige": _prestige_sql(N_SEEDS, 8),
        "dijkstra_tree": _DIJKSTRA_SQL,
        "directed_census": f"""
WITH {_SQL_CENSUS_CORE}
SELECT * FROM per_v ORDER BY id
""",
        "directed_census_totals": f"""
WITH {_SQL_CENSUS_CORE}
SELECT SUM(in_triangles)::BIGINT AS in_triangles,
       SUM(out_triangles)::BIGINT AS out_triangles,
       SUM(through_triangles)::BIGINT AS through_triangles,
       SUM(cycle_triangles)::BIGINT AS cycle_triangles
FROM per_v
""",
        "simhash": _simhash_sql(),
        "simhash_dups": _simhash_dups_sql(SIMHASH_MAX_HAMMING, MINHASH_CAP),
        "minhash_candidates": _minhash_sql(32, 16, 3, MINHASH_CAP),
        "jaccard": _jaccard_sql(32, 16, 3, MINHASH_CAP),
        "embedding_dups": _embedding_dups_sql(6, EMB_DUP_THRESHOLD, MINHASH_CAP),
        "contamination": _contamination_sql(CONTAM_K, CONTAM_BENCH_IDS),
        "pii_redact": _pii_redact_sql(),
        "warp_nbr_degree_sum": f"""
WITH {E},
deg AS (SELECT src AS id, COUNT(*) AS deg FROM und GROUP BY src),
s AS (
  SELECT e.dst AS id, SUM(COALESCE(d.deg, 0)) AS nbr_deg_sum
  FROM e JOIN deg d ON d.id = e.src GROUP BY e.dst
)
SELECT v.id, COALESCE(s.nbr_deg_sum, 0)::BIGINT AS nbr_deg_sum
FROM v LEFT JOIN s ON s.id = v.id ORDER BY v.id
""",
        "sessions": f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts))
                OVER (PARTITION BY user_id ORDER BY ts)
              > {SESSION_GAP_MIN} * 60.0 THEN 1 ELSE 0 END AS new_s
  FROM events
),
sid AS (
  SELECT *, SUM(new_s) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
  ) AS _sid
  FROM marked
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*)::BIGINT AS n_events,
       ROUND(SUM(value), 5) AS total_value
FROM sid GROUP BY user_id, _sid ORDER BY user_id, session_start
""",
        "stream_window_counts": """
WITH e AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS ws, event_type FROM events
),
m AS (SELECT MAX(ts) - INTERVAL '1 hour' AS wm FROM events)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*)::BIGINT AS n_events
FROM e, m
WHERE ws + INTERVAL '6 hours' <= wm
GROUP BY ws, event_type
ORDER BY window_start, event_type
""",
        "approx_diameter": _diameter_sql(DIAM_R, DIAM_MAX_HOPS, DIAM_TOL),
        "lsh_topk": _lsh_topk_sql(6, 5),
        "ivf_topk": _ivf_sql(16, 4, 5),
        "knn_cosine": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5
),
v AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM embeddings),
scored AS (
  SELECT q.query_id, v.neighbor_id,
         list_dot_product(q.qv, v.nv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(v.nv, v.nv))) AS sim
  FROM v CROSS JOIN q WHERE v.neighbor_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(sim, 5) AS sim
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
""",
        "dup_clusters": _dup_clusters_sql(32, 16, 3, MINHASH_CAP, 0.8),
        "span_dup": f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
occ AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+7], ' ')) AS gram
  FROM base,
       unnest(CASE WHEN len(t) >= 8 THEN generate_series(1, len(t) - 7)
                   ELSE []::BIGINT[] END) AS u(i)
),
dup AS (SELECT gram FROM occ GROUP BY gram HAVING COUNT(*) >= 2),
dpos AS (
  SELECT o.doc_id, o.pos, o.pos + 8 AS e FROM occ o JOIN dup USING (gram)
),
cov AS (
  SELECT doc_id, pos, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS pme
  FROM dpos
),
per AS (
  SELECT doc_id,
         SUM(GREATEST(0, e - GREATEST(pos, COALESCE(pme, pos))))::BIGINT
           AS dup_tokens
  FROM cov GROUP BY doc_id
)
SELECT b.doc_id, len(b.t)::BIGINT AS n_tokens,
       COALESCE(p.dup_tokens, 0)::BIGINT AS dup_tokens,
       ROUND(CASE WHEN len(b.t) > 0
                  THEN COALESCE(p.dup_tokens, 0)::DOUBLE / len(b.t)
                  ELSE 0.0 END, 6) AS dup_frac
FROM base b LEFT JOIN per p USING (doc_id)
ORDER BY b.doc_id
""",
        "qlr2": _qlr_sql(QLR_DIM, QLR_LR),
        "semdedup": _semdedup_sql(),
        "dsir_sample": _dsir_sql(),
        "bpe3": _bpe_sql(),
        "hll_words": _hll_sql(HLL_B),
        "strat_sample": f"""
WITH d AS (
  SELECT doc_id, lang,
         ({_sql_md5_u32("md5('drv:' || doc_id::VARCHAR)")})::DOUBLE
           / 4294967296.0E0 AS u
  FROM documents
),
r AS (
  SELECT doc_id, lang, u,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rk
  FROM d
)
SELECT doc_id, lang, ROUND(u, 5) AS u
FROM r WHERE rk <= {STRAT_N} ORDER BY doc_id
""",
        "mixture40": _mixture_sql(),
        "blocklist": f"""
WITH d AS (
  SELECT doc_id,
         'http://' || CASE WHEN doc_id % 11 = 0 THEN 'sub.' ELSE '' END
           || 's' || (doc_id % 7)::VARCHAR || '.example.com/p/'
           || (doc_id % 13)::VARCHAR AS url
  FROM documents
),
h AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '://([^/?#:]*)', 1)) AS host
  FROM d
)
SELECT doc_id, url FROM h
WHERE NOT ({" OR ".join(
    f"host = '{b}' OR host LIKE '%.{b}'" for b in BLOCKED
)})
ORDER BY doc_id
""",
        "span_rewrite": f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
occ AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+7], ' ')) AS gram
  FROM base,
       unnest(CASE WHEN len(t) >= 8 THEN generate_series(1, len(t) - 7)
                   ELSE []::BIGINT[] END) AS u(i)
),
own AS (
  SELECT gram, min((doc_id, pos)) AS own
  FROM occ GROUP BY gram HAVING COUNT(*) >= 2
),
rem AS (
  SELECT o.doc_id, o.pos, o.pos + 8 AS e
  FROM occ o JOIN own w USING (gram)
  WHERE (o.doc_id, o.pos) <> w.own
),
cov AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > COALESCE(
             MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ng
  FROM rem
),
grp AS (
  SELECT doc_id, pos, e,
         SUM(ng) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS g
  FROM cov
),
mint AS (
  SELECT doc_id, g, MIN(pos) AS s, MAX(e) AS me FROM grp GROUP BY doc_id, g
),
cpos AS (
  SELECT doc_id, unnest(generate_series(s, me - 1)) AS cp FROM mint
),
tokpos AS (
  SELECT doc_id, i - 1 AS i, t[i] AS tok
  FROM base, unnest(generate_series(1, len(t))) AS u(i)
),
kept AS (
  SELECT tp.doc_id, tp.i, tp.tok
  FROM tokpos tp ANTI JOIN cpos c
    ON c.doc_id = tp.doc_id AND c.cp = tp.i
),
reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY i) AS txt
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, COALESCE(r.n_kept, 0)::BIGINT AS n_kept,
       md5(COALESCE(r.txt, '')) AS clean_md5
FROM base b LEFT JOIN reb r USING (doc_id) ORDER BY b.doc_id
""",
    }
    # incremental CC must land on the SAME full-graph fixpoint
    out["cc_warm"] = out["connected_components"]
    return out

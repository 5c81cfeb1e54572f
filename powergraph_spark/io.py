"""Graph text-format I/O — the reference's builtin parsers/writers.

Reference: /root/reference/src/graphlab/graph/builtin_parsers.hpp and
the load/save dispatch at distributed_graph.hpp:2421-2447/2142-2159.
Every parser is expressed as JVM-side column operations over
spark.read.text — file-parallel, gzip-transparent, no Python in the
parse path (the reference's per-machine round-robin file loading,
distributed_graph.hpp:2170-2270, is Spark's split planning for free).

Formats: snap (src\\tdst with # comments, builtin_parsers.hpp:62-77),
tsv (:85-96), csv (:99-113), adj ("src n dst1 ... dstn", :119-142),
bintsv4 (raw 4-byte pairs, distributed_graph.hpp:3271-3316) -> parquet
here, graphjrl -> parquet round-trip (the binary-archive journal's
capability is full-fidelity save/load, which parquet subsumes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .graph import Graph, _src_layout

FORMATS = ("snap", "tsv", "csv", "adj", "parquet")


def read_edges(spark: SparkSession, path: str, fmt: str = "tsv") -> DataFrame:
    """Parse an edge list into (src long, dst long). No dedup/loop
    filtering here — Graph.from_edges applies the structural rules."""
    if fmt == "parquet":
        return spark.read.parquet(path).select("src", "dst")
    lines = spark.read.text(path).select(F.trim(F.col("value")).alias("line"))
    lines = lines.filter(F.col("line") != "")
    if fmt == "snap":
        # '#'-prefixed comment lines dropped (builtin_parsers.hpp:64-66)
        lines = lines.filter(~F.col("line").startswith("#"))
        fmt = "tsv"
    if fmt in ("tsv", "csv"):
        sep = r"\t" if fmt == "tsv" else ","
        parts = F.split(F.col("line"), sep)
        return lines.select(
            F.element_at(parts, 1).cast("long").alias("src"),
            F.element_at(parts, 2).cast("long").alias("dst"),
        )
    if fmt == "adj":
        return _read_adj(lines)[0]
    raise ValueError(f"unknown graph format: {fmt}")


def _read_adj(lines: DataFrame) -> tuple[DataFrame, DataFrame]:
    """adj parser -> (edges, declared_source_vertices). The vertex set
    matters: a line 'src 0' declares a zero-neighbor vertex that the
    reference's adj_parser still adds (builtin_parsers.hpp:119-142 —
    graph.add_vertex before the neighbor loop); exploding to edges
    alone would drop it."""
    parts = F.split(F.col("line"), r"[ \t]+")
    parsed = lines.select(
        F.element_at(parts, 1).cast("long").alias("src"),
        F.element_at(parts, 2).cast("int").alias("n"),
        F.slice(parts, 3, 2147483647).alias("rest"),
    )
    bad = parsed.filter(F.size("rest") != F.col("n"))
    if not bad.isEmpty():
        raise ValueError("adj parse error: declared neighbor count mismatch")
    edges = parsed.select(
        "src", F.explode("rest").alias("dst")
    ).select("src", F.col("dst").cast("long").alias("dst"))
    srcs = parsed.select(F.col("src").alias("id")).distinct()
    return edges, srcs


def load_graph(spark: SparkSession, path: str, fmt: str = "tsv", **kw) -> Graph:
    """load_format analog (distributed_graph.hpp:2421-2447). For adj,
    declared zero-neighbor sources survive as isolated vertices."""
    if fmt == "adj":
        lines = spark.read.text(path).select(
            F.trim(F.col("value")).alias("line")
        ).filter(F.col("line") != "")
        edges, srcs = _read_adj(lines)
        ends = (
            edges.select(F.col("src").alias("id"))
            .unionAll(edges.select(F.col("dst").alias("id")))
            .unionAll(srcs)
            .distinct()
        )
        return Graph.from_edges(edges, vertices=ends, **kw)
    return Graph.from_edges(read_edges(spark, path, fmt), **kw)


def write_edges(edges: DataFrame, path: str, fmt: str = "tsv",
                files: int | None = None) -> None:
    """save() analog (distributed_graph.hpp:2090-2099): tsv/csv writers
    (builtin_parsers.hpp:182-190) or parquet (binary formats)."""
    df = edges.select("src", "dst")
    if files:
        df = df.repartition(files)
    if fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    elif fmt in ("tsv", "csv"):
        sep = "\t" if fmt == "tsv" else ","
        df.select(
            F.concat_ws(sep, F.col("src"), F.col("dst")).alias("value")
        ).write.mode("overwrite").text(path)
    else:
        raise ValueError(f"unknown graph format: {fmt}")


def save_graph(graph: Graph, path: str) -> None:
    """Full-fidelity snapshot (graphjrl/save_binary analog,
    distributed_graph.hpp:1720-1833) — parquet of both tables;
    reloadable at ANY parallelism (the reference requires the same
    machine count)."""
    graph.edges.write.mode("overwrite").parquet(f"{path}/edges")
    graph.vertices.write.mode("overwrite").parquet(f"{path}/vertices")


def load_saved_graph(spark: SparkSession, path: str,
                     num_partitions: int | None = None) -> Graph:
    """Reload a save_graph snapshot into the src-hashed layout at
    ``num_partitions``; ``pid`` is recomputed for the new parallelism.
    Saved edges are already deduplicated."""
    e = spark.read.parquet(f"{path}/edges")
    v = spark.read.parquet(f"{path}/vertices")
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = _src_layout(e, P, dedup=False).persist(StorageLevel.MEMORY_AND_DISK)
    return Graph(edges=e, vertices=v, num_partitions=P)


def synthetic_powerlaw(
    spark: SparkSession, nverts: int, alpha: float = 2.1,
    max_out: int = 100, seed: int = 42, num_partitions: int | None = None,
    **graph_kw,
) -> Graph:
    """load_synthetic_powerlaw analog (distributed_graph.hpp:2380-2412):
    out-degree ~ d^-alpha via inverse CDF over a deterministic uniform
    derived from the vertex id; targets via fixed coprime-stride walk
    skipping self-loops. Fully id-deterministic -> same graph at any
    parallelism. Expressed as JVM ops: sequence+transform explode."""
    import math

    weights = [d ** -alpha for d in range(1, max_out + 1)]
    tot = sum(weights)
    cdf = []
    acc = 0.0
    for w in weights:
        acc += w / tot
        cdf.append(acc)
    stride = 2654435761 % nverts or 1

    ids = spark.range(nverts).select(F.col("id").alias("src"))
    u = (F.pmod(F.xxhash64(F.col("src"), F.lit(seed)), F.lit(1 << 30))
         / F.lit(float(1 << 30)))
    # inverse CDF via sum of threshold comparisons (JVM, no UDF)
    deg = F.lit(1)
    for c in cdf[:-1]:
        deg = deg + F.when(u > c, 1).otherwise(0)
    # target walk: dst_j = (src*7919 + 13 + j*stride) % n, j=0..deg
    # (one extra candidate absorbs a skipped self-loop)
    e = ids.select(
        "src",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), deg.cast("int")),
                lambda j: (F.col("src") * 7919 + 13 + j * stride) % nverts,
            )
        ).alias("j", "dst"),
        deg.alias("deg"),
    )
    # keep the first `deg` non-self targets per source, in walk order
    # (posexplode position makes this deterministic at any parallelism)
    from pyspark.sql import Window

    w_src = Window.partitionBy("src").orderBy("j")
    e = (
        e.filter(F.col("src") != F.col("dst"))
        .withColumn("rn", F.row_number().over(w_src))
        .filter(F.col("rn") <= F.col("deg"))
        .select("src", "dst")
    )
    return Graph.from_edges(e, num_partitions=num_partitions, **graph_kw)

"""Cluster entry point: PageRank over a pages table.

Usage (north rule launch shape):
    python -m zipfile -c powergraph_spark.zip powergraph_spark
    spark-submit --py-files powergraph_spark.zip jobs/pagerank_job.py \
        --pages <pages parquet/iceberg path> --output <out path> \
        [--tol 1e-6] [--partitions 4096] \
        [--checkpoint <path>] [--resume]

On a multi-executor cluster the same invocation scales from N to 4N
executors with no code change: the plan's partitioning is set by
--partitions, not by cluster size.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iterations", type=int, default=200)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--check-interval", type=int, default=5)
    ap.add_argument("--delta", action="store_true",
                    help="gather-cache/post_delta mode: only the "
                         "changed frontier scatters each superstep")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from powergraph_spark.algorithms import pagerank, pagerank_delta, total_rank
    from powergraph_spark.checkpoint import CheckpointStore
    from powergraph_spark.webtext import audit_collisions, pages_to_graph

    spark = SparkSession.builder.appName("powergraph-pagerank").getOrCreate()
    pages = spark.read.parquet(args.pages)
    g = pages_to_graph(pages, num_partitions=args.partitions)
    assert audit_collisions(g.vertices) == 0, "url hash collision"
    store = CheckpointStore(spark, args.checkpoint) if args.checkpoint else None
    if args.delta:
        res = pagerank_delta(
            g, tol=args.tol, max_iterations=args.max_iterations,
            checkpoint=store,
            check_interval=args.check_interval, verbose=True,
        )
    else:
        res = pagerank(
            g, tol=args.tol, max_iterations=args.max_iterations,
            checkpoint=store, resume=args.resume,
            check_interval=args.check_interval, verbose=True,
        )
    res.state.select("id", "rank").write.mode("overwrite").parquet(args.output)
    print(f"termination={res.termination} supersteps={res.supersteps} "
          f"total_rank={total_rank(res.state):.4f}")


if __name__ == "__main__":
    main()

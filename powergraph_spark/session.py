"""SparkSession construction with engine defaults.

Scale posture: these configs are tuned for correctness + local[32]
testing but written so the same code runs on a 1000-executor cluster —
AQE handles runtime re-planning (coalesce, skew-join splitting), and
shuffle partitions default to cluster parallelism instead of a magic
number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "powergraph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE on: runtime partition coalescing and skew-join splitting.
      The edge layout itself is a plain hash partitioning by src
      (Graph.from_edges); PageRank's superstep reads that cache with no
      edge exchange, so AQE has no edge shuffle to split there.
    - Arrow on: every Python-side kernel is Arrow-vectorized
      (input_hint: no per-row Python).
    - UTC session timezone: required for DuckDB-oracle comparison.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # local-mode shuffle I/O on tmpfs when available (measured ~1.4x on
    # shuffle-heavy supersteps); a real cluster ignores this and uses
    # its provisioned local disks.
    local_dir = None
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

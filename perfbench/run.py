#!/usr/bin/env python3
"""Crawl-graph benchmark for powergraph_spark.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_pagerank --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 42

One run generates the workload's pages tables from ``--seed`` (cached
under ``.perfbench_cache/``), sets up, runs timed passes of the
workload while ``--seconds`` lasts (at least one), checks every answer
against the numpy oracles in ``oracles.py``, and prints one JSON object
as its last line, after a ``detail`` line with the per-call timings.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces the
passes and reports the per-layer metrics of the first, writing its
spans to ``.perfbench_out/``. Its ``trace.overhead_s`` is the time the
tracer spent outside engine calls (status-tracker reads, listener-bus
drains, partition metrics).

Set-up (``setup_s``) is ``get_spark`` (which launches the JVM), one
warm-up pass of the workload over a 200-page table with every loop
capped at two supersteps, and pages-table registration. In a fresh JVM
the first pass over the workload's plans compiles them and runs 1.5-2x
slower; the warm-up moves that into set-up. Figures come from the
first timed pass. ``cpu_s``, the CPU time the JVM and this process used
during it, is the bounded figure: host CPU steal moved the pass's wall
time by up to 40% but is not charged as CPU time. ``wall_s`` is in the
``detail`` line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_RUN_S = 150  # start no new pass past this point of a run
WARMUP_PAGES = 200
WARMUP_SUPERSTEPS = 2
# The JVM keeps warming from pass to pass (crawl_pagerank: 7.7, 5.9,
# 4.5 s), so the figures come from the same passes in every run: the
# first MEASURED_PASSES, which every run makes.
MEASURED_PASSES = 1

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
ALGORITHMS = ["pagerank", "connected_components", "label_propagation",
              "triangle_total", "pagerank_delta", "pagerank_warm_start"]
GAS_ALGORITHMS = [a for a in ALGORITHMS if a != "triangle_total"]
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "webtext.pages_to_graph_s": "s",
    "webtext.pages_to_graph.jobs": "count",
    "webtext.pages_to_graph.shuffle_write_mb": "MB",
    "webtext.edges": "count",
    "webtext.vertices": "count",
    "partition.replication_factor": "ratio",
    "partition.max_over_mean_edges": "ratio",
    **{f"gas.{a}.supersteps": "count" for a in GAS_ALGORITHMS},
    "gas.superstep_s": "s",
    "gas.superstep_s_p50": "s",
    "gas.superstep_s_p90": "s",
    "gas.jobs_per_superstep": "count",
    "gas.tasks_per_superstep": "count",
    "gas.shuffle_write_mb_per_superstep": "MB",
    "gas.active_fraction": "ratio",
    **{k: u for a in ALGORITHMS for k, u in (
        (f"algorithms.{a}_s", "s"), (f"algorithms.{a}.jobs", "count"),
        (f"algorithms.{a}.shuffle_write_mb", "MB"))},
    "checkpoint.commits": "count",
    "checkpoint.commit_s_p50": "s",
    "checkpoint.commit_s_p90": "s",
    "checkpoint.written_mb": "MB",
    "checkpoint.latest_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}
# the per-workload figures of the ``detail`` line
DETAIL_UNITS = {"wall_s": "s", "compute_s": "s", "graph_ready_s": "s", "edges_per_s": "edges/s", "peak_rss_mb": "MB",
                "ranks_s": "s", "components_s": "s", "communities_s": "s",
                "triangles_s": "s", "checkpointed_ranks_s": "s", "refresh_s": "s",
                "failed_ops_ratio": "ratio"}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside the checkout and put the
    repository on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    from powergraph_spark.session import get_spark
    from perfbench.workloads import PARTITIONS

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{_cpus()}]",
        shuffle_partitions=PARTITIONS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of a call back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop Spark, if it was started, and wait for the JVM (and with it
    the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM and by this driver process.
    Unlike wall time, CPU time is not charged for time the host takes
    the CPUs away (steal), which reached 10% on the reference box."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    utime, stime = int(fields[11]), int(fields[12])
    return (utime + stime) / os.sysconf("SC_CLK_TCK") + time.process_time()


def peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _pct(values, q):
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def _release(out) -> None:
    for g in out["graphs"]:
        g.unpersist()


def layer_metrics(traced, get_spark_s: float, rss: float) -> dict:
    """Per-layer metrics of one traced pass."""
    tracer, calls = traced["probe"], traced["calls"]
    mb = 2 ** 20

    def named(name):
        return [c for c in calls if c.name == name]

    def counter(cs, key):
        return sum(c.counters.get(key, 0) for c in cs)

    m = {"session.get_spark_s": get_spark_s, "session.peak_rss_mb": rss}
    ingests = named("webtext.pages_to_graph")
    ready = [c for c in ingests if c.role == "graph"][-1]
    m.update({
        "webtext.pages_to_graph_s": sum(c.seconds for c in ingests),
        "webtext.pages_to_graph.jobs": counter(ingests, "jobs"),
        "webtext.pages_to_graph.shuffle_write_mb": counter(ingests, "shuffle_write_bytes") / mb,
        "webtext.edges": ready.edges,
        "webtext.vertices": ready.vertices,
        "partition.replication_factor": tracer.partition.get("replication_factor", 0.0),
        "partition.max_over_mean_edges": tracer.partition.get("max_over_mean_edges", 0.0),
    })
    gas = [c for c in calls if c.name.split(".")[-1] in GAS_ALGORITHMS]
    steps = sum(c.supersteps for c in gas)
    walls = [w for c in gas for w in c.superstep_walls]
    touched = sum(c.vertices * len(c.active) for c in gas)
    for a in GAS_ALGORITHMS:
        m[f"gas.{a}.supersteps"] = sum(c.supersteps for c in named(f"algorithms.{a}"))
    m.update({
        "gas.superstep_s": sum(c.seconds for c in gas) / steps if steps else 0.0,
        "gas.superstep_s_p50": _pct(walls, 50),
        "gas.superstep_s_p90": _pct(walls, 90),
        "gas.jobs_per_superstep": counter(gas, "jobs") / steps if steps else 0.0,
        "gas.tasks_per_superstep": counter(gas, "tasks") / steps if steps else 0.0,
        "gas.shuffle_write_mb_per_superstep":
            counter(gas, "shuffle_write_bytes") / mb / steps if steps else 0.0,
        "gas.active_fraction":
            sum(a for c in gas for a in c.active) / touched if touched else 0.0,
    })
    for a in ALGORITHMS:
        cs = named(f"algorithms.{a}")
        m[f"algorithms.{a}_s"] = sum(c.seconds for c in cs)
        m[f"algorithms.{a}.jobs"] = counter(cs, "jobs")
        m[f"algorithms.{a}.shuffle_write_mb"] = counter(cs, "shuffle_write_bytes") / mb
    m.update({
        "checkpoint.commits": len(tracer.commit_s),
        "checkpoint.commit_s_p50": _pct(tracer.commit_s, 50),
        "checkpoint.commit_s_p90": _pct(tracer.commit_s, 90),
        "checkpoint.written_mb": traced["written_mb"],
        "checkpoint.latest_s": sum(tracer.latest_s),
        "trace.traced_wall_s": traced["wall"],
        "trace.overhead_s": tracer.overhead_s,
    })
    return m


def warm_up(spark, wl, work: str, seed: int) -> None:
    """Set-up's warm-up: a capped pass of the workload over a 200-page
    table written here. Every plan shape the timed passes use gets
    compiled, and the same table write runs whether or not the
    workload's own tables are cached (a cache miss would otherwise warm
    the JVM more than a hit)."""
    from perfbench.corpus import ensure_shards
    from perfbench.probes import Clock
    from perfbench.workloads import REFRESH_BASE_SHARE
    from powergraph_spark.webtext import write_pages_table

    path = os.path.join(work, "warm-up")
    write_pages_table(spark, path, n_pages=WARMUP_PAGES, seed=seed)
    paths = {"pages": path}
    if wl.split:
        paths.update(ensure_shards(spark, path, int(WARMUP_PAGES * REFRESH_BASE_SHARE)))
    tables = {k: spark.read.parquet(p) for k, p in paths.items()}
    _release(wl.run_pass(spark, Clock(), tables, os.path.join(work, "warm-up-pass"),
                         cap=WARMUP_SUPERSTEPS))


def _prepare_inputs(spark, wl, seed: int) -> dict[str, str]:
    """Generate (or reuse) the workload's pages tables for ``seed``."""
    from perfbench.corpus import Corpus, ensure_shards, ensure_table, generator_digest
    from perfbench.workloads import REFRESH_BASE_SHARE

    corpus = Corpus(wl.n_pages, seed)
    path = ensure_table(spark, corpus, os.path.join(ROOT, ".perfbench_cache"),
                        generator_digest(ROOT))
    paths = {"pages": path}
    if wl.split:
        paths.update(ensure_shards(spark, path, int(wl.n_pages * REFRESH_BASE_SHARE)))
    return paths


def measure(args, work: str, t_start: float) -> dict:
    from perfbench.corpus import Corpus, LinkGraph
    from perfbench.probes import Clock, Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    corpus = Corpus(wl.n_pages, args.seed)

    # set-up: session start + warm-up + pages-table registration;
    # generating the workload's input is the benchmark's work, so it is
    # off the clock
    t = time.perf_counter()
    spark = start_session(work)
    get_spark_s = time.perf_counter() - t
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    warm_up(spark, wl, work, args.seed)
    setup_s = time.perf_counter() - t
    paths = _prepare_inputs(spark, wl, args.seed)
    t = time.perf_counter()
    tables = {k: spark.read.parquet(p) for k, p in paths.items()}
    setup_s += time.perf_counter() - t
    lg = LinkGraph(corpus)  # oracle input, off the clock

    passes, attempted, failed = [], 0, 0
    t_measure = time.perf_counter()
    run_id = f"{wl.name}-seed{args.seed}-{os.getpid()}"
    while True:
        probe = Tracer(spark, run_id) if args.trace else Clock()
        cpu0 = cpu_s(jvm_pid)
        t = time.perf_counter()
        out = wl.run_pass(spark, probe, tables, work)
        wall = time.perf_counter() - t
        cpu = cpu_s(jvm_pid) - cpu0
        checks = wl.verify(out, corpus, lg)
        t_iteration = time.perf_counter() - t
        passes.append({"wall": wall, "cpu": cpu, "calls": probe.calls, "probe": probe,
                       "written_mb": out.get("written_mb", 0.0)})
        _release(out)
        attempted += len(checks)
        for op, err in checks:
            if err is not None:
                failed += 1
                print(f"[perfbench] FAILED {op}: {err}", file=sys.stderr)
        print(f"[perfbench] pass {len(passes)} {'traced' if args.trace else 'untraced'} "
              f"{wall:.3f}s cpu {cpu:.3f}s: " + " ".join(
                  f"{c.name}={c.seconds:.3f}" + (f"/{c.supersteps}" if c.supersteps else "")
                  for c in probe.calls), file=sys.stderr)
        elapsed = time.perf_counter() - t_measure
        if len(passes) >= MEASURED_PASSES and (
                elapsed + t_iteration > args.seconds
                or time.perf_counter() - t_start > MAX_RUN_S):
            break

    rss = peak_rss_mb(jvm_pid)
    measured = passes[:MEASURED_PASSES]

    def mean(per_pass) -> float:
        return statistics.fmean(per_pass(p) for p in measured)

    def call_s(p, pred) -> float:
        return sum(c.seconds for c in p["calls"] if pred(c))

    e2e = {
        "setup_s": setup_s,
        "cpu_s": mean(lambda p: p["cpu"]),
    }
    detail = {
        **e2e,
        "wall_s": mean(lambda p: p["wall"]),
        "compute_s": mean(lambda p: call_s(p, lambda c: c.role == "compute")),
        "graph_ready_s": mean(lambda p: call_s(p, lambda c: c.role == "graph")),
    }
    for k, names in wl.call_metrics.items():
        detail[k] = mean(lambda p: call_s(p, lambda c: c.name in names))
    if wl.name == "crawl_pagerank":  # edges x supersteps / ranks_s
        detail["edges_per_s"] = mean(
            lambda p: sum(c.edges * c.supersteps for c in p["calls"] if c.supersteps)
            / call_s(p, lambda c: c.name == "algorithms.pagerank"))
    detail["failed_ops_ratio"] = failed / attempted
    detail["peak_rss_mb"] = rss
    if args.trace:
        traced = measured[-1]
        traced["probe"].dump(os.path.join(ROOT, ".perfbench_out", f"trace-{run_id}.json"))
        values, units = layer_metrics(traced, get_spark_s, rss), PER_LAYER
    else:
        values, units = e2e, END_TO_END
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        },
    }


def run_one(args) -> int:
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        out = measure(args, work, t_start)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print("detail " + json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0


def run_all(args) -> int:
    """Every workload at one seed, each in its own process; prints the
    issue-level metrics of each workload by name, with units."""
    from perfbench.workloads import WORKLOADS

    metrics, attempted, failed = {}, 0, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stderr)
            return proc.returncode or 1
        detail = json.loads(lines[-2][len("detail "):])
        result = json.loads(lines[-1])
        attempted += result["attempted"]
        failed += result["failed"]
        for k, v in detail.items():
            unit = DETAIL_UNITS.get(k) or END_TO_END[k]
            metrics[f"{name}.{k}"] = {"value": v, "unit": unit}
            print(f"{name:15s} {k:22s} {v:14.4f} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_pagerank", "crawl_toolkits", "crawl_refresh", "all"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "powergraph_spark", "__init__.py")):
        print(f"powergraph_spark not found under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())

"""Timing probes the workloads call the engine through.

``Clock`` (untraced runs) only reads a monotonic clock around each
public call. ``Tracer`` (traced runs) records a span per call (name,
start, end, parent, shared run id), tags the call's Spark jobs with a
job group and reads their jobs/stages/tasks from the status tracker,
takes shuffle-write bytes from deltas of the engine's own counter, and
times checkpoint commits and restores through a ``CheckpointStore``
subclass. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

from powergraph_spark.checkpoint import CheckpointStore
from powergraph_spark.gas import GASResult, total_shuffle_write_bytes
from powergraph_spark.partition import replication_factor


@dataclass
class Call:
    name: str
    role: str  # "graph" (ingest) | "compute"
    seconds: float
    edges: int = 0
    supersteps: int = 0
    superstep_walls: list = field(default_factory=list)
    active: list = field(default_factory=list)
    vertices: int = 0
    counters: dict = field(default_factory=dict)


class Clock:
    traced = False

    def __init__(self):
        self.calls: list[Call] = []

    def call(self, name: str, role: str, fn, *args, **kwargs):
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        self.calls.append(Call(name, role, time.perf_counter() - t))
        if isinstance(out, GASResult):
            rec = self.calls[-1]
            rec.supersteps = out.supersteps
            rec.superstep_walls = [m.wall_sec for m in out.metrics]
            rec.active = [m.active for m in out.metrics]
        return out

    def graph_size(self, g) -> None:
        """Attach the size of the graph the last call ran on."""
        self.calls[-1].edges = g.num_edges()
        self.calls[-1].vertices = g.num_vertices()

    def checkpoint_store(self, spark, root: str) -> CheckpointStore:
        return CheckpointStore(spark, root)

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class _TimedStore(CheckpointStore):
    def __init__(self, spark, root: str, tracer: "Tracer"):
        super().__init__(spark, root)
        self._tracer = tracer

    def commit(self, superstep, state, metrics):
        with self._tracer.span("CheckpointStore.commit") as sp:
            out = super().commit(superstep, state, metrics)
        self._tracer.commit_s.append(sp["end"] - sp["start"])
        return out

    def latest(self):
        with self._tracer.span("CheckpointStore.latest") as sp:
            out = super().latest()
        self._tracer.latest_s.append(sp["end"] - sp["start"])
        return out


class Tracer(Clock):
    traced = True

    def __init__(self, spark, run_id: str):
        super().__init__()
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.commit_s: list[float] = []
        self.latest_s: list[float] = []
        self.partition: dict = {}
        self.overhead_s = 0.0  # time spent tracing, outside engine calls

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {"id": len(self.spans), "name": name, "run": self.run_id,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "start": time.perf_counter(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def _drain(self) -> None:
        """Let the listener bus deliver every finished task's metrics
        before the status store is read."""
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.2)

    def call(self, name: str, role: str, fn, *args, **kwargs):
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        self._drain()
        shuffle0 = total_shuffle_write_bytes(self.spark)
        with self.span(name) as sp:
            group = f"{self.run_id}/{sp['id']}"
            sc.setJobGroup(group, name)
            t1 = time.perf_counter()
            try:
                out = super().call(name, role, fn, *args, **kwargs)
            finally:
                t2 = time.perf_counter()
                sc._jsc.clearJobGroup()
        self._drain()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        sp["jobs"], sp["stages"], sp["tasks"] = len(jobs), len(stages), tasks
        sp["shuffle_write_bytes"] = total_shuffle_write_bytes(self.spark) - shuffle0
        self.calls[-1].counters = {k: sp[k] for k in
                                   ("jobs", "stages", "tasks", "shuffle_write_bytes")}
        self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
        return out

    def checkpoint_store(self, spark, root: str) -> CheckpointStore:
        return _TimedStore(spark, root, self)

    def partition_metrics(self, g) -> None:
        """Vertex-cut quality of an ingested graph; costs extra jobs, so
        only traced runs compute it."""
        with self.span("partition.metrics") as sp:
            rf = replication_factor(g.edges)
            per_pid = [r[0] for r in g.edges.groupBy("pid").count().select("count").collect()]
        self.overhead_s += sp["end"] - sp["start"]
        mean = g.num_edges() / g.num_partitions
        self.partition = {
            "replication_factor": rf,
            "max_over_mean_edges": max(per_pid, default=0) / mean if mean else 0.0,
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)

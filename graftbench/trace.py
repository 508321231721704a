"""Per-layer tracing of the engine from outside it.

Spans are recorded around calls into each layer's public functions by
re-binding those functions, for the length of a traced pass, in every
module namespace of the engine that bound them: operators import
``load_table`` and friends by name at import time, so patching the
defining module alone would miss those calls.  Spans live in memory;
a span's self time is its duration minus its child spans on the same
thread.

Each span also sets the Spark local property :data:`SPAN_PROP` while it
is open, so every job it submits (threads started inside it inherit the
property) can be charged to it from the Spark event log, which also
gives per-task run time, CPU, GC, shuffle, spill and scan bytes.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import re
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "map_reduce_framework_spark"
SPAN_PROP = "graftbench.span"
#: separates the pass tag from the query name in a job group id
GROUP_SEP = "|"

#: layer spans: (span name, defining module, function name)
LAYER_FUNCTIONS = (
    ("sources.load_table", "sources.tables", "load_table"),
    ("graph.connected_components", "operators.graph", "connected_components"),
    ("cache.persist_tracked", "cache", "persist_tracked"),
    ("mapreduce.run_map_reduce", "mapreduce", "run_map_reduce"),
    ("parallel.co_materialize", "parallel", "co_materialize"),
)

#: which end-to-end metric each per-layer metric should move, and where
MOVES = {
    "session.": "setup_s on every workload",
    "sources.load_table.": "pass.wall_s and jobs_per_pass, mostly on star_sql",
    "plans.": "pass.wall_s and jobs_per_pass; build share is largest on corpus_500",
    "operators.": "pass.wall_s on corpus_500",
    "graph.connected_components.": "pass.wall_s and jobs_per_pass on corpus_500",
    "parallel.": "pass.wall_s on corpus_500; 0 on star_sql",
    "cache.": "pass.wall_s on corpus_500",
    "mapreduce.": "pass.wall_s and jobs_per_pass on corpus_500",
    "spark.jobs": "jobs_per_pass and pass.wall_s on every workload",
    "spark.stages": "pass.wall_s on every workload",
    "spark.tasks": "pass.wall_s on every workload",
    "spark.busy_frac": "pass.wall_s on every workload",
    "spark.python_task_s": "pass.wall_s on corpus_500; ~0 on star_sql",
    "spark.": "pass.wall_s, most on corpus_500",
    "q.": "pass.wall_s and jobs_per_pass on the query's workload",
    "pass.": "none: the untraced pass wall time, what the per-layer times add up to",
    "trace.": "none: the cost of tracing itself",
}

# Python-worker stages: SQL Python exec nodes and the RDD-API PythonRDD
_PYTHON_STAGE = re.compile(r"Python|InPandas|InArrow|ArrowEval")


@dataclass(slots=True)
class Span:
    id: int
    parent: int | None
    name: str
    tag: str
    t0: float
    t1: float = 0.0


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._local = threading.local()
        self._ids = itertools.count(1)
        self.spans: list[Span] = []
        self.tag = ""

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1].id if stack else None
        s = Span(next(self._ids), parent, name, self.tag, time.perf_counter())
        stack.append(s)
        self._sc.setLocalProperty(SPAN_PROP, str(s.id))
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            self._sc.setLocalProperty(SPAN_PROP, str(parent) if parent else None)
            self.spans.append(s)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def _wrap_cm(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    @contextmanager
    def traced(*args, **kwargs):
        with tracer.span(name), fn(*args, **kwargs) as value:
            yield value

    return traced


@contextmanager
def patched(tracer: Tracer):
    """Re-bind every layer function to a traced wrapper in every engine
    module that holds it, plus ``parallel._Handle.wait``; undo on exit."""
    from map_reduce_framework_spark import parallel

    undo = []
    defining = [importlib.import_module(f"{PKG}.{m}") for _, m, _ in LAYER_FUNCTIONS]
    modules = [m for n, m in list(sys.modules.items()) if n.startswith(PKG)]
    for (name, _, attr), mod in zip(LAYER_FUNCTIONS, defining):
        orig = getattr(mod, attr)
        wrap = _wrap_cm if name == "parallel.co_materialize" else _wrap
        traced = wrap(tracer, name, orig)
        for m in modules:
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, traced)
                    undo.append((m, k, orig))
    orig_wait = parallel._Handle.wait
    parallel._Handle.wait = _wrap(tracer, "parallel.wait", orig_wait)
    undo.append((parallel._Handle, "wait", orig_wait))
    try:
        yield
    finally:
        for obj, k, v in reversed(undo):
            setattr(obj, k, v)


@dataclass(slots=True)
class Job:
    group: str
    span: int | None
    tasks: list


def _event_lines(log_dir: str):
    """Lines of a rolling event log (``eventlog_v2_<app>/events_<n>_<app>``,
    Spark's default layout) in part order."""
    parts = sorted(
        (f for f in os.listdir(log_dir) if f.startswith("events_")),
        key=lambda f: int(f.split("_")[1]),
    )
    for part in parts:
        with open(os.path.join(log_dir, part), encoding="utf-8") as f:
            yield from f


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs in submission order with the metrics of the tasks they ran."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    python_stages: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROP)
            jobs[ev["Job ID"]] = Job(
                props.get("spark.jobGroup.id") or "",
                int(span) if span else None,
                [],
            )
            for s in ev.get("Stage IDs", []):
                stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            for rdd in info.get("RDD Info", []):
                text = f"{rdd.get('Name', '')} {rdd.get('Scope', '')}"
                if _PYTHON_STAGE.search(text):
                    python_stages.add(info["Stage ID"])
                    break
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    for stage, m in tasks:
        job = jobs.get(stage_job.get(stage, -1))
        if job is not None:
            job.tasks.append((stage, stage in python_stages, m))
    return [jobs[k] for k in sorted(jobs)]


def _task_totals(jobs: list[Job]) -> dict[str, float]:
    t = dict.fromkeys((m for m in LAYER_METRICS if m.startswith("spark.")), 0.0)
    stages = set()
    for job in jobs:
        for stage, python, m in job.tasks:
            stages.add(stage)
            run_s = m.get("Executor Run Time", 0) / 1e3
            t["spark.tasks"] += 1
            t["spark.exec_run_s"] += run_s
            t["spark.exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["spark.python_task_s"] += run_s if python else 0.0
            sr = m.get("Shuffle Read Metrics", {})
            t["spark.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            sw = m.get("Shuffle Write Metrics", {})
            t["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            t["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            t["spark.scan_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
    t["spark.jobs"] = len(jobs)
    t["spark.stages"] = len(stages)
    return t


def _self_time(spans: list[Span]) -> dict[int, float]:
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.t1 - s.t0
    return {s.id: s.t1 - s.t0 - child[s.id] for s in spans}


def pass_layers(
    tag: str,
    spans: list[Span],
    jobs: list[Job],
    query_s: dict[str, float],
    wall_s: float,
    cores: int,
    storage_mb: float,
) -> dict[str, float]:
    """The per-layer metrics of one traced pass."""
    spans = [s for s in spans if s.tag == tag]
    by_id = {s.id: s for s in spans}
    jobs = [j for j in jobs if j.group.split(GROUP_SEP)[0] == tag]
    self_s = _self_time(spans)

    def chain(span_id):
        names = set()
        while span_id in by_id:
            names.add(by_id[span_id].name)
            span_id = by_id[span_id].parent
        return names

    job_chains = [chain(j.span) for j in jobs]
    out: dict[str, float] = {}

    def layer(name: str, *fields: str) -> None:
        mine = [s for s in spans if s.name == name]
        if "calls" in fields:
            out[f"{name}.calls"] = len(mine)
        if "s" in fields:
            out[f"{name}.s"] = sum(self_s[s.id] for s in mine)
        if "jobs" in fields:
            out[f"{name}.jobs"] = sum(name in c for c in job_chains)

    layer("sources.load_table", "calls", "s", "jobs")
    builds = [s for s in spans if s.name == "plans.build"]
    out["plans.build_s"] = sum(s.t1 - s.t0 for s in builds)
    out["plans.action_s"] = sum(s.t1 - s.t0 for s in spans if s.name == "plans.action")
    out["plans.build_jobs"] = sum("plans.build" in c for c in job_chains)
    out["operators.self_s"] = sum(self_s[s.id] for s in builds)
    layer("graph.connected_components", "calls", "s", "jobs")
    co = [s for s in spans if s.name == "parallel.co_materialize"]
    waits = [s for s in spans if s.name == "parallel.wait"]
    out["parallel.co_materialize.calls"] = len(co)
    out["parallel.wait_s"] = sum(s.t1 - s.t0 for s in waits)
    out["parallel.body_s"] = sum(s.t1 - s.t0 for s in co) - sum(
        s.t1 - s.t0 for s in waits if s.parent in {c.id for c in co}
    )
    layer("cache.persist_tracked", "calls")
    out["cache.storage_mb"] = storage_mb
    layer("mapreduce.run_map_reduce", "s", "jobs")
    out.update(_task_totals(jobs))
    out["spark.busy_frac"] = out["spark.exec_run_s"] / (wall_s * cores)
    for q, s in query_s.items():
        out[f"q.{q}.s"] = s
        out[f"q.{q}.jobs"] = sum(j.group == f"{tag}{GROUP_SEP}{q}" for j in jobs)
    return out


SESSION_METRICS = ("session.cold_setup_s", "session.get_spark_s", "session.warm_s")
LAYER_METRICS = (
    "sources.load_table.calls",
    "sources.load_table.s",
    "sources.load_table.jobs",
    "plans.build_s",
    "plans.action_s",
    "plans.build_jobs",
    "operators.self_s",
    "graph.connected_components.calls",
    "graph.connected_components.s",
    "graph.connected_components.jobs",
    "parallel.co_materialize.calls",
    "parallel.body_s",
    "parallel.wait_s",
    "cache.persist_tracked.calls",
    "cache.storage_mb",
    "mapreduce.run_map_reduce.s",
    "mapreduce.run_map_reduce.jobs",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.busy_frac",
    "spark.exec_run_s",
    "spark.exec_cpu_s",
    "spark.gc_s",
    "spark.python_task_s",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.scan_mb",
)


def metric_names(queries: list[str]) -> list[str]:
    """Every per-layer metric name, in report order."""
    names = [*SESSION_METRICS, *LAYER_METRICS]
    for q in queries:
        names += [f"q.{q}.s", f"q.{q}.jobs"]
    return [*names, "pass.wall_s", "trace.overhead_s"]


def unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


def median_layers(per_pass: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in per_pass[0]}

"""Benchmark of the engine: seeded inputs, checked results, timed passes.

Run from the repository root::

    python3 graftbench/run.py --workload star_sql --seed 1 --seconds 5 --trace 0

One invocation generates the workload's inputs from ``--seed``, sets up
a ``local[<=2]`` session (several times, reporting the median), runs one
untimed pass that collects every result and checks it against its
reference, then repeats timed passes for ``--seconds`` (at least one).
Two task slots leave the other cores of a 4-core host to the JIT, GC and
main Python process, whose contention otherwise shows as noise.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and the ``end_to_end`` metrics of ``BENCHMARK.json``, or with
``--trace 1`` its ``per_layer`` metrics, taken from traced passes that
alternate with untraced ones.

Everything the run writes stays under ``.bench_build/graftbench`` in
the repository; only the oracle digest cache outlives the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
CORES = max(1, min(2, len(os.sched_getaffinity(0))))
#: session set-ups in one run; setup_s is their median
N_SETUPS = 3
MIN_PASSES = 1
MIN_TRACED_PASSES = 1


def _identity(batches):
    return batches


def _parse(argv):
    from graftbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location of Spark and Python at ``run_dir``
    and make the engine importable by the Python workers."""
    dirs = {d: os.path.join(run_dir, d) for d in ("tmp", "local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
            ),
        }
    )
    tempfile.tempdir = dirs["tmp"]
    # for every JVM, the launcher's too; HotSpot's perf-data file ignores
    # java.io.tmpdir, so it is turned off
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        for kv in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "spark.eventLog.compress=false",
        ):
            submit += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*submit, "pyspark-shell"])


class Bench:
    """One workload on one seed: session set-up, passes, and the tally
    of attempted and failed query runs."""

    def __init__(self, workload, seed: int, data_dir: str):
        import pyarrow.parquet as pq

        from graftbench.workloads import OBJECT_PATH

        self.wl = workload
        self.seed = seed
        self.data_dir = data_dir
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.pairs = None
        if OBJECT_PATH in workload.queries:
            docs = pq.read_table(
                os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"]
            ).to_pydict()
            self.pairs = [(f"doc{i}", t) for i, t in zip(docs["doc_id"], docs["text"])]

    def set_up(self) -> tuple[float, float]:
        """Start (or restart) the session and warm it: the Python worker
        pool and a first scan of the inputs.  Returns (get_spark seconds,
        warm-up seconds)."""
        from map_reduce_framework_spark.session import get_spark
        from map_reduce_framework_spark.sources import load_table

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("graftbench")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(CORES * 4).repartition(CORES).mapInPandas(
            _identity, "id long"
        ).write.format("noop").mode("overwrite").save()
        load_table(spark, self.data_dir, self.wl.scan_table).write.format(
            "noop"
        ).mode("overwrite").save()
        self.spark = spark
        return t1 - t0, time.perf_counter() - t1

    def _build(self, name: str):
        from graftbench.workloads import OBJECT_PATH
        from map_reduce_framework_spark.operators import wordcount_client
        from map_reduce_framework_spark.plans import registry

        if name == OBJECT_PATH:
            return wordcount_client.wordcount_mr(self.spark, self.pairs)
        return registry.QUERIES[name](self.spark, self.data_dir)

    def run_query(self, tag: str, name: str, collect: bool, tracer=None):
        """Build and run one query under job group ``tag|name``.  Returns
        (collected result or None, seconds, storage MB held after the
        action when traced)."""
        from graftbench.trace import GROUP_SEP
        from map_reduce_framework_spark import cache

        span = tracer.span if tracer else (lambda _name: nullcontext())
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{tag}{GROUP_SEP}{name}", name)
        storage_mb = 0.0
        t0 = time.perf_counter()
        try:
            with span(f"q.{name}"):
                with span("plans.build"):
                    result = self._build(name)
                with span("plans.action"):
                    if isinstance(result, list):
                        out = result
                    elif collect:
                        out = result.toPandas()
                    else:
                        result.write.format("noop").mode("overwrite").save()
                        out = None
                if tracer:
                    storage_mb = sum(
                        i.memSize() + i.diskSize()
                        for i in sc._jsc.sc().getRDDStorageInfo()
                    ) / 1e6
                del result  # drops the caches the registry tied to it
        finally:
            cache.release()
            self.spark.catalog.clearCache()
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, time.perf_counter() - t0, storage_mb

    def one_pass(self, tag: str, tracer=None) -> tuple[float, dict, float]:
        """One timed pass; returns (wall seconds, per-query seconds, peak
        storage MB)."""
        per_query, storage = {}, 0.0
        t0 = time.perf_counter()
        for name in self.wl.queries:
            self.attempted += 1
            try:
                _, per_query[name], mb = self.run_query(tag, name, False, tracer)
                storage = max(storage, mb)
            except Exception:
                self.failed += 1
                traceback.print_exc()
        return time.perf_counter() - t0, per_query, storage

    def pass_jobs(self, tag: str) -> int:
        """Spark jobs the pass ``tag`` ran, from the status tracker; jobs of
        threads a query starts inherit its job group and count too."""
        from graftbench.trace import GROUP_SEP

        tracker = self.spark.sparkContext.statusTracker()
        return sum(
            len(tracker.getJobIdsForGroup(f"{tag}{GROUP_SEP}{name}"))
            for name in self.wl.queries
        )

    def check_pass(self, digests) -> None:
        """The untimed pass: collect every result and check it."""
        from graftbench import check
        from graftbench.workloads import OBJECT_PATH
        from map_reduce_framework_spark.mapreduce import run_map_reduce_local
        from map_reduce_framework_spark.operators import wordcount_client
        from map_reduce_framework_spark.plans import registry

        tables = [q for q in self.wl.queries if q != OBJECT_PATH]
        oracles = check.Oracles(self.data_dir, {q: registry.ORACLES[q] for q in tables})
        try:
            keys = {q: digests.key(self.wl.name, self.seed, q) for q in tables}
            for q in tables:
                if digests.get(keys[q]) is None:
                    oracles.prefetch(q)
            for name in self.wl.queries:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    got, _, _ = self.run_query("check", name, collect=True)
                    if name == OBJECT_PATH:
                        expected = run_map_reduce_local(
                            self.pairs, wordcount_client._tokenize, wordcount_client._count
                        )
                        err = check.check_pairs(name, got, expected)
                    else:
                        err, fresh = check.check_frame(
                            name,
                            got,
                            digests.get(keys[name]),
                            lambda name=name: oracles.result(name),
                        )
                        if fresh:
                            digests.put(keys[name], fresh)
                except Exception:
                    err = traceback.format_exc()
                if err:
                    self.failed += 1
                    print(f"graftbench: check failed: {err}", file=sys.stderr)
                print(
                    f"graftbench: checked {name} in {time.perf_counter() - t0:.2f} s",
                    file=sys.stderr,
                )
        finally:
            oracles.close()

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None and gateway.proc is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None


def _measure(bench: Bench, seconds: float) -> tuple[float, float]:
    """Timed passes; returns (``wall_s``, ``jobs_per_pass``).  ``wall_s``
    is the sum over queries of each query's best time, as ``bench.py``
    keeps the best of its runs: the first timed passes still run partly
    cold code, and load from outside the run only ever adds time.
    ``jobs_per_pass`` is the median count of Spark jobs in one pass."""
    walls, per_query, jobs = [], [], []
    t0 = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        tag = f"pass{len(walls)}"
        wall, times, _ = bench.one_pass(tag)
        walls.append(wall)
        per_query.append(times)
        jobs.append(bench.pass_jobs(tag))
    print(
        f"graftbench: pass walls {[round(w, 3) for w in walls]}, jobs {jobs}",
        file=sys.stderr,
    )
    best = {
        q: min(p[q] for p in per_query if q in p)
        for q in bench.wl.queries
        if any(q in p for p in per_query)
    }
    print(
        f"graftbench: query best times { {q: round(v, 3) for q, v in best.items()} }",
        file=sys.stderr,
    )
    return sum(best.values()), statistics.median(jobs)


def _measure_traced(bench: Bench, seconds: float, run_dir: str) -> dict:
    from graftbench import trace
    from graftbench.workloads import all_queries

    tracer = trace.Tracer(bench.spark.sparkContext)
    plain, traced = [], []
    t0 = time.perf_counter()
    while len(traced) < MIN_TRACED_PASSES or time.perf_counter() - t0 < seconds:
        plain.append(bench.one_pass(f"plain{len(plain)}")[0])
        tracer.tag = f"traced{len(traced)}"
        with trace.patched(tracer):
            traced.append((tracer.tag, *bench.one_pass(tracer.tag, tracer)))
    app_id = bench.spark.sparkContext.applicationId
    bench.spark.stop()  # closes the event log
    bench.spark = None
    log_dir = os.path.join(run_dir, "eventlog")
    log = next(f for f in os.listdir(log_dir) if app_id in f)
    jobs = trace.read_event_log(os.path.join(log_dir, log))
    layers = trace.median_layers(
        [
            trace.pass_layers(tag, tracer.spans, jobs, per_query, wall, CORES, mb)
            for tag, wall, per_query, mb in traced
        ]
    )
    layers["pass.wall_s"] = statistics.median(plain)
    layers["trace.overhead_s"] = statistics.median(w for _, w, _, _ in traced) - (
        layers["pass.wall_s"]
    )
    return {name: layers.get(name, 0.0) for name in trace.metric_names(all_queries())}


def _run(args, run_dir: str) -> int:
    from graftbench import gen, trace
    from graftbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    _configure_env(run_dir, bool(args.trace))
    try:
        import map_reduce_framework_spark.plans.registry  # noqa: F401
        from graftbench import check
    except ImportError as e:
        print(f"graftbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    data_dir = os.path.join(run_dir, "inputs")
    gen.write_tables(data_dir, wl.tables(args.seed))
    bench = Bench(wl, args.seed, data_dir)
    try:
        cold = bench.set_up()
        setups = [bench.set_up() for _ in range(N_SETUPS)]
        t0 = time.perf_counter()
        bench.check_pass(check.DigestCache(os.path.join(WORK, "oracle_digests.json")))
        print(
            f"graftbench: cold set-up {sum(cold):.2f} s, set-ups "
            f"{[round(sum(s), 2) for s in setups]} s, check pass "
            f"{time.perf_counter() - t0:.2f} s",
            file=sys.stderr,
        )
        if args.trace:
            metrics = _measure_traced(bench, args.seconds, run_dir)
            metrics.update(
                {
                    "session.cold_setup_s": sum(cold),
                    "session.get_spark_s": statistics.median(s[0] for s in setups),
                    "session.warm_s": statistics.median(s[1] for s in setups),
                }
            )
            units = {name: trace.unit(name) for name in metrics}
            summary = ""
        else:
            wall, jobs = _measure(bench, args.seconds)
            metrics = {
                "jobs_per_pass": jobs,
                "setup_s": statistics.median(sum(s) for s in setups),
            }
            units = {"jobs_per_pass": "count", "setup_s": "s"}
            summary = f"wall_s={wall:.4g} s "
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
        print(f"graftbench: shutdown {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    failed_frac = bench.failed / bench.attempted
    summary += " ".join(
        f"{k}={v:.4g} {units[k]}" for k, v in metrics.items() if not k.startswith("q.")
    )
    print(f"{wl.name} seed={args.seed}: {summary} failed_frac={failed_frac:.4g}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = _parse(argv)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer tracing, imported only by a ``--trace 1`` run.

Each operation runs under its own Spark job group. After it returns, the
tracer reads the group's jobs and stages from the status store, the plan
phases of the DataFrame the operation executed, and the CPU of the Python
worker processes, and adds them to the operation's layer. A layer's value
for a metric is the median over the timed passes of its per-pass sum.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from perfbench.measure import MB, SparkCounters, _children, tree_cpu_s

#: Per-layer metrics, in report order.
LAYER_METRICS = [
    "wall_s", "jobs", "stages", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "exec_run_s", "busy_share", "plan_ms", "python_cpu_s", "first_call_s",
]


def python_worker_cpu_s(counters: SparkCounters) -> float:
    """CPU of the JVM's child processes (``pyspark.daemon`` and the Python
    workers it forks), the JVM's own time excluded."""
    kids = _children()
    return sum(tree_cpu_s(p, kids) for p in kids.get(counters.jvm_pid, []))


def jvm_gc_s(spark) -> float:
    mxf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mxf.getGarbageCollectorMXBeans()) / 1000.0


def plan_ms(dfs) -> float:
    """Analysis + optimization + planning time the query executions of the
    DataFrame (or list of DataFrames) an operation ran recorded
    (``QueryPlanningTracker`` phases)."""
    total = 0
    for df in [] if dfs is None else dfs if isinstance(dfs, list) else [dfs]:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            total += it.next()._2().durationMs()
    return float(total)


class Tracer:
    def __init__(self, spark, counters: SparkCounters, cores: int):
        self.spark = spark
        self.counters = counters
        self.cores = cores
        self.per_pass: dict[str, list[float]] = defaultdict(list)
        self.run: dict[str, float] = {}
        self.first_call: dict[str, float] = defaultdict(float)
        self.pass_no = 0
        self.output_bytes = 0

    def start_pass(self, i: int) -> None:
        self.pass_no = i
        self.acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.output_bytes = 0
        self.gc0 = jvm_gc_s(self.spark)

    def call(self, layer: str, op: str, fn):
        group = f"perfbench-trace-{self.pass_no}-{op}"
        self.counters.set_group(group)
        py0 = python_worker_cpu_s(self.counters)
        t0 = time.perf_counter()
        try:
            out, df = fn()
        finally:
            wall = time.perf_counter() - t0
            self.counters.clear_group()
        py1 = python_worker_cpu_s(self.counters)
        self.counters.drain()
        stages = self.counters.stages(group)
        a = self.acc[layer]
        a["wall_s"] += wall
        a["jobs"] += len(self.counters.jobs(group))
        a["stages"] += len(stages)
        a["shuffle_write_mb"] += sum(s.shuffleWriteBytes() for s in stages) / MB
        a["shuffle_read_mb"] += sum(s.shuffleReadBytes() for s in stages) / MB
        a["spill_mb"] += sum(s.diskBytesSpilled() for s in stages) / MB
        a["exec_run_s"] += sum(s.executorRunTime() for s in stages) / 1000.0
        a["plan_ms"] += plan_ms(df)
        a["python_cpu_s"] += py1 - py0
        self.output_bytes += sum(s.outputBytes() for s in stages)
        return out

    def end_pass(self, extra: dict[str, float]) -> None:
        """Fold the pass into the per-pass series (pass 0 is the warm-up,
        which only feeds ``first_call_s``)."""
        if self.pass_no == 0:
            for layer, a in self.acc.items():
                self.first_call[layer] = a["wall_s"]
            return
        for layer, a in self.acc.items():
            a["busy_share"] = a["exec_run_s"] / (self.cores * a["wall_s"])
            for m, v in a.items():
                self.per_pass[f"{layer}.{m}"].append(v)
        self.per_pass["jvm.gc_s"].append(jvm_gc_s(self.spark) - self.gc0)
        for k, v in extra.items():
            self.per_pass[k].append(v)

    def metrics(self) -> dict[str, float]:
        out = {k: statistics.median(v) for k, v in self.per_pass.items()}
        out.update({f"{layer}.first_call_s": v for layer, v in self.first_call.items()})
        out.update(self.run)
        return out


UNITS = {
    "wall_s": ("s", "lower"), "jobs": ("count", "lower"), "stages": ("count", "lower"),
    "shuffle_write_mb": ("MB", "lower"), "shuffle_read_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"), "exec_run_s": ("s", "lower"),
    "busy_share": ("share", "higher"), "plan_ms": ("ms", "lower"),
    "python_cpu_s": ("s", "lower"), "first_call_s": ("s", "lower"),
}
RUN_METRICS = {
    "session.start_s": ("s", "lower"), "inputs.gen_s": ("s", "lower"),
    "setup.build_s": ("s", "lower"), "jvm.gc_s": ("s", "lower"),
    "snapshots.files_written": ("count", "lower"),
    "snapshots.files_carried": ("count", "higher"),
    "pipeline.persisted_mb": ("MB", "lower"),
}
#: Layer metrics left out because they read zero on every traced run:
#: no layer spilled at these input sizes; only snapshots (footer harvest),
#: bpe and annindex (Arrow rerank) run Python workers; pagination,
#: snapshots and bpe return no DataFrame whose plan could be read; the
#: exact top-k of vectors is one shuffle-free job.
DROPPED = {f"{layer}.spill_mb" for layer in (
    "listing", "pagination", "reconcile", "aggregates", "snapshots",
    "pipeline", "langid", "bpe", "annindex", "vectors",
)} | {f"{layer}.python_cpu_s" for layer in (
    "listing", "pagination", "reconcile", "aggregates", "pipeline", "langid", "vectors",
)} | {"pagination.plan_ms", "snapshots.plan_ms", "bpe.plan_ms"} | {
    "vectors.shuffle_write_mb", "vectors.shuffle_read_mb",
}


def per_layer_metrics(layers) -> dict[str, tuple[str, str]]:
    """Every reported per-layer metric name -> (unit, better)."""
    out = {
        f"{layer}.{m}": UNITS[m]
        for layer in layers
        for m in LAYER_METRICS
        if f"{layer}.{m}" not in DROPPED
    }
    out.update(RUN_METRICS)
    return out


def report(tracer: Tracer, layers, run: dict[str, float]) -> dict:
    """The traced run's result metrics: every per-layer metric, 0 for the
    layers this workload does not call."""
    tracer.run.update(run)
    got = tracer.metrics()
    return {
        name: {"value": float(got.get(name, 0.0)), "unit": unit}
        for name, (unit, _better) in per_layer_metrics(layers).items()
    }

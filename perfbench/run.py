#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog_reads --seed 1 --seconds 10 --trace 0

A run starts its own Spark session (``session.get_spark(cpus=nproc)``),
generates the workload's inputs from ``--seed``, does the one-time builds,
runs one untimed warm-up pass and then whole timed passes until
``--seconds`` have passed (at least ``MIN_PASSES``). It checks every pass's
outputs, stops Spark and waits for the JVM to exit, and prints as its last
stdout line ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead and also writes them, with the traced pass times,
to ``.perfbench_work/traces/<workload>-seed<seed>.json``.

The session is the one ``get_spark`` ships: its host-sized driver heap and
its Spark local dir are left as they are. The benchmark's own files
(inputs, indexes, Python and JVM temporary files, traces) stay under
``.perfbench_work/`` in the repository root, and the inputs are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PASSES = 2


def _parse(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _isolate(work: str) -> None:
    """Point the temporary files of Python and the JVM into ``work``
    before pyspark is imported. Spark's local dir (shuffle, spill,
    persisted blocks) stays where ``get_spark`` puts it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def _stop(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — any failure to exit ends in a kill
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = _parse(argv)
    from perfbench.measure import (
        MB, SparkCounters, seconds_since_process_start, tree_cpu_s, vm_hwm_mb,
    )
    from perfbench.workloads import LAYERS, WORKLOADS, Workload

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    t = time.perf_counter()
    from storage_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cpus=cores)
    session_s = time.perf_counter() - t
    counters = SparkCounters(spark)
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark, counters, cores)

    wl = Workload(WORKLOADS[args.workload], spark, work, args.seed)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t

    outputs: list[dict] = []
    raised: dict[tuple[int, str], list[str]] = {}

    def run_pass(i: int) -> tuple[float, float, int]:
        wl.before_pass(i)
        group = f"perfbench-pass-{i}"
        if tracer:
            tracer.start_pass(i)
        else:
            counters.set_group(group)
        out = {}
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        for op, layer in wl.ops:
            try:
                if tracer:
                    out[op] = tracer.call(layer, op, lambda: wl.run_op(op, i))
                else:
                    out[op] = wl.run_op(op, i)[0]
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                raised[(i, op)] = [f"raised {type(e).__name__}: {e}"]
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        if tracer:
            written, output_bytes = 0, tracer.output_bytes
        else:
            counters.clear_group()
            counters.drain()
            stages = counters.stages(group)
            output_bytes = sum(s.outputBytes() for s in stages)
            written = (sum(s.shuffleWriteBytes() for s in stages) + output_bytes
                       + wl.persisted_bytes())
        wl.after_pass(i, output_bytes)
        if tracer:
            tracer.end_pass(wl.pass_counters(i) if i else {})
        outputs.append(out)
        return wall, cpu, written

    t = time.perf_counter()
    run_pass(0)  # warm-up
    warm_s = time.perf_counter() - t
    setup_s = seconds_since_process_start()
    _log(f"setup {setup_s:.1f} s: session {session_s:.1f}, inputs {gen_s:.1f}, "
         f"build {build_s:.1f}, warm-up pass {warm_s:.1f}")
    passes = []
    t_meas = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_meas < args.seconds:
        passes.append(run_pass(len(passes) + 1))
        _log(f"pass {len(passes)}: {passes[-1][0]:.2f} s wall, {passes[-1][1]:.2f} s cpu")

    t = time.perf_counter()
    wrong = wl.check(outputs)
    _log(f"checks {time.perf_counter() - t:.1f} s")
    for (i, op), errs in sorted(wrong.items()):
        print(f"check failed: pass {i} {op}: {'; '.join(errs)}", file=sys.stderr)
    failed = len(set(wrong) | set(raised))
    attempted = len(outputs) * len(wl.ops)
    # peak memory repeats too poorly across seeds to bound; it is logged
    _log(f"peak rss {vm_hwm_mb(counters.jvm_pid) + vm_hwm_mb(os.getpid()):.0f} MB")
    _stop(spark)
    shutil.rmtree(work, ignore_errors=True)

    pass_s = statistics.median(p[0] for p in passes)
    if tracer:
        from perfbench.trace import report

        metrics = report(tracer, LAYERS, {
            "session.start_s": session_s,
            "inputs.gen_s": gen_s,
            "setup.build_s": build_s,
        })
        trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "cores": cores,
                "traced_pass_s": pass_s, "pass_walls_s": [p[0] for p in passes],
                "metrics": {k: v["value"] for k, v in metrics.items()},
            }, f, indent=1, sort_keys=True)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(p[1] for p in passes), "unit": "s"},
            "written_mb": {"value": statistics.median(p[2] for p in passes) / MB, "unit": "MB"},
        }
    print(json.dumps({
        "correct": not wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

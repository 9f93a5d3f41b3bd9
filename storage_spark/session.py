"""SparkSession factory tuned for the local[32] harness.

On a real cluster the same settings apply except master/memory; AQE does the
runtime re-planning (partition coalescing, skew-join splitting) that keeps
the plans healthy at 100 TB.

The driver heap follows the host (:func:`driver_memory`):
``min(16g, 0.75 * host memory - 1 GiB)``. 75% is Spark's hardware-provisioning
guidance ("allocate only at most 75% of the memory for Spark; leave the rest
for the operating system and buffer cache",
https://spark.apache.org/docs/latest/hardware-provisioning.html); the 1 GiB is
the JVM code cache that ``get_spark`` reserves outside the heap. Spark's
unified memory manager sizes its execution and storage budget from the heap,
so with a heap the host cannot back it neither spills nor evicts: G1 grows
toward the ceiling until the kernel OOM-kills the JVM, and every later query
in the process (every later test of a suite) fails with
``ConnectionRefusedError``. ``SPARK_DRIVER_MEMORY`` overrides the rule, e.g.
``16g`` for sf1 runs.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

_MIB = 1 << 20
# 16g is the heap the sf1 probes ran with; larger hosts keep it as default.
_HEAP_CEILING_MIB = 16 * 1024
# JIT code cache reserved by get_spark, held outside the heap.
_CODE_CACHE_MIB = 1024
# Spark refuses a heap under 1.5x its 300 MiB reserved system memory.
_SPARK_MIN_HEAP_MIB = 450


def host_memory_bytes() -> int:
    """Physical memory, capped by a cgroup v2 ``memory.max`` limit if one is set."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        return phys
    return min(phys, int(limit)) if limit.isdigit() else phys


def driver_memory(host_bytes: int, env: Mapping[str, str]) -> str:
    """``spark.driver.memory`` for a host with ``host_bytes`` of memory.

    ``SPARK_DRIVER_MEMORY`` in ``env`` wins verbatim; otherwise
    ``min(16g, 0.75 * host - 1 GiB)`` in whole MiB (see the module docstring).
    """
    override = env.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    mib = min(_HEAP_CEILING_MIB, int(0.75 * host_bytes) // _MIB - _CODE_CACHE_MIB)
    if mib < _SPARK_MIN_HEAP_MIB:
        raise ValueError(
            f"host memory {host_bytes // _MIB} MiB leaves a {mib} MiB driver heap, "
            f"below Spark's {_SPARK_MIN_HEAP_MIB} MiB minimum; set SPARK_DRIVER_MEMORY"
        )
    return f"{mib}m"


def get_spark(app_name: str = "storage_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions sized to cores for local mode; a cluster run would
        # set this to ~2-3x total cores and let AQE coalesce.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory(host_memory_bytes(), os.environ))
        # Whole-stage codegen emits one compiled class per stage; a long
        # session (bench suite, test run) overflows the default 256m JVM
        # code cache, after which the JIT stops compiling and hot loops run
        # interpreted (measured 10-100x slowdowns late in a suite). 1g keeps
        # every stage compiled.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ReservedCodeCacheSize={_CODE_CACHE_MIB}m -XX:+UseG1GC",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Shuffle/spill files on tmpfs when available: this harness runs on a VM
    # whose block device serves writes with pathological kernel-time stalls
    # (observed 80% sys-time and 10-100x query-time swings during shuffle
    # writes). RAM-backed local dirs remove the block device from the path;
    # on a real cluster local dirs are instance SSDs and this is moot.
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

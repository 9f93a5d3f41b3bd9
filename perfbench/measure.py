"""Process and Spark counters the end-to-end metrics are read from.

CPU and memory come from ``/proc``; bytes written come from Spark's status
store through py4j. All of it is read from outside the program.
"""

from __future__ import annotations

import os
import time

from py4j.protocol import Py4JJavaError

_HZ = os.sysconf("SC_CLK_TCK")
MB = 1e6


def seconds_since_process_start() -> float:
    """Wall time since this process was created (``/proc/self/stat``
    start time against the boot-time clock), so interpreter start-up and
    imports count too."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _HZ


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended between listing and reading
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(entry))
    return kids


def tree_cpu_s(root: int, kids: dict[int, list[int]] | None = None) -> float:
    """User + system CPU seconds of ``root`` and every live descendant,
    including the children they have already reaped (cutime, cstime)."""
    kids = _children() if kids is None else kids
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        f = _stat_fields(pid)
        if f is None:
            continue
        total += sum(int(x) for x in f[11:15])
        stack.extend(kids.get(pid, []))
    return total / _HZ


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


def rdd_disk_bytes(spark) -> dict[int, int]:
    """RDD id -> bytes its persisted blocks hold on disk, asked of the
    block manager master directly (``SparkContext.getRDDStorageInfo``),
    so no listener lag applies."""
    return {r.id(): r.diskSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


class SparkCounters:
    """Reads per-job-group stage metrics from the live status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.jvm_pid = self.sc._gateway.proc.pid

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the status listener has seen every finished event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> list:
        """Last attempt of every stage the group's jobs ran (stages a job
        skipped because their shuffle output already existed did no work
        and are left out)."""
        store = self._jsc.statusStore()
        out = []
        for job in self.jobs(group):
            info = self.sc.statusTracker().getJobInfo(job)
            for sid in info.stageIds if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted or never submitted
                    continue
                if st.status().toString() != "SKIPPED":
                    out.append(st)
        return out

"""Driver heap sizing rule in ``storage_spark.session``; starts no JVM."""

from __future__ import annotations

import pytest

from storage_spark.session import driver_memory

GIB = 1 << 30


def _mib(setting: str) -> int:
    assert setting.endswith("m")
    return int(setting[:-1])


def test_small_host_heap_is_75_percent_less_code_cache():
    heap = driver_memory(16 * GIB, {})
    assert _mib(heap) == int(0.75 * 16 * 1024) - 1024
    # heap plus the 1 GiB code cache stays below physical memory
    assert (_mib(heap) + 1024) * (1 << 20) < 16 * GIB


def test_large_host_keeps_16g_ceiling():
    assert driver_memory(64 * GIB, {}) == f"{16 * 1024}m"
    # 0.75 * host - 1 GiB reaches 16 GiB at 22.67 GiB of host memory
    assert driver_memory(int(22.7 * GIB), {}) == f"{16 * 1024}m"
    assert _mib(driver_memory(int(22.6 * GIB), {})) < 16 * 1024


def test_env_override_wins_verbatim():
    env = {"SPARK_DRIVER_MEMORY": "16g"}
    assert driver_memory(8 * GIB, env) == "16g"
    assert driver_memory(64 * GIB, {"SPARK_DRIVER_MEMORY": "48g"}) == "48g"


def test_host_too_small_for_spark_is_refused():
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEMORY"):
        driver_memory(GIB, {})

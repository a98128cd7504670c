"""Driver-heap sizing rule of get_spark, checked as pure functions (no JVM)."""

from __future__ import annotations

import math

from adb_south_caucasus_etl_spark import session
from adb_south_caucasus_etl_spark.session import default_driver_memory, driver_memory

GIB = 2**30


def test_large_host_keeps_the_16g_ceiling():
    assert default_driver_memory(64 * GIB) == "16g"
    # the cap only bites below 16g * 1.4 = 22.4 GiB usable
    assert default_driver_memory(math.ceil(22.4 * GIB)) == "16g"


def test_small_host_caps_heap_to_usable_over_overhead():
    # 16,479,424 kB of RAM: 16874930176 / 1.4 bytes = 11495.1 MiB
    assert default_driver_memory(16479424 * 1024) == "11495m"


def test_cgroup_limit_below_physical_ram_wins():
    assert default_driver_memory(64 * GIB, str(8 * GIB)) == f"{int(8 * GIB / 1.4) // 2**20}m"
    assert default_driver_memory(64 * GIB, str(7 * GIB)) == "5120m"


def test_unlimited_cgroup_values_are_ignored():
    phys = 16479424 * 1024
    for unlimited in ("max", str(2**63), "9223372036854771712"):
        assert default_driver_memory(phys, unlimited) == "11495m"
        assert default_driver_memory(64 * GIB, unlimited) == "16g"


def test_explicit_env_overrides_everything(monkeypatch):
    monkeypatch.setattr(session, "_host_memory", lambda: (64 * GIB, str(4 * GIB)))
    for explicit in ("24g", "3g"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", explicit)
        assert driver_memory() == explicit
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert driver_memory() == f"{int(4 * GIB / 1.4) // 2**20}m"

"""Session defaults derived from the machine (session.py): the driver heap
from physical RAM and the local-mode shuffle dir from free tmpfs space."""

from __future__ import annotations

import os
import tempfile

from geomesa_nifi_spark.session import (
    SHM_MIN_FREE_BYTES,
    _driver_memory_for,
    _local_dir_for,
)

GIB_KB = 1024 * 1024


def meminfo(total_kb: int) -> str:
    return (
        f"MemTotal:       {total_kb} kB\n"
        f"MemFree:        {total_kb // 2} kB\n"
        f"MemAvailable:   {total_kb // 2} kB\n"
    )


def test_driver_memory_is_half_of_ram_in_whole_gib():
    assert _driver_memory_for(meminfo(16265168)) == "7g"  # a "15 GB" box
    assert _driver_memory_for(meminfo(128 * GIB_KB)) == "64g"
    assert _driver_memory_for(meminfo(5 * GIB_KB)) == "2g"  # rounds down


def test_driver_memory_floor_is_1g():
    assert _driver_memory_for(meminfo(GIB_KB)) == "1g"
    assert _driver_memory_for(meminfo(3 * GIB_KB // 2)) == "1g"
    assert _driver_memory_for("") == "1g"  # no /proc/meminfo


def statvfs(free_bytes: int, frsize: int = 4096) -> os.statvfs_result:
    blocks = free_bytes // frsize
    return os.statvfs_result((frsize, frsize, blocks, blocks, blocks, 0, 0, 0, 0, 255))


def test_local_dir_uses_shm_only_above_the_free_space_floor():
    assert _local_dir_for(statvfs(SHM_MIN_FREE_BYTES)) == "/dev/shm"
    assert _local_dir_for(statvfs(16 * 1024**3)) == "/dev/shm"
    below = statvfs(SHM_MIN_FREE_BYTES - 4096)
    assert _local_dir_for(below) == tempfile.gettempdir()
    assert _local_dir_for(statvfs(0)) == tempfile.gettempdir()


def test_local_dir_without_shm_is_the_temp_dir():
    assert _local_dir_for(None) == tempfile.gettempdir()

"""Session defaults (session.py): the driver heap from physical RAM, the
local-mode shuffle dir from free tmpfs space, and the local sessions' Python
worker that keeps zip directories cached across tasks."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import uuid
import zipfile

import pytest
from pyspark.sql import SparkSession

from geomesa_nifi_spark.session import (
    SHM_MIN_FREE_BYTES,
    WORKER_CONF,
    _driver_memory_for,
    _local_dir_for,
    get_spark,
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


def zip_dirs_probe():
    """A partition function reporting, from inside a task, whether its worker
    is ``pyspark_gns_worker`` and whether ``importlib.invalidate_caches()``
    left every cached zipimporter's directory as it was (nested, so
    cloudpickle ships it by value)."""

    def probe(_):
        import importlib
        import zipimport

        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        before = [z._files for z in zips]
        importlib.invalidate_caches()
        yield {
            "gns_worker": "pyspark_gns_worker" in sys.modules,
            "zips": len(zips),
            "kept": all(z._files is d for z, d in zip(zips, before)),
        }

    return probe


def test_task_keeps_zip_directories_across_invalidate_caches(spark):
    [seen] = spark.sparkContext.parallelize([0], 1).mapPartitions(zip_dirs_probe()).collect()
    assert seen["gns_worker"]
    assert seen["zips"] > 0  # pyspark.zip, py4j, the shipped package, ...
    assert seen["kept"]


@pytest.mark.parametrize("kind", ["zip", "py"])
def test_pyfile_shipped_after_tasks_imports_in_next_task(spark, tmp_path, kind):
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 4).map(lambda x: x).sum() == 6  # warm workers
    name = f"gns_shipped_{uuid.uuid4().hex}"
    source = f"TOKEN = {name!r}\n"
    if kind == "zip":
        path = tmp_path / f"{name}.zip"
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{name}.py", source)
    else:  # lands in the task's files dir, a sys.path entry the workers already cache
        path = tmp_path / f"{name}.py"
        path.write_text(source)
    sc.addPyFile(str(path))

    def load(_):
        import importlib

        yield importlib.import_module(name).TOKEN

    assert sc.parallelize(range(4), 4).mapPartitions(load).collect() == [name] * 4


class _Built(Exception):
    pass


@pytest.fixture
def built_conf(monkeypatch):
    """``get_spark``'s builder settings, without starting a context."""
    seen: dict[str, str] = {}

    def config(self, key, value):
        seen[key] = value
        return self

    def get_or_create(self):
        raise _Built

    monkeypatch.setattr(SparkSession.Builder, "config", config)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)

    def build(**kwargs) -> dict[str, str]:
        seen.clear()
        with pytest.raises(_Built):
            get_spark(**kwargs)
        return dict(seen)

    return build


def test_worker_module_is_a_local_default_set_as_a_pair(built_conf):
    conf = built_conf(master="local[2]")
    assert {k: conf[k] for k in WORKER_CONF} == WORKER_CONF
    modules = set(os.listdir(WORKER_CONF["spark.executorEnv.PYTHONPATH"])) - {"__pycache__"}
    assert modules == {"pyspark_gns_worker.py"}  # the path exposes nothing else
    assert not WORKER_CONF.keys() & built_conf(master="spark://gns-master:7077").keys()


@pytest.mark.parametrize("key", sorted(WORKER_CONF))
def test_extra_conf_naming_either_worker_key_takes_over_both(built_conf, key):
    conf = built_conf(master="local[2]", extra_conf={key: "caller"})
    assert conf[key] == "caller"
    assert not (WORKER_CONF.keys() - {key}) & conf.keys()


def test_extra_conf_worker_module_runs_sparks_own_worker(tmp_path):
    """End to end in a fresh JVM: ``spark.python.worker.module=pyspark.worker``
    in ``extra_conf`` wins, and under Spark's worker the probe above does see
    the zip directories re-read."""
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    script = (
        "import json, sys\n"
        f"sys.path.insert(0, {tests_dir!r})\n"
        "from test_session import get_spark, zip_dirs_probe\n"
        "spark = get_spark('gns-worker-override', master='local[1]', shuffle_partitions=1,\n"
        "                  extra_conf={'spark.python.worker.module': 'pyspark.worker'})\n"
        "rdd = spark.sparkContext.parallelize([0], 1)\n"
        "print(json.dumps(rdd.mapPartitions(zip_dirs_probe()).collect()[0]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(tests_dir),
        env=dict(os.environ, SPARK_DRIVER_MEMORY="1g"),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    assert not seen["gns_worker"]
    assert seen["zips"] > 0
    assert not seen["kept"]

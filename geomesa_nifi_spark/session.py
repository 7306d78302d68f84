"""SparkSession factory with the engine's recommended configuration.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime skew-join splitting + partition coalescing), shuffle partitions
sized to the parallelism rather than the 200 default, Arrow enabled for
the driver-side pandas conversions (the Python UDF boundary is
``arrow_udf``/``mapInArrow`` throughout), and UTC session time so
timestamp round-trips are deterministic.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: local-mode shuffle goes to the RAM-backed /dev/shm only while it has at
#: least this much free space; below it, the system temp dir
SHM_MIN_FREE_BYTES = 4 * 1024**3
_PYFILES_SHIPPED: set[str] = set()


def _driver_memory_for(meminfo: str) -> str:
    """Default driver heap from ``/proc/meminfo`` text: half of
    ``MemTotal`` in whole GiB, at least 1g (unknown RAM gets the floor)."""
    kb = 0
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            kb = int(line.split()[1])
    return f"{max(1, kb // (2 * 1024 * 1024))}g"


def _local_dir_for(shm: os.statvfs_result | None) -> str:
    """Default local-mode shuffle/spill dir from ``os.statvfs("/dev/shm")``
    (``None`` when it has none): the tmpfs while it has
    ``SHM_MIN_FREE_BYTES`` free, else the system temp dir."""
    if shm is not None and shm.f_bavail * shm.f_frsize >= SHM_MIN_FREE_BYTES:
        return "/dev/shm"
    return tempfile.gettempdir()


def _read_meminfo() -> str:
    try:
        with open("/proc/meminfo") as fh:
            return fh.read()
    except OSError:
        return ""


def _statvfs_or_none(path: str) -> os.statvfs_result | None:
    try:
        return os.statvfs(path)
    except OSError:
        return None


def _remove_quietly(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers.

    Equivalent to ``spark-submit --py-files geomesa_nifi_spark.zip`` on a
    real cluster: zip this package and register it via ``addPyFile`` so
    Arrow UDFs deserialize anywhere, regardless of the driver's cwd.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _PYFILES_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    # per-process name: several driver processes on one host (e.g. the
    # multi-writer soak) would otherwise rewrite one zip that another
    # process's executors are still fetching, which Spark refuses
    zip_base = os.path.join(
        tempfile.gettempdir(), f"geomesa_nifi_spark_pyfiles-{os.getpid()}"
    )
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=root, base_dir="geomesa_nifi_spark")
    atexit.register(_remove_quietly, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _PYFILES_SHIPPED.add(app_id)


def get_spark(
    app_name: str = "geomesa_nifi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    — UNLESS the process was launched by spark-submit (its ``spark.master``
    arrives as a JVM system property / SparkConf entry), in which case the
    submitted master and executor topology win and this function only adds
    the engine's cluster-safe session confs.
    """
    if master is None:
        from pyspark import SparkConf

        if SparkConf().get("spark.master", None) is None:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    local = (master or "").startswith("local")
    # Local-mode shuffle/spill dir (GNS_LOCAL_DIR to override; any real
    # cluster manager overrides spark.local.dir wholesale, so this only
    # ever applies to local[...] runs).  Default to the RAM-backed tmpfs
    # when it has SHM_MIN_FREE_BYTES free, for the same reason bench.py's
    # measurement children already did: on a real deployment every
    # executor brings its own local disks, so shuffle bandwidth scales with
    # the cluster — this box's ONE shared disk does not, and a merge's
    # shuffle competing with the page-cache writeback of a preceding bulk
    # write was the dominant source of run-to-run variance in the suite
    # phase.  A smaller (or absent) tmpfs would fill up mid-shuffle, so
    # below the floor the shuffle goes to the system temp dir on disk.
    local_dir = os.environ.get("GNS_LOCAL_DIR")
    if local_dir is None and local:
        local_dir = _local_dir_for(_statvfs_or_none("/dev/shm"))
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if local:
        # Scan-split size 32 MB, not Spark's 128 MB: a CDC batch's change
        # files are tens of MB, and the map side of the LWW dedup (the
        # partial max_by combine) is input-split-bound — at 128 MB a
        # 160 MB/32-file batch planned 2-3 scan tasks and left 29 of 32
        # cores idle through the heaviest stage (measured: CoW replay
        # 11.2 s -> 9.4 s, MoR 10.7 s -> 6.6 s at sf-bench scale).  Cluster
        # sessions keep Spark's default: their parallelism comes from
        # executor counts, not from splitting one batch finely
        # (``extra_conf`` overrides either way).
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024)
        )
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TimestampType, not
        # TIMESTAMP_NTZ — one timestamp type engine-wide (session TZ is UTC,
        # so the semantics are identical and DuckDB oracles hash-match).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT96 (the legacy default) carries NO parquet min/max statistics,
        # which would blind the ledger zone maps on every timestamp column;
        # TIMESTAMP_MICROS is the modern interoperable encoding and DuckDB /
        # pyarrow read it identically.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        # local mode = one JVM: the driver heap IS the executor heap, fixed
        # at first-JVM-launch.  Default: half the box's RAM, leaving the
        # rest to the Python workers, the page cache and other JVMs on the
        # host; SPARK_DRIVER_MEMORY overrides it per deployment.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory_for(_read_meminfo()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark

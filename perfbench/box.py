"""Box-derived settings and ``/proc`` sampling.

Every setting the benchmark needs from the machine is derived here and
echoed in the run's output, so two results can be compared knowing what
they ran on.
"""

from __future__ import annotations

import os
import platform
import signal
import threading
import time

import helpers


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process ended between listing and reading
        return None


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    return helpers.parse_meminfo_kb(_read("/proc/meminfo") or "")


def settings(work: str) -> dict:
    """The session settings, all derived from the box and the work dir:
    ``local[nproc]``, shuffle partitions = nproc, a driver heap from
    physical RAM, and spill/shuffle/temp dirs pinned under ``work`` on the
    disk filesystem (not tmpfs, so fsync costs stay real)."""
    n = nproc()
    return {
        "master": f"local[{n}]",
        "nproc": n,
        "shuffle_partitions": n,
        "mem_total_mb": mem_total_kb() // 1024,
        "driver_memory": helpers.driver_memory_for(mem_total_kb()),
        "local_dir": os.path.join(work, "spark-local"),
        "tmp_dir": os.path.join(work, "tmp"),
        "python": platform.python_version(),
    }


def apply_env(cfg: dict) -> None:
    """Point the session factory and every temp-file user at the pinned
    dirs.  Must run before pyspark starts the JVM."""
    for d in (cfg["local_dir"], cfg["tmp_dir"]):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = cfg["driver_memory"]
    os.environ["GNS_LOCAL_DIR"] = cfg["local_dir"]
    # SPARK_LOCAL_DIRS overrides spark.local.dir when set: pin it too
    os.environ["SPARK_LOCAL_DIRS"] = cfg["local_dir"]
    os.environ["TMPDIR"] = cfg["tmp_dir"]
    # a caller's submit args would override the derived heap
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def spark_conf(cfg: dict) -> dict[str, str]:
    """Session confs.  The heap is fixed (``-Xms`` = ``-Xmx``) and touched
    at JVM start, so its resident size does not depend on when the garbage
    collector chose to grow it: peak RSS then varies with what the program
    holds outside the heap and in its Python workers, not with heap
    resizing (with a growable 4 GiB heap the JVM's RSS ranged 1.2-2.2 GB
    from run to run of the same pass)."""
    java_opts = (f"-Djava.io.tmpdir={cfg['tmp_dir']} -Xms{cfg['driver_memory']} "
                 "-XX:+AlwaysPreTouch")
    return {
        "spark.local.dir": cfg["local_dir"],
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(cfg["tmp_dir"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _alive(pid: int) -> bool:
    text = _read(f"/proc/{pid}/stat")
    return text is not None and helpers.parse_stat(text)[0] != "Z"


def process_tree() -> set[int]:
    """Pids of every live descendant of this process (driver JVM, Python
    workers and their daemon)."""
    ppid_of = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            text = _read(f"/proc/{name}/stat")
            if text:
                state, ppid = helpers.parse_stat(text)
                if state != "Z":
                    ppid_of[int(name)] = ppid
    return helpers.descendants(os.getpid(), ppid_of)


#: command names of the program's processes: the driver JVM, the Python
#: workers and their daemon
PROGRAM_NAMES = ("java", "python")


def tree_rss_kb() -> dict[str, int]:
    """RSS in kB of the program's processes among this process's
    descendants, keyed by ``<pid>:<command name>``.  This process is left
    out: it also holds the benchmark's oracle and inputs, a fixed cost
    outside the program.  So is a child the JVM has forked but not yet
    exec'd (it carries a JVM thread's name and shares the JVM's pages,
    which would count them twice)."""
    out = {}
    for pid in process_tree():
        status = _read(f"/proc/{pid}/status")
        if status:
            name = status.split("\n", 1)[0].split(":", 1)[1].strip()
            if name.startswith(PROGRAM_NAMES):
                out[f"{pid}:{name}"] = helpers.parse_status_rss_kb(status)
    return out


class RssSampler:
    """Samples :func:`tree_rss_kb` on a thread while active; ``peak_kb``
    is the largest sum seen and ``peak_by_process`` its breakdown."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_by_process: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = tree_rss_kb()
            total = sum(sample.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_by_process = total, sample
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_gone(pids, timeout_s: float = 20.0) -> list[int]:
    """Wait until every pid in ``pids`` has ended; after ``timeout_s`` send
    SIGTERM, then SIGKILL, to the ones left.  Returns the pids that had to
    be signalled.  Takes the pids up front because a process whose parent
    ends is re-parented out of this process's tree."""
    pending = set(pids)
    signalled: list[int] = []
    for sig, wait_s in ((None, timeout_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pending = {p for p in pending if _alive(p)}
        if sig is not None:
            for pid in pending:
                try:
                    os.kill(pid, sig)
                    signalled.append(pid)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while pending and time.monotonic() < deadline:
            time.sleep(0.05)
            pending = {p for p in pending if _alive(p)}
        if not pending:
            break
    return sorted(set(signalled))

"""Pure helpers of the benchmark: statistics, span arithmetic, the oracle's
row hash and ``/proc`` parsing.  Nothing here imports Spark, so every
function is unit-tested without a session (``perfbench/test_helpers.py``).
"""

from __future__ import annotations

import hashlib
import json
import math
import statistics

#: a tail percentile is reported only when at least this many samples lie
#: beyond it
MIN_BEYOND = 10

#: percentiles the tail rule chooses from, lowest first
PERCENTILE_LADDER = (50, 75, 90, 95, 99)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def samples_beyond(n: int, p: float) -> int:
    """Number of samples strictly above the ``p``-th percentile of ``n``."""
    return int(math.floor(n * (100.0 - p) / 100.0 + 1e-9))


def supported_percentile(n: int, ladder=PERCENTILE_LADDER) -> int | None:
    """Highest percentile of ``ladder`` with ``MIN_BEYOND`` samples beyond
    it, or None when even the lowest has too few (n < 20 for p50)."""
    best = None
    for p in ladder:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * p / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quartile_spread(values: list[float]) -> dict:
    """Median, quartiles and (q3 - q1) / median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {
        "median": q2,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / q2 if q2 else float("inf"),
        "n": len(values),
    }


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, optionally
    clipped to ``[lo, hi]``; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its children cover.

    ``spans`` are dicts with ``start``, ``end`` and ``parent`` (the index
    of the parent span in the same list, or None)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = union_length(children.get(i, []), s["start"], s["end"])
        out.append(max(0.0, (s["end"] - s["start"]) - covered))
    return out


# ---------------------------------------------------------------------------
# oracle hash
# ---------------------------------------------------------------------------


def row_digest(row) -> int:
    """64-bit digest of one row (a sequence of JSON-serialisable values)."""
    blob = json.dumps(list(row), ensure_ascii=False, separators=(",", ":"))
    return int.from_bytes(
        hashlib.blake2b(blob.encode("utf-8"), digest_size=8).digest(), "little"
    )


def table_hash(rows) -> tuple[int, int]:
    """Order-independent ``(row count, hash)`` of a row multiset: the sum of
    the rows' 64-bit digests modulo 2^64."""
    n = 0
    acc = 0
    for r in rows:
        acc = (acc + row_digest(r)) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, acc


# ---------------------------------------------------------------------------
# /proc parsing
# ---------------------------------------------------------------------------


def parse_status_rss_kb(status_text: str) -> int:
    """``VmRSS`` in kB from a ``/proc/<pid>/status`` body (0 if absent,
    as for a zombie)."""
    for line in status_text.splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1])
    return 0


def parse_stat(stat_text: str) -> tuple[str, int]:
    """``(state, parent pid)`` from a ``/proc/<pid>/stat`` line.  The
    command name is parenthesised and may itself hold spaces or
    parentheses, so split after its last ``)``."""
    rest = stat_text.rsplit(")", 1)[1].split()
    return rest[0], int(rest[1])


def parse_meminfo_kb(meminfo_text: str, key: str = "MemTotal") -> int:
    for line in meminfo_text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    raise KeyError(key)


def descendants(root: int, ppid_of: dict[int, int]) -> set[int]:
    """Pids below ``root`` in the process tree given as ``{pid: ppid}``."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppid_of.items():
        kids.setdefault(ppid, []).append(pid)
    out: set[int] = set()
    todo = [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def driver_memory_for(mem_total_kb: int) -> str:
    """Driver heap for a local-mode session: an eighth of physical RAM,
    rounded to whole GiB and clamped to 1-4 GiB (local mode runs driver
    and executor in one JVM, beside the Python workers).  The heap is
    fixed and pre-touched (see ``box.spark_conf``), so it is sized to
    what the workloads need rather than to what the box could spare."""
    gib = mem_total_kb / (1024 * 1024)
    return f"{int(min(4, max(1, round(gib / 8))))}g"

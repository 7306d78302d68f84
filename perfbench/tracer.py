"""Span recorder for the traced run.

Spans are recorded from the benchmark's side of the package boundary: the
traced run swaps each layer's public function or method for a wrapper
that opens a span around the original call, and restores the originals
afterwards.  Spans are kept in memory (name, start, end, parent, trace id
= the enclosing batch id) and written out when the run ends.  Spans of
the layers listed in ``COUNTED`` also carry the Spark status-store
counters accumulated while they were open.

The benchmark drives one closed loop with one writer, so spans nest
strictly even though a streaming micro-batch body runs on another Python
thread than the caller blocked in ``run_file_replay``: one stack serves
both.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager

import helpers

#: spans that carry Spark counters; the per-layer table reports each
#: counter for each of these
COUNTED = (
    "lake.merge.merge_changes",
    "lake.table.write_files",
    "lake.merge.compact",
    "lake.materialize.refresh",
    "lake.bootstrap.bootstrap_load",
    "functions.extract",
    "operators.dedup",
    "read_mix",
)

SPARK_COUNTERS = (
    "jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "task_busy_s",
)


class SparkCounters:
    """Jobs, tasks, shuffle bytes and task run time of the Spark work a
    span started, from the driver's status store.

    Job and stage ids are handed out in sequence by the scheduler, so a
    span's work is the stages with ids between its start mark and its end
    mark; each stage's last attempt carries the task sums.  Stage data is
    written by the listener bus asynchronously, so :meth:`delta` first
    waits for the bus to drain.  (The executor summary's ``totalDuration``
    is not used: in local mode it grows with wall time, not task time.)"""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def mark(self) -> tuple[int, int]:
        sched = self._sc.dagScheduler()
        return sched.nextJobId(), sched.nextStageId()

    def delta(self, start: tuple[int, int]) -> dict:
        from py4j.protocol import Py4JError

        self._sc.listenerBus().waitUntilEmpty()
        jobs, stages = self.mark()
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        out["jobs"] = jobs - start[0]
        store = self._sc.statusStore()
        for sid in range(start[1], stages):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:  # evicted from the store, or never submitted
                continue
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["task_busy_s"] += st.executorRunTime() / 1000.0
        return out


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._counters = SparkCounters(spark)
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            if trace_id is None:
                trace_id = self.spans[parent]["trace"] if parent is not None else self.trace_id
            rec = {"name": name, "start": 0.0, "end": 0.0, "parent": parent, "trace": trace_id}
            self._stack.append(len(self.spans))
            self.spans.append(rec)
        mark = self._counters.mark() if name in COUNTED else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if mark is not None:
                rec["spark"] = self._counters.delta(mark)
            with self._lock:
                self._stack.pop()

    def patch(self, owner, attr: str, name: str, before=None, after=None,
              trace_arg: str | None = None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``.  ``before(args,
        kwargs)`` runs ahead of the span and its value reaches
        ``after(rec, state, args, kwargs, result)``, which runs after it —
        so neither hook's own cost is charged to the layer."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            state = before(args, kwargs) if before else None
            tid = kwargs.get(trace_arg) if trace_arg else None
            with tracer.span(name, trace_id=tid) as rec:
                result = original(*args, **kwargs)
            if after:
                after(rec, state, args, kwargs, result)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


# ---------------------------------------------------------------------------
# the layer boundaries
# ---------------------------------------------------------------------------


def _dir_names(path: str) -> set[str]:
    try:
        return set(os.listdir(path))
    except FileNotFoundError:
        return set()


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap every public layer entry point the workloads reach."""
    from geomesa_nifi_spark.lake import bootstrap, ledger, materialize, merge, table
    from geomesa_nifi_spark.streaming import pipeline

    def merge_after(rec, _state, _args, _kwargs, result):
        rec["skipped"] = bool(result.skipped)

    def compact_after(rec, _state, _args, _kwargs, snap):
        rec["rows_rewritten"] = int(snap.summary.get("rows_written") or 0)

    def write_after(rec, _state, args, _kwargs, files):
        tbl = args[0]
        rec["files"] = len(files)
        rec["bytes"] = sum(os.path.getsize(os.path.join(tbl.root, f.path)) for f in files)
        rec["footer_s"] = float((tbl.last_footer_stats or {}).get("seconds") or 0.0)

    def candidates_after(rec, _state, _args, _kwargs, files):
        rec["files"] = len(files)
        rec["delta_files"] = sum(1 for f in files if f.kind == "delta")

    def commit_before(args, _kwargs):
        return _dir_names(args[0].dir)

    def commit_after(rec, names_before, args, _kwargs, _snap):
        led = args[0]
        new = _dir_names(led.dir) - names_before
        rec["manifests_written"] = sum(1 for n in new if n.startswith(ledger.MANIFEST_PREFIX))
        rec["bytes"] = sum(os.path.getsize(os.path.join(led.dir, n)) for n in new)

    def bootstrap_after(rec, _state, _args, _kwargs, result):
        rec["rows"] = int(result.metrics.get("bootstrapped") or 0)

    # ``pipeline`` imported merge_changes / partition_offset_ranges by
    # name, so its bindings are wrapped beside the defining module's.
    # materialize's own binding stays unwrapped: a view refresh's merge
    # into the view table is part of the refresh span.
    tracer.patch(merge, "merge_changes", "lake.merge.merge_changes",
                 after=merge_after, trace_arg="batch_id")
    tracer.patch(pipeline, "merge_changes", "lake.merge.merge_changes",
                 after=merge_after, trace_arg="batch_id")
    tracer.patch(merge, "compact", "lake.merge.compact", after=compact_after)
    tracer.patch(table.LakeTable, "write_files", "lake.table.write_files", after=write_after)
    tracer.patch(table.LakeTable, "scan", "lake.table.scan")
    tracer.patch(table.LakeTable, "candidate_files", "lake.table.candidate_files",
                 after=candidates_after)
    tracer.patch(ledger.Ledger, "commit", "lake.ledger.commit",
                 before=commit_before, after=commit_after)
    tracer.patch(materialize, "refresh", "lake.materialize.refresh")
    tracer.patch(bootstrap, "bootstrap_load", "lake.bootstrap.bootstrap_load",
                 after=bootstrap_after, trace_arg="batch_id")
    tracer.patch(pipeline, "run_file_replay", "streaming.pipeline.run_file_replay")
    tracer.patch(pipeline, "partition_offset_ranges", "streaming.lineage.partition_offset_ranges")


# ---------------------------------------------------------------------------
# the per-layer table
# ---------------------------------------------------------------------------

#: (span name, per-span attributes summed into metrics); the span name is
#: the metric prefix
LAYERS = (
    ("functions.extract", ("rows",)),
    ("operators.dedup", ("rows_in", "rows_out")),
    ("lake.merge.merge_changes", ("skipped",)),
    ("lake.table.write_files", ("files", "bytes")),
    ("lake.ledger.commit", ("manifests_written", "bytes")),
    ("lake.merge.compact", ("rows_rewritten",)),
    ("lake.table.scan", ()),
    ("lake.materialize.refresh", ()),
    ("lake.bootstrap.bootstrap_load", ("rows",)),
    ("streaming.pipeline.run_file_replay", ()),
    ("streaming.lineage.partition_offset_ranges", ()),
    ("read_mix", ()),
)


def layer_metrics(spans: list[dict], n_passes: int, nproc: int) -> dict[str, float]:
    """Per-layer metrics, each a total over the traced passes divided by
    their number, so runs with different pass counts compare."""
    selfs = helpers.self_times(spans)
    per = 1.0 / max(1, n_passes)
    out: dict[str, float] = {}
    for name, attrs in LAYERS:
        idx = [i for i, s in enumerate(spans) if s["name"] == name]
        busy = helpers.union_length([(spans[i]["start"], spans[i]["end"]) for i in idx])
        out[f"{name}.busy_s"] = busy * per
        out[f"{name}.self_s"] = sum(selfs[i] for i in idx) * per
        out[f"{name}.calls"] = len(idx) * per
        for a in attrs:
            out[f"{name}.{a}"] = sum(float(spans[i].get(a) or 0) for i in idx) * per
        if name in COUNTED:
            totals = dict.fromkeys(SPARK_COUNTERS, 0.0)
            for i in idx:
                for k, v in spans[i].get("spark", {}).items():
                    totals[k] += v
            for k, v in totals.items():
                out[f"{name}.spark.{k}"] = v * per
            out[f"{name}.spark.slot_busy_frac"] = (
                totals["task_busy_s"] / (busy * nproc) if busy > 0 else 0.0
            )
    scans = {i for i, s in enumerate(spans) if s["name"] == "lake.table.scan"}
    cands = [
        s for s in spans
        if s["name"] == "lake.table.candidate_files" and s["parent"] in scans
    ]
    out["lake.table.scan.files_opened"] = sum(s["files"] for s in cands) * per
    out["lake.table.scan.delta_files_opened"] = sum(s["delta_files"] for s in cands) * per
    out["lake.table.footer_s"] = sum(
        s.get("footer_s", 0.0) for s in spans if s["name"] == "lake.table.write_files"
    ) * per
    rows = out["functions.extract.rows"]
    out["functions.extract.us_per_row"] = (
        out["functions.extract.busy_s"] / rows * 1e6 if rows else 0.0
    )
    rin = out["operators.dedup.rows_in"]
    out["operators.dedup.keep_ratio"] = out["operators.dedup.rows_out"] / rin if rin else 0.0
    return out


def coverage(spans: list[dict], window: tuple[float, float]) -> float:
    """Share of ``window`` covered by root spans that start inside it."""
    lo, hi = window
    roots = [
        (s["start"], s["end"]) for s in spans
        if s["parent"] is None and lo <= s["start"] <= hi
    ]
    return helpers.union_length(roots, lo, hi) / (hi - lo) if hi > lo else 0.0

"""Optimistic-concurrency behavior: MoR commits rebase past concurrent
commits; CoW commits rebase only when buckets are disjoint; every writer,
the metadata-only ones included, commits through one loop
(``LakeTable.optimistic_commit``) that skips a batch a racing writer
already committed."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from geomesa_nifi_spark.lake import (
    CommitConflict,
    LakeTable,
    append_only,
    bootstrap_load,
    merge_changes,
)
from geomesa_nifi_spark.lake.ledger import Ledger
from geomesa_nifi_spark.lake.table import LakeTable as _LT

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)
CHANGE = T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType())])


def ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=int(i))


def ev(url, i, text, op="upsert"):
    return Row(url=url, warc_ts=ts(i), offset=int(i), text=text, op=op)


def make(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=4,
    )


def _inject_commit_between(monkeypatch, table, spark, rows):
    """Make another writer commit between our data write and ledger commit."""
    other = LakeTable(spark, table.root)
    orig = _LT.write_files
    state = {"fired": False}

    def patched(self, df, version_hint, max_records_per_file=2_000_000, kind="base", **kw):
        files = orig(self, df, version_hint, max_records_per_file, kind, **kw)
        if not state["fired"]:
            state["fired"] = True
            merge_changes(other, spark.createDataFrame(rows, CHANGE),
                          batch_id="intruder", mode="mor", auto_compact=False)
        return files

    monkeypatch.setattr(_LT, "write_files", patched)


def test_mor_commit_rebases_past_concurrent_writer(spark, tmp_path, monkeypatch):
    t = make(spark, tmp_path)
    _inject_commit_between(monkeypatch, t, spark, [ev("other", 99, "x")])
    r = merge_changes(t, spark.createDataFrame([ev("mine", 1, "v")], CHANGE),
                      batch_id="me", mode="mor", auto_compact=False)
    assert not r.skipped
    versions = [s.summary.get("batch_id") for s in t.history()]
    assert "intruder" in versions and "me" in versions
    st = {x.url for x in t.scan().collect()}
    assert st == {"other", "mine"}  # both writers' rows landed


def test_cow_conflict_same_bucket_redoes_merge(spark, tmp_path, monkeypatch):
    """A concurrent rewrite of OUR bucket invalidates the executed join; the
    merge must transparently redo against the new snapshot (not silently
    commit a stale result, not surface an error to the caller)."""
    t = make(spark, tmp_path)
    merge_changes(t, spark.createDataFrame([ev("k", 1, "v1")], CHANGE), batch_id="seed")
    # intruder updates the SAME key (same bucket) between write and commit
    _inject_commit_between(monkeypatch, t, spark, [ev("k", 50, "intruder")])
    r = merge_changes(t, spark.createDataFrame([ev("k", 10, "mine")], CHANGE),
                      batch_id="me", mode="cow")
    assert not r.skipped
    bids = [s.summary.get("batch_id") for s in t.history()]
    assert "intruder" in bids and "me" in bids
    final = {x.url: x.text for x in t.scan().collect()}
    assert final == {"k": "intruder"}  # offset 50 beats 10 after the redo
    # the abandoned first-attempt files are unreferenced -> vacuum removes them
    assert t.vacuum(min_age_s=0)


def test_cow_changelog_survives_rebase(spark, tmp_path, monkeypatch):
    """changelog.enabled CoW retention under conflict-rebase: a commit whose
    summary lists changelog side files loses the version race to a
    DISJOINT-bucket commit and rebases — table_changes must still surface
    the rebased commit's change rows (merge.py:393-415,441-465)."""
    from geomesa_nifi_spark.streaming.changes import table_changes

    t = LakeTable.create(
        spark, str(tmp_path / "cl"), SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=4,
        properties={"changelog.enabled": "true"},
    )
    # pick two keys that land in different buckets so the rebase path (not
    # the redo path) is taken
    from pyspark.sql import functions as F

    probe = spark.createDataFrame([(f"k{i}",) for i in range(20)], "url string")
    buckets = {r["url"]: r["b"] for r in
               probe.select("url", t.bucket_expr().alias("b")).collect()}
    k_mine = "k0"
    k_other = next(k for k, b in buckets.items() if b != buckets[k_mine])

    _inject_commit_between(monkeypatch, t, spark, [ev(k_other, 99, "intruder")])
    r = merge_changes(t, spark.createDataFrame([ev(k_mine, 1, "mine")], CHANGE),
                      batch_id="me", mode="cow")
    assert not r.skipped
    # both commits present; ours rebased on top of the intruder's
    bids = [s.summary.get("batch_id") for s in t.history()]
    assert "intruder" in bids and "me" in bids
    ch = table_changes(t)
    by_batch = {r["_batch_id"]: r["url"] for r in ch.collect()}
    assert by_batch.get("me") == k_mine, ch.collect()
    assert by_batch.get("intruder") == k_other


def test_cow_conflict_with_compaction_only_rebases(spark, tmp_path, monkeypatch):
    """A compaction is a logical no-op fold of files the merge already
    read: losing the race to one must REBASE (one resolution pass), not
    redo the merge — a frequently-compacting MoR peer must not starve a
    CoW writer (observed live in the cross-process soak)."""
    t = make(spark, tmp_path)
    merge_changes(t, spark.createDataFrame([ev("k", 1, "v1")], CHANGE),
                  batch_id="seed", mode="mor", auto_compact=False)
    other = LakeTable(spark, t.root)
    orig = _LT.write_files
    state = {"fired": False, "calls": 0}

    def patched(self, df, version_hint, max_records_per_file=2_000_000, kind="base", **kw):
        state["calls"] += 1
        files = orig(self, df, version_hint, max_records_per_file, kind, **kw)
        if not state["fired"]:
            state["fired"] = True
            from geomesa_nifi_spark.lake import compact

            compact(other)  # folds k's delta into a base file
        return files

    monkeypatch.setattr(_LT, "write_files", patched)
    r = merge_changes(t, spark.createDataFrame([ev("k", 10, "mine")], CHANGE),
                      batch_id="me", mode="cow")
    assert not r.skipped
    final = {x.url: x.text for x in t.scan().collect()}
    assert final == {"k": "mine"}
    ops = [s.summary.get("operation") for s in t.history()]
    assert "compact" in ops and "merge" in ops
    # exactly 2 write_files calls: our one resolution + the compaction's —
    # a redo would have produced a third
    assert state["calls"] == 2


def test_append_only_rebases_past_concurrent_commit(spark, tmp_path, monkeypatch):
    """A blind append is content-independent of the base snapshot: losing
    the commit race must rebase onto the newer snapshot, reusing the
    already-written files (no redo, no orphan parts), not raise."""
    t = make(spark, tmp_path)
    _inject_commit_between(monkeypatch, t, spark, [ev("other", 99, "x")])
    r = append_only(t, spark.createDataFrame([ev("mine", 1, "v")], CHANGE).drop("op"),
                    batch_id="me")
    assert not r.skipped and r.metrics.get("appended") == 1
    bids = [s.summary.get("batch_id") for s in t.history()]
    assert "intruder" in bids and "me" in bids
    assert {x.url for x in t.scan().collect()} == {"other", "mine"}
    # the rebased commit reused its files: no orphaned DATA files for vacuum
    # (the losing attempt's tiny ledger manifests are expected orphans)
    assert [p for p in t.vacuum(min_age_s=0) if p.endswith(".parquet")] == []


#: every data writer that records a batch id: (table, change rows, batch id)
#: -> MergeResult
WRITERS = {
    "append_only": lambda t, df, bid: append_only(t, df.drop("op"), batch_id=bid),
    "merge_mor": lambda t, df, bid: merge_changes(
        t, df, batch_id=bid, mode="mor", auto_compact=False),
    "merge_cow": lambda t, df, bid: merge_changes(t, df, batch_id=bid, mode="cow"),
    "bootstrap_load": lambda t, df, bid: bootstrap_load(t, df.drop("op"), batch_id=bid),
}


@pytest.mark.parametrize("writer", list(WRITERS))
def test_conflict_idempotent_skip(spark, tmp_path, monkeypatch, writer):
    """If the conflicting commit turns out to BE our batch (a concurrent
    duplicate replay), the commit loop skips instead of applying it twice."""
    write = WRITERS[writer]
    t = make(spark, tmp_path)
    other = LakeTable(spark, t.root)
    orig = _LT.write_files
    state = {"fired": False}

    def patched(self, df, version_hint, max_records_per_file=2_000_000, kind="base", **kw):
        files = orig(self, df, version_hint, max_records_per_file, kind, **kw)
        if not state["fired"]:
            state["fired"] = True
            write(other, spark.createDataFrame([ev("dup", 1, "v")], CHANGE), "me")
        return files

    monkeypatch.setattr(_LT, "write_files", patched)
    r = write(t, spark.createDataFrame([ev("dup", 1, "v")], CHANGE), "me")
    assert state["fired"]
    assert r.skipped and r.metrics.get("reason") == "batch_committed"
    bids = [s.summary.get("batch_id") for s in t.history()]
    assert bids.count("me") == 1
    assert [x.url for x in t.scan().collect()] == ["dup"]  # applied exactly once


def _count_base_writes(monkeypatch):
    """Wrap write_files (AFTER any other patch) counting kind='base' calls."""
    counts = {"base": 0}
    prev = _LT.write_files

    def counting(self, df, version_hint, max_records_per_file=2_000_000,
                 kind="base", **kw):
        if kind == "base":
            counts["base"] += 1
        return prev(self, df, version_hint, max_records_per_file, kind, **kw)

    monkeypatch.setattr(_LT, "write_files", counting)
    return counts


def test_compact_rebase_on_disjoint_conflict(spark, tmp_path, monkeypatch):
    """compact() loses the version race to a commit touching OTHER buckets:
    pure rebase — the already-written fold re-commits, no second rewrite
    (three-committer soak finding: auto-compaction used to abort here)."""
    from geomesa_nifi_spark.lake import compact

    t = make(spark, tmp_path)
    urls = [f"u{i}" for i in range(40)]
    b_of = {u: t._literal_buckets([u], 4)[0] for u in urls}
    a = next(u for u in urls if b_of[u] == 0)
    c = next(u for u in urls if b_of[u] == 3)
    mk = lambda rows: spark.createDataFrame(rows, CHANGE)
    merge_changes(t, mk([ev(a, 1, "v1")]), batch_id="s1", mode="mor", auto_compact=False)
    merge_changes(t, mk([ev(a, 2, "v2")]), batch_id="s2", mode="mor", auto_compact=False)
    _inject_commit_between(monkeypatch, t, spark, [ev(c, 99, "x")])
    counts = _count_base_writes(monkeypatch)
    snap = compact(t, buckets=[0])
    assert snap.summary["operation"] == "compact"
    assert counts["base"] == 1  # rebase: the fold was NOT rewritten
    bids = [s.summary.get("batch_id") for s in t.history()]
    assert "intruder" in bids
    final = {x.url: x.text for x in t.scan().collect()}
    assert final == {a: "v2", c: "x"}  # nobody's rows lost
    assert not any(
        f.kind == "delta" and f.bucket == 0 for f in t.snapshot().files
    )


def test_compact_redo_on_overlapping_conflict(spark, tmp_path, monkeypatch):
    """compact() loses the race to a commit that added a delta INTO its
    scope: the stale fold would drop that delta's rows, so it must redo
    from the new head (and the redo folds the intruder's delta too)."""
    from geomesa_nifi_spark.lake import compact

    t = make(spark, tmp_path)
    urls = [f"u{i}" for i in range(40)]
    b_of = {u: t._literal_buckets([u], 4)[0] for u in urls}
    a = next(u for u in urls if b_of[u] == 0)
    mk = lambda rows: spark.createDataFrame(rows, CHANGE)
    merge_changes(t, mk([ev(a, 1, "v1")]), batch_id="s1", mode="mor", auto_compact=False)
    merge_changes(t, mk([ev(a, 2, "v2")]), batch_id="s2", mode="mor", auto_compact=False)
    # intruder updates the SAME key -> same bucket 0, inside the scope
    _inject_commit_between(monkeypatch, t, spark, [ev(a, 99, "intruder")])
    counts = _count_base_writes(monkeypatch)
    compact(t, buckets=[0])
    assert counts["base"] == 2  # first fold discarded, redo against head
    final = {x.url: x.text for x in t.scan().collect()}
    assert final == {a: "intruder"}  # the raced delta was folded, not dropped
    assert not any(f.kind == "delta" for f in t.snapshot().files)
    # the abandoned first-attempt files are unreferenced -> vacuum removes them
    assert t.vacuum(min_age_s=0)


#: every metadata-only commit: name -> (the summary operation it commits,
#: the call on a table that has a "side" branch)
METADATA_OPS = {
    "create_branch": ("create_branch", lambda t: t.create_branch("audit")),
    "publish_branch": ("publish", lambda t: t.publish_branch("audit")),
    "record_audit_reject": (
        "audit_reject", lambda t: t.record_audit_reject("rejected", reason="x")),
    "rollback": ("rollback", lambda t: t.rollback(0)),
    "rescale_lazy": ("rescale_lazy", lambda t: t.rescale(8, lazy=True)),
    "rescale": ("rescale", lambda t: t.rescale(8)),
}


def _steal_first_commit(monkeypatch, intrude):
    """Wrap Ledger.commit: on its first call, ``intrude()`` commits first
    and claims the version number the caller is about to publish."""
    real = Ledger.commit
    state = {"fired": False}

    def commit(self, snapshot):
        if not state["fired"]:
            state["fired"] = True
            intrude()
        return real(self, snapshot)

    monkeypatch.setattr(Ledger, "commit", commit)
    return state


@pytest.mark.parametrize("op", list(METADATA_OPS))
def test_metadata_commit_survives_lost_race(spark, tmp_path, monkeypatch, op):
    """Each metadata-only commit loses the version race to a commit on
    ANOTHER branch: it must land exactly once, on its own branch's head."""
    t = make(spark, tmp_path)
    side = t.create_branch("side")
    if op == "publish_branch":
        t.create_branch("audit").record_audit_reject("staged")
    if op == "rollback":
        t.record_audit_reject("later")
    target = "audit" if op == "create_branch" else "main"
    head = t.snapshot().version  # create_branch forks at main's head
    operation, call = METADATA_OPS[op]
    state = _steal_first_commit(monkeypatch, lambda: side.record_audit_reject("intruder"))
    call(t)
    assert state["fired"]
    landed = [s for s in t.history(all_branches=True)
              if s.summary.get("operation") == operation and s.branch == target]
    assert len(landed) == 1
    assert landed[0].parent_version == head
    assert "intruder" in {s.summary.get("batch_id") for s in side.history()}
    assert LakeTable(spark, t.root, branch=target).snapshot().version == landed[0].version


def test_create_branch_lost_to_same_name_raises(spark, tmp_path, monkeypatch):
    """A concurrent create of the SAME branch name wins: ours must raise
    FileExistsError, not fork a second time."""
    t = make(spark, tmp_path)
    other = LakeTable(spark, t.root)
    _steal_first_commit(monkeypatch, lambda: other.create_branch("audit"))
    with pytest.raises(FileExistsError):
        t.create_branch("audit")
    forks = [s for s in t.history(all_branches=True)
             if s.summary.get("operation") == "create_branch"
             and s.summary.get("branch") == "audit"]
    assert len(forks) == 1


def test_one_commit_loop():
    """Every writer commits through LakeTable.optimistic_commit: it holds
    the package's only CommitConflict handler, and no LakeTable method
    takes a retry bound of its own (COMMIT_ATTEMPTS bounds them all)."""
    import inspect
    import pathlib

    import geomesa_nifi_spark

    pkg = pathlib.Path(geomesa_nifi_spark.__file__).parent
    handlers = [
        f"{path.relative_to(pkg).as_posix()}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "except CommitConflict" in line
    ]
    assert len(handlers) == 1, handlers
    assert handlers[0].startswith("lake/table.py:")
    assert "except CommitConflict" in inspect.getsource(_LT.optimistic_commit)
    with_retries = [
        name for name, fn in inspect.getmembers(_LT, inspect.isfunction)
        if "retries" in inspect.signature(fn).parameters
    ]
    assert not with_retries, with_retries

"""Branches + Write-Audit-Publish (lake/table.py, lake/ledger.py).

WAP is the lakehouse pattern the reference's NiFi flows approximate with a
staging store + flow routing: stage CDC batches on an isolated branch,
validate, then atomically fast-forward main.  These tests pin the whole
contract: isolation, atomic publish, publish-conflict, drop, changelog
visibility across a publish, MV refresh across publish/rollback, and
expiry protection of branch heads.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from geomesa_nifi_spark.lake import LakeTable, merge_changes
from geomesa_nifi_spark.lake.table import PublishConflict
from geomesa_nifi_spark.streaming.changes import (
    ChangelogDiscontinuityError,
    ChangelogRetentionError,
    table_changes,
)


def _src(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("k"), (F.col("id") % 40).cast("string")).alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") * 2).alias("v"),
        F.lit(tag).alias("tag"),
        F.when(F.col("id") % 9 == 0, "delete").otherwise("upsert").alias("op"),
    )


def _mk(spark, tmp):
    base = _src(spark, 0, 120)
    t = LakeTable.create(
        spark, tmp + "/t", base.drop("op").schema,
        key_col="k", ts_col="seq", num_buckets=4,
    )
    merge_changes(t, base, batch_id="base")
    return t


def _state(t, version=None):
    return sorted(map(tuple, t.scan(version=version).collect()))


def test_branch_isolation_and_publish(spark):
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        main_before = _state(t)
        fork_v = t.snapshot().version

        audit = t.create_branch("audit")
        assert set(t.branches()) == {"main", "audit"}
        # staged writes: one MoR batch + one CoW batch through the ordinary writers
        merge_changes(audit, _src(spark, 200, 260, tag="staged"), batch_id="s1", mode="mor")
        merge_changes(audit, _src(spark, 260, 300, tag="staged"), batch_id="s2")

        # isolation: main unmoved, branch sees staged rows
        assert _state(t) == main_before
        staged = _state(audit)
        assert staged != main_before
        assert any(r[3] == "staged" for r in staged)
        # a fresh handle resolves the same branch head
        assert _state(LakeTable(spark, t.root, branch="audit")) == staged

        snap = t.publish_branch("audit")
        assert snap.summary["operation"] == "publish"
        assert snap.summary["forked_from"] == fork_v
        assert snap.branch == "main"
        # atomic fast-forward: main now equals the audited state exactly
        assert _state(t) == staged
        # exactly-once: replaying a staged batch on main is a no-op
        r = merge_changes(t, _src(spark, 200, 260, tag="staged"), batch_id="s1")
        assert r.skipped and r.metrics["reason"] == "batch_committed"


def test_publish_conflict_when_main_moves(spark):
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        audit = t.create_branch("audit")
        merge_changes(audit, _src(spark, 200, 240), batch_id="s1")
        # main moves past the fork point -> the audited base is stale
        merge_changes(t, _src(spark, 500, 520), batch_id="hot")
        with pytest.raises(PublishConflict):
            t.publish_branch("audit")
        # recovery path: re-fork and replay (new branch name, same batches)
        audit2 = t.create_branch("audit2")
        merge_changes(audit2, _src(spark, 200, 240), batch_id="s1-r2")
        t.publish_branch("audit2")
        assert any(r[1] in range(200, 240) for r in _state(t))


def test_branch_schema_evolution_publishes_with_it(spark):
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        audit = t.create_branch("audit")
        batch = _src(spark, 200, 220).withColumn("extra", F.lit(1).cast("long"))
        merge_changes(audit, batch, batch_id="s1")  # additive evolution on the branch
        assert "extra" not in t.schema().fieldNames()
        t.publish_branch("audit")
        assert "extra" in t.schema().fieldNames()
        assert any(r.extra == 1 for r in t.scan().collect())


def test_drop_branch(spark):
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        main_before = _state(t)
        audit = t.create_branch("audit")
        merge_changes(audit, _src(spark, 200, 260), batch_id="s1", mode="mor")
        staged_files = {f.path for f in audit.snapshot().files}
        main_files = {f.path for f in t.snapshot().files}

        with pytest.raises(ValueError):
            t.drop_branch("main")
        with pytest.raises(KeyError):
            t.drop_branch("nope")
        t.create_tag("pin", version=audit.snapshot().version)
        with pytest.raises(ValueError):
            t.drop_branch("audit")  # tagged version on the branch
        t.delete_tag("pin")

        t.drop_branch("audit")
        assert set(t.branches()) == {"main"}
        assert _state(t) == main_before
        # the staged delta files are unreferenced now; vacuum frees them,
        # main's files survive
        import os

        removed = set(t.vacuum(min_age_s=0))
        assert (staged_files - main_files) <= removed
        for f in t.snapshot().files:
            assert os.path.exists(os.path.join(t.root, f.path))


def test_head_scan_skips_a_version_dropped_after_listing(spark, monkeypatch):
    """Another handle (thread or process) may drop a branch between this
    handle's directory listing and its read of a listed snapshot: the
    head scan skips the vanished version instead of failing."""
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        t.create_branch("wap-1")
        reader = LakeTable(spark, t.root)
        stale = reader.ledger._versions()
        t.drop_branch("wap-1")
        monkeypatch.setattr(reader.ledger, "_versions", lambda: stale)
        assert reader.ledger.head_version("main") == t.snapshot().version
        assert reader.ledger.head_version("wap-1") is None


def test_exactly_once_survives_publish_then_drop(spark):
    """Staged batch ids must stay committed after the branch that staged
    them is deleted — they ride the publish commit's published_batch_ids,
    so a FRESH process (fresh ledger handle) still detects re-delivery.
    Conversely, ids staged on a branch dropped WITHOUT publishing become
    re-ingestable (the work was abandoned)."""
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        audit = t.create_branch("audit")
        merge_changes(audit, _src(spark, 200, 240, tag="staged"), batch_id="s1", mode="mor")
        pub = t.publish_branch("audit")
        assert pub.summary["published_batch_ids"] == ["s1"]
        t.drop_branch("audit")
        published_state = _state(t)

        fresh = LakeTable(spark, t.root)  # new-process simulation
        r = fresh.ledger  # force a cold cache
        assert "s1" in r.committed_batch_ids()
        res = merge_changes(fresh, _src(spark, 200, 240, tag="staged"), batch_id="s1")
        assert res.skipped and res.metrics["reason"] == "batch_committed"
        assert _state(fresh) == published_state

        # abandoned (never-published) staged work: id is re-ingestable
        audit2 = t.create_branch("audit2")
        merge_changes(audit2, _src(spark, 300, 320), batch_id="s2", mode="mor")
        t.drop_branch("audit2")
        fresh2 = LakeTable(spark, t.root)
        assert "s2" not in fresh2.ledger.committed_batch_ids()
        res2 = merge_changes(fresh2, _src(spark, 300, 320), batch_id="s2")
        assert not res2.skipped


def test_table_changes_across_publish(spark):
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        fork_v = t.snapshot().version
        audit = t.create_branch("audit")
        merge_changes(audit, _src(spark, 200, 240), batch_id="s1", mode="mor")
        merge_changes(audit, _src(spark, 240, 280), batch_id="s2", mode="mor")
        pub = t.publish_branch("audit")

        ch = table_changes(t, from_version=fork_v).collect()
        # every staged change surfaces, stamped with the publish version
        assert {r._batch_id for r in ch} == {"s1", "s2"}
        assert {r._commit_version for r in ch} == {pub.version}
        seqs = {r.seq for r in ch if r._change_type == "insert_or_update"}
        assert seqs == {i for i in range(200, 280) if i % 9 != 0}
        assert {r.seq for r in ch if r._change_type == "delete"} == {
            i for i in range(200, 280) if i % 9 == 0
        }

        # MoR-staged publishes survive drop_branch: the publish commit's
        # published_commits records each staged commit's delta files, which
        # stay referenced — the expansion reconstructs identical change rows
        t.drop_branch("audit")
        ch2 = table_changes(t, from_version=fork_v).collect()
        assert sorted(map(tuple, ch2)) == sorted(map(tuple, ch))

        # a CoW-staged publish has no change-row representation once the
        # branch (and its changelog bookkeeping) is gone — loudly
        audit3 = t.create_branch("audit3")
        merge_changes(audit3, _src(spark, 400, 420), batch_id="s3")  # CoW
        pub3 = t.publish_branch("audit3")
        t.drop_branch("audit3")
        with pytest.raises(ChangelogRetentionError):
            table_changes(t, from_version=pub3.version - 1).count()


def test_table_changes_across_nested_publish(spark):
    """A publish whose staged chain contains ANOTHER publish (a sub-branch
    published into the audit branch, then the audit branch into main).
    The outer publish must splice the inner publish's published_commits —
    flattened MoR/append delta entries — not the inner publish's raw file
    diff: for a CoW-staged inner branch that diff is rewritten FULL
    buckets, and reading it back as change rows would be silently wrong.
    Pinned: MoR-nested reconstructs exactly after both branches are
    dropped; CoW-nested refuses loudly instead of fabricating rows."""
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        fork_v = t.snapshot().version
        outer = t.create_branch("outer")
        inner = outer.create_branch("inner")
        merge_changes(inner, _src(spark, 200, 240), batch_id="i1", mode="mor")
        merge_changes(inner, _src(spark, 240, 260), batch_id="i2", mode="mor")
        outer.publish_branch("inner")
        outer.drop_branch("inner")
        pub = t.publish_branch("outer")
        t.drop_branch("outer")

        assert pub.summary["published_batch_ids"] == ["i1", "i2"]
        # the spliced entries are the inner MoR commits, never a raw
        # "publish" diff
        ops = [e["operation"] for e in pub.summary["published_commits"]]
        assert "publish" not in ops and ops.count("merge_mor") == 2
        ch = table_changes(t, from_version=fork_v).collect()
        assert {r._batch_id for r in ch} == {"i1", "i2"}
        assert {r._commit_version for r in ch} == {pub.version}
        assert {r.seq for r in ch if r._change_type == "insert_or_update"} == {
            i for i in range(200, 260) if i % 9 != 0
        }

        # exactly-once crosses BOTH publishes and both drops
        fresh = LakeTable(spark, t.root)
        r = merge_changes(fresh, _src(spark, 200, 240), batch_id="i1")
        assert r.skipped and r.metrics["reason"] == "batch_committed"

        # CoW-staged inner branch: unreconstructible once dropped -> loud
        outer2 = t.create_branch("outer2")
        inner2 = outer2.create_branch("inner2")
        merge_changes(inner2, _src(spark, 400, 420), batch_id="c1")  # CoW
        outer2.publish_branch("inner2")
        outer2.drop_branch("inner2")
        pub2 = t.publish_branch("outer2")
        t.drop_branch("outer2")
        with pytest.raises(ChangelogRetentionError):
            table_changes(t, from_version=pub2.version - 1).count()


def test_table_changes_refuses_rollback_in_range(spark):
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        good = t.snapshot().version
        merge_changes(t, _src(spark, 200, 220), batch_id="bad", mode="mor")
        t.rollback(good)
        with pytest.raises(ChangelogDiscontinuityError):
            table_changes(t, from_version=good).count()
        # past the discontinuity the stream reads again
        merge_changes(t, _src(spark, 300, 320), batch_id="after", mode="mor")
        ok = table_changes(t, from_version=t.snapshot().version - 1).collect()
        assert {r._batch_id for r in ok} == {"after"}


def test_mv_refresh_across_publish_and_rollback(spark):
    from geomesa_nifi_spark.lake.materialize import (
        create_aggregate_view,
        refresh,
    )

    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        view = create_aggregate_view(
            spark, tmp + "/mv", t, ["tag"], {"n": "count", "vs": ("sum", "v")},
            num_buckets=4,
        )
        refresh(view, t)

        def mv_state():
            return {
                (r.tag): (r.n, r.vs)
                for r in view.scan().select("tag", "n", "vs").collect()
            }

        def oracle():
            return {
                r.tag: (r.n, r.vs)
                for r in t.scan().groupBy("tag").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("v").alias("vs")
                ).collect()
            }

        # publish staged work, then refresh: the view must absorb it
        audit = t.create_branch("audit")
        merge_changes(audit, _src(spark, 200, 260, tag="staged"), batch_id="s1", mode="mor")
        t.publish_branch("audit")
        refresh(view, t)
        assert mv_state() == oracle()

        # rollback (un-publish), then refresh: the view must walk back too
        t.rollback(t.snapshot().parent_version)
        refresh(view, t)
        assert mv_state() == oracle()


def test_branch_head_survives_expiry(spark):
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        audit = t.create_branch("audit")
        merge_changes(audit, _src(spark, 200, 240), batch_id="s1", mode="mor")
        staged = _state(audit)
        # main churns far past keep_last
        for i in range(8):
            merge_changes(t, _src(spark, 500 + i, 501 + i), batch_id=f"m{i}", mode="mor")
        t.expire_snapshots(keep_last=3)
        t.vacuum(min_age_s=0)
        # the quiet branch's head is protected like a tag — still readable
        assert _state(LakeTable(spark, t.root, branch="audit")) == staged


def test_concurrent_branch_and_main_writers_version_race(spark):
    """Global version numbers: branch and main writers race on the same
    O_EXCL sequence; both must land (retry/rebase), histories stay
    disjoint per branch."""
    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        audit = t.create_branch("audit")
        for i in range(3):
            merge_changes(t, _src(spark, 600 + 10 * i, 610 + 10 * i), batch_id=f"m{i}", mode="mor")
            merge_changes(audit, _src(spark, 800 + 10 * i, 810 + 10 * i), batch_id=f"a{i}", mode="mor")
        main_ops = [s.summary.get("batch_id") for s in t.history()]
        audit_ops = [s.summary.get("batch_id") for s in audit.history()]
        assert {f"m{i}" for i in range(3)} <= set(main_ops)
        assert {f"a{i}" for i in range(3)} <= set(audit_ops)
        assert not ({f"a{i}" for i in range(3)} & set(main_ops))
        # versions strictly increase along each branch's parent chain
        for handle in (t, audit):
            versions = [s.version for s in handle.history()]
            assert versions == sorted(versions)


def test_ledger_commit_refuses_same_branch_leapfrog(spark):
    """Version numbers are global, so an O_EXCL version collision alone no
    longer proves the base is current: a writer whose claimed version
    leapfrogs a concurrent SAME-branch commit must get CommitConflict (its
    snapshot would silently drop the other writer's files), while a gap
    full of OTHER branches' versions commits cleanly."""
    from geomesa_nifi_spark.lake.ledger import CommitConflict, Snapshot

    with tempfile.TemporaryDirectory() as tmp:
        t = _mk(spark, tmp)
        base = t.snapshot()  # main head, read before the intruder lands

        # an intruder on MAIN claims the next version
        merge_changes(t, _src(spark, 700, 710), batch_id="intruder", mode="mor")

        # stale-based main commit leapfrogging it must be refused, even
        # though its version number itself is free
        with pytest.raises(CommitConflict):
            t.ledger.commit(
                Snapshot(
                    version=t.ledger.next_version(),
                    schema_json=base.schema_json,
                    files=base.files,
                    properties=dict(base.properties),
                    summary={"operation": "merge_mor", "batch_id": "stale"},
                    parent_version=base.version,
                    branch="main",
                )
            )
        assert "stale" not in {
            s.summary.get("batch_id") for s in t.history()
        }

        # the same shape across branches is legitimate: an audit-branch
        # commit whose gap holds only main versions goes through
        audit = t.create_branch("audit")
        merge_changes(t, _src(spark, 710, 720), batch_id="m-noise", mode="mor")
        abase = audit.snapshot()
        snap = audit.ledger.commit(
            Snapshot(
                version=audit.ledger.next_version(),
                schema_json=abase.schema_json,
                files=abase.files,
                properties=dict(abase.properties),
                summary={"operation": "merge_mor", "batch_id": "a-ok"},
                parent_version=abase.version,
                branch="audit",
            )
        )
        assert snap.branch == "audit"
        assert audit.snapshot().version == snap.version

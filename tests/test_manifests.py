"""Manifest-backed ledger: commit metadata IO proportional to touched
buckets, manifest reuse across snapshots, lazy file-list loading, legacy
inline-snapshot compatibility, and manifest GC via vacuum."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from geomesa_nifi_spark.lake import LakeTable, Snapshot, append_only
from geomesa_nifi_spark.lake.ledger import MANIFEST_PREFIX, Ledger
from geomesa_nifi_spark.lake.merge import merge_changes

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("op", T.StringType()),
    ]
)


def ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def page(i, rev=0):
    return Row(
        url=f"https://d{i % 7}.example.com/p/{i}",
        warc_ts=ts(i + rev * 1000),
        text=f"page {i} rev {rev}",
        op="upsert",
    )


def _table(spark, tmp_path, **kw):
    kw.setdefault("num_buckets", 8)
    return LakeTable.create(
        spark, str(tmp_path / "t"), PAGES, key_col="url", ts_col="warc_ts", **kw
    )


def _manifests(root):
    led = os.path.join(root, "_ledger")
    return sorted(n for n in os.listdir(led) if n.startswith(MANIFEST_PREFIX))


def _snapshot_doc(root, version):
    with open(os.path.join(root, "_ledger", f"v{version:012d}.json")) as fh:
        return json.load(fh)


def test_commit_writes_manifest_form(spark, tmp_path):
    t = _table(spark, tmp_path)
    append_only(t, spark.createDataFrame([page(i) for i in range(60)], PAGES), batch_id="b0")
    doc = _snapshot_doc(t.root, 1)
    assert "files" not in doc
    assert doc["manifests"], doc
    assert _manifests(t.root)
    # file list round-trips through the manifests (fresh ledger = fresh caches)
    reread = Ledger(t.root).snapshot(1)
    assert sorted(f.path for f in reread.files) == sorted(f.path for f in t.snapshot(1).files)
    assert sum(f.rows for f in reread.files) == 60
    # refs carry the group identity + rollups used by vacuum/inspection
    for ref in doc["manifests"]:
        assert set(ref) == {"path", "bucket", "kind", "n_files", "rows"}


def test_untouched_buckets_reuse_parent_manifests(spark, tmp_path):
    t = _table(spark, tmp_path)
    append_only(t, spark.createDataFrame([page(i) for i in range(200)], PAGES), batch_id="b0")
    v1 = _snapshot_doc(t.root, 1)["manifests"]
    # second commit touches ONE key -> CoW rewrites exactly one bucket
    merge_changes(t, spark.createDataFrame([page(3, rev=1)], PAGES), batch_id="b1")
    v2 = _snapshot_doc(t.root, 2)["manifests"]
    reused = {r["path"] for r in v1} & {r["path"] for r in v2}
    fresh = {r["path"] for r in v2} - {r["path"] for r in v1}
    # every bucket except the rewritten one re-references the v1 manifest
    assert len(fresh) == 1, (v1, v2)
    assert len(reused) == len(v2) - 1
    # metadata written for the commit ∝ touched bucket, not table size
    led = os.path.join(t.root, "_ledger")
    fresh_bytes = sum(os.path.getsize(os.path.join(led, n)) for n in fresh)
    total_bytes = sum(os.path.getsize(os.path.join(led, r["path"])) for r in v2)
    assert fresh_bytes < total_bytes / 2


def test_mor_delta_append_leaves_base_manifests_alone(spark, tmp_path):
    t = _table(spark, tmp_path, properties={"mor.compact.deltas": "100"})
    append_only(t, spark.createDataFrame([page(i) for i in range(200)], PAGES), batch_id="b0")
    v1 = _snapshot_doc(t.root, 1)["manifests"]
    merge_changes(t, spark.createDataFrame([page(3, rev=1)], PAGES), batch_id="b1",
                  mode="mor", auto_compact=False)
    v2 = _snapshot_doc(t.root, 2)["manifests"]
    base_v1 = {r["path"] for r in v1 if r["kind"] == "base"}
    base_v2 = {r["path"] for r in v2 if r["kind"] == "base"}
    assert base_v1 == base_v2  # delta append rewrote no base manifest
    assert any(r["kind"] == "delta" for r in v2)


def test_batch_id_walk_never_loads_manifests(spark, tmp_path):
    t = _table(spark, tmp_path)
    for b in range(3):
        append_only(t, spark.createDataFrame([page(b * 10 + i) for i in range(5)], PAGES),
                    batch_id=f"b{b}")
    led = Ledger(t.root)  # cold caches, like a fresh driver
    led._load_manifest = lambda name: pytest.fail(f"manifest {name} was loaded")
    assert led.committed_batch_ids() == {"b0", "b1", "b2"}


def test_legacy_inline_snapshot_still_loads(spark, tmp_path):
    t = _table(spark, tmp_path)
    append_only(t, spark.createDataFrame([page(i) for i in range(30)], PAGES), batch_id="b0")
    # rewrite v1 in the pre-manifest inline form
    led_dir = os.path.join(t.root, "_ledger")
    inline = t.snapshot(1).to_json()
    assert inline["files"]
    path = os.path.join(led_dir, "v" + "1".zfill(12) + ".json")
    os.unlink(path)
    with open(path, "w") as fh:
        json.dump(inline, fh)
    fresh = LakeTable(spark, t.root)
    assert fresh.scan().count() == 30
    assert fresh.ledger.manifest_refs(1) is None
    # a child commit on a legacy parent simply writes all-new manifests
    append_only(fresh, spark.createDataFrame([page(100 + i) for i in range(5)], PAGES),
                batch_id="b1")
    assert fresh.scan().count() == 35
    assert fresh.ledger.manifest_refs(2)


def test_vacuum_collects_orphan_and_expired_manifests(spark, tmp_path):
    t = _table(spark, tmp_path)
    for b in range(4):
        merge_changes(t, spark.createDataFrame([page(i, rev=b) for i in range(40)], PAGES),
                      batch_id=f"b{b}")
    led_dir = os.path.join(t.root, "_ledger")
    orphan = os.path.join(led_dir, f"{MANIFEST_PREFIX}999999999999-b0000-deadbeef.json")
    with open(orphan, "w") as fh:
        json.dump({"files": []}, fh)
    live_before = {r["path"] for v in t.ledger._versions()
                   for r in (t.ledger.manifest_refs(v) or [])}
    removed = set(t.vacuum(min_age_s=0))
    assert os.path.basename(orphan) in {os.path.basename(p) for p in removed}
    assert all(os.path.exists(os.path.join(led_dir, n)) for n in live_before)

    # expiring old versions orphans their exclusive manifests; vacuum frees them
    t.expire_snapshots(keep_last=1)
    t2 = LakeTable(spark, t.root)  # fresh ledger view after expiry
    keep = {r["path"] for v in t2.ledger._versions()
            for r in (t2.ledger.manifest_refs(v) or [])}
    t2.vacuum(min_age_s=0)
    left = set(_manifests(t.root))
    assert left == keep
    assert t2.scan().count() == 40  # state intact after GC


def test_vacuum_reclaims_crashed_commit_tmp_files(spark, tmp_path):
    """A commit that dies between staging and publishing its manifests, or
    before linking its snapshot header, strands *.json.tmp.<pid> files in
    the ledger: vacuum reclaims them once past the grace period, and
    leaves them alone inside it (a live writer may still own them)."""
    t = _table(spark, tmp_path)
    merge_changes(t, spark.createDataFrame([page(i) for i in range(20)], PAGES), batch_id="b0")
    led_dir = os.path.join(t.root, "_ledger")
    _ref, staged, _files = t.ledger._stage_manifest(999, 0, "base", [])
    header = os.path.join(led_dir, f"v{999:012d}.json.tmp.{os.getpid()}")
    with open(header, "w") as fh:
        json.dump({"version": 999}, fh)
    planted = {os.path.basename(staged), os.path.basename(header)}
    assert all(".json.tmp." in n for n in planted)

    assert t.vacuum() == []  # inside the default grace period
    assert planted <= set(os.listdir(led_dir))
    for n in planted:
        os.utime(os.path.join(led_dir, n), (1, 1))
    removed = {os.path.basename(p) for p in t.vacuum()}
    assert planted <= removed
    assert not planted & set(os.listdir(led_dir))
    assert t.scan().count() == 20


def test_conflict_loser_rebases_and_reuses_winner_manifests(spark, tmp_path):
    t = _table(spark, tmp_path)
    append_only(t, spark.createDataFrame([page(i) for i in range(60)], PAGES), batch_id="b0")
    # two writers race from the same base version
    w1 = LakeTable(spark, t.root)
    w2 = LakeTable(spark, t.root)
    b1 = w1.snapshot()
    _ = w2.snapshot()
    append_only(w1, spark.createDataFrame([page(200)], PAGES), batch_id="b1")
    # w2 commits after w1 won version b1.version+1 -> internal retry path
    append_only(w2, spark.createDataFrame([page(201)], PAGES), batch_id="b2")
    final = LakeTable(spark, t.root)
    assert final.scan().count() == 62
    assert final.snapshot().version == b1.version + 2
    assert final.committed_batch_ids() >= {"b0", "b1", "b2"}

"""Bucket rescaling: rewrite the table under a new modulus.

The reference's stores fix their partition scheme at schema-create time
(``PutGeoMesaFsTest.scala:86``); at 100 TB a create-time bucket count is a
scaling liability (merge parallelism ceiling, per-bucket rewrite size), so
the engine adds ``LakeTable.rescale`` — an atomic full rewrite under a new
``pmod(xxhash64(key), B')`` layout, with version-aware readers (time travel
across a rescale prunes with the modulus its snapshot was written under)
and rescale-aware conflict handling in every writer path.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.lake import (
    CommitConflict,
    LakeTable,
    append_only,
    compact,
    merge_changes,
    migrate_layout,
)

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


def make(spark, tmp_path, name, num_buckets=4, **props):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset",
        num_buckets=num_buckets, properties=props,
    )


def state(t, version=None):
    return {r.url: (r.warc_ts, r.text) for r in t.scan(version=version).collect()}


def _assert_layout_consistent(t):
    """Every live file's recorded bucket matches pmod(xxhash64(key), m)
    for every row it holds, where m is the file's own modulus (its lazy-
    rescale stamp, else the current bucket count) — the invariant all
    pruning rests on."""
    nb = t.num_buckets
    snap = t.snapshot()
    import os

    for f in snap.files:
        m = f.modulus if f.modulus is not None else nb
        assert nb % m == 0, f"file {f.path} modulus {m} does not divide {nb}"
        df = t.spark.read.parquet(os.path.join(t.root, f.path))
        bad = df.filter(
            F.pmod(F.xxhash64(F.col(t.key_col)), F.lit(m)).cast("int") != F.lit(f.bucket)
        ).count()
        assert bad == 0, f"file {f.path} labeled bucket {f.bucket} holds foreign rows"


def test_rescale_preserves_state_up_and_down(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    batch = spark.createDataFrame([ev(f"u{i}", i, f"v{i}") for i in range(120)], CHANGE)
    merge_changes(t, batch, batch_id="b0")
    before = state(t)

    snap = t.rescale(16)
    assert snap.summary["operation"] == "rescale"
    assert snap.summary["from_buckets"] == 4 and snap.summary["to_buckets"] == 16
    assert t.num_buckets == 16
    assert state(t) == before
    _assert_layout_consistent(t)
    assert len({f.bucket for f in t.snapshot().files}) > 4  # actually spread

    # shrink too (arbitrary modulus, not only multiples)
    t.rescale(3)
    assert t.num_buckets == 3
    assert state(t) == before
    _assert_layout_consistent(t)

    # idempotent no-op: same modulus commits nothing
    v = t.snapshot().version
    t.rescale(3)
    assert t.snapshot().version == v

    with pytest.raises(ValueError):
        t.rescale(0)


def test_rescale_folds_mor_deltas_and_keeps_tombstones(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v1") for i in range(40)], CHANGE),
        batch_id="b0", mode="mor", auto_compact=False,
    )
    merge_changes(
        t,
        spark.createDataFrame(
            [ev("u1", 100, "v2"), ev("u2", 101, None, op="delete")], CHANGE
        ),
        batch_id="b1", mode="mor", auto_compact=False,
    )
    assert any(f.kind == "delta" for f in t.snapshot().files)

    t.rescale(8)
    snap = t.snapshot()
    # deltas are LWW-resolved into base files on the way through
    assert all(f.kind == "base" for f in snap.files)
    s = state(t)
    assert s["u1"] == (ts(100), "v2")
    assert "u2" not in s
    _assert_layout_consistent(t)

    # tombstones survived the rescale: a stale replay of the deleted key
    # (older ts) still cannot resurrect it
    merge_changes(
        t, spark.createDataFrame([ev("u2", 2, "stale")], CHANGE), batch_id="b2"
    )
    assert "u2" not in state(t)


def test_lookup_is_version_aware_across_rescale(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, f"v{i}") for i in range(60)], CHANGE),
        batch_id="b0",
    )
    v_old = t.snapshot().version
    t.rescale(13)
    merge_changes(
        t, spark.createDataFrame([ev("u5", 200, "new5")], CHANGE), batch_id="b1"
    )

    # current-version lookup prunes with the new modulus
    assert {r.url for r in t.lookup(["u5", "u7"]).collect()} == {"u5", "u7"}
    assert t.lookup(["u5"]).collect()[0].text == "new5"
    # time-travel lookup prunes with the OLD modulus and sees the old value
    old = t.lookup(["u5", "u7"], version=v_old).collect()
    assert {r.url for r in old} == {"u5", "u7"}
    assert {r.text for r in old} == {"v5", "v7"}


def test_merge_after_rescale_prunes_with_new_modulus(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v1") for i in range(200)], CHANGE),
        batch_id="b0",
    )
    t.rescale(16)
    res = merge_changes(
        t, spark.createDataFrame([ev("u3", 300, "v2")], CHANGE), batch_id="b1"
    )
    touched = res.snapshot.summary["touched_buckets"]
    assert len(touched) == 1 and touched[0] < 16
    assert state(t)["u3"] == (ts(300), "v2")
    _assert_layout_consistent(t)


def test_cow_merge_losing_race_to_rescale_rebuckets(spark, tmp_path):
    """A CoW merge whose commit loses to a concurrent rescale must re-bucket
    its batch under the new modulus before redoing — otherwise the rewrite
    publishes files whose bucket labels misprune every later scan."""
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v1") for i in range(80)], CHANGE),
        batch_id="b0",
    )

    other = LakeTable(spark, t.root)  # the "concurrent" admin writer
    real_commit = t.ledger.commit
    fired = {"n": 0}

    def racing_commit(snap):
        if fired["n"] == 0 and snap.summary.get("operation") == "merge":
            fired["n"] = 1
            other.rescale(16)  # wins the version race
        return real_commit(snap)

    t.ledger.commit = racing_commit
    try:
        res = merge_changes(
            t, spark.createDataFrame([ev("u9", 500, "v2")], CHANGE), batch_id="b1"
        )
    finally:
        t.ledger.commit = real_commit
    assert res.snapshot is not None
    assert t.num_buckets == 16
    assert state(t)["u9"] == (ts(500), "v2")
    _assert_layout_consistent(t)


def test_mor_merge_losing_race_to_rescale_rewrites_deltas(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v1") for i in range(80)], CHANGE),
        batch_id="b0",
    )

    other = LakeTable(spark, t.root)
    real_commit = t.ledger.commit
    fired = {"n": 0}

    def racing_commit(snap):
        if fired["n"] == 0 and snap.summary.get("operation") == "merge_mor":
            fired["n"] = 1
            other.rescale(16)
        return real_commit(snap)

    t.ledger.commit = racing_commit
    try:
        res = merge_changes(
            t,
            spark.createDataFrame([ev("u9", 500, "v2")], CHANGE),
            batch_id="b1", mode="mor", auto_compact=False,
        )
    finally:
        t.ledger.commit = real_commit
    assert res.snapshot is not None
    assert t.num_buckets == 16
    assert state(t)["u9"] == (ts(500), "v2")
    _assert_layout_consistent(t)


def test_append_losing_race_to_rescale_rewrites_files(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    df = spark.createDataFrame([Row(url=f"u{i}", warc_ts=ts(i), offset=int(i),
                                    text="v1") for i in range(50)], SCHEMA)

    other = LakeTable(spark, t.root)
    real_commit = t.ledger.commit
    fired = {"n": 0}

    def racing_commit(snap):
        if fired["n"] == 0 and snap.summary.get("operation") == "append":
            fired["n"] = 1
            other.rescale(16)
        return real_commit(snap)

    t.ledger.commit = racing_commit
    try:
        res = append_only(t, df, batch_id="b0")
    finally:
        t.ledger.commit = real_commit
    assert res.metrics["appended"] == 50
    assert t.num_buckets == 16
    assert t.scan().count() == 50
    _assert_layout_consistent(t)


def test_stale_instance_sees_rescale(spark, tmp_path):
    """num_buckets is never cached: a long-lived writer instance picks up a
    rescale committed by another process before its next batch."""
    t = make(spark, tmp_path, "t", num_buckets=4)
    stale = LakeTable(spark, t.root)
    assert stale.num_buckets == 4  # warm the instance
    t.rescale(32)
    assert stale.num_buckets == 32
    merge_changes(
        stale, spark.createDataFrame([ev("k", 1, "v")], CHANGE), batch_id="b0"
    )
    _assert_layout_consistent(stale)


def test_rescale_then_vacuum_drops_old_layout(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v1") for i in range(60)], CHANGE),
        batch_id="b0",
    )
    before = state(t)
    t.rescale(8)
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum(min_age_s=0)
    assert removed  # the old 4-bucket layout's files are gone
    assert state(t) == before


# -- lazy (incremental) rescale: metadata-only stamp, migrate-on-touch ------


def _stamped(t):
    nb = t.num_buckets
    return [f for f in t.snapshot().files if (f.modulus or nb) != nb]


def test_lazy_rescale_is_metadata_only_and_preserves_state(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    batch = spark.createDataFrame([ev(f"u{i}", i, f"v{i}") for i in range(120)], CHANGE)
    merge_changes(t, batch, batch_id="b0")
    before = state(t)
    paths_before = sorted(f.path for f in t.snapshot().files)

    snap = t.rescale(16, lazy=True)
    assert snap.summary["operation"] == "rescale_lazy"
    assert snap.summary["from_buckets"] == 4 and snap.summary["to_buckets"] == 16
    assert t.num_buckets == 16
    # metadata-only: exactly the same data files, every one stamped mod 4
    assert sorted(f.path for f in t.snapshot().files) == paths_before
    assert all(f.modulus == 4 for f in t.snapshot().files)
    assert state(t) == before
    _assert_layout_consistent(t)
    # point lookups keep working through congruence coverage
    assert t.lookup(["u5"]).collect()[0].text == "v5"

    # idempotent no-op
    v = t.snapshot().version
    assert t.rescale(16, lazy=True).version == v


def test_lazy_rescale_validation(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    with pytest.raises(ValueError, match="integer multiple"):
        t.rescale(2, lazy=True)  # shrink
    with pytest.raises(ValueError, match="integer multiple"):
        t.rescale(6, lazy=True)  # not a multiple


def test_lazy_rescale_bucket_scan_is_exact(spark, tmp_path):
    """scan(buckets=[b]) after a lazy rescale returns exactly bucket b's
    rows — the covering old-modulus file's sibling rows are filtered by the
    residual bucket predicate, not leaked."""
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v") for i in range(200)], CHANGE),
        batch_id="b0",
    )
    t.rescale(16, lazy=True)
    full = t.scan()
    for b in (0, 5, 11):
        got = {r.url for r in t.scan(buckets=[b]).collect()}
        want = {
            r.url
            for r in full.filter(
                F.pmod(F.xxhash64(F.col("url")), F.lit(16)).cast("int") == b
            ).collect()
        }
        assert got == want and want  # non-trivially exact
    # pruning still real: one bucket's scan reads only its congruence group
    cand = t.candidate_files(buckets=[5])
    assert {f.bucket for f in cand} == {5 % 4}
    assert len(cand) < len(t.snapshot().files)


def test_cow_merge_after_lazy_rescale_migrates_touched_group(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v1") for i in range(200)], CHANGE),
        batch_id="b0",
    )
    t.rescale(16, lazy=True)
    res = merge_changes(
        t, spark.createDataFrame([ev("u3", 300, "v2")], CHANGE), batch_id="b1"
    )
    touched = res.snapshot.summary["touched_buckets"]
    # sibling closure: the one-key batch rewrote the whole congruence group
    assert len(touched) == 4 and len({b % 4 for b in touched}) == 1
    assert state(t)["u3"] == (ts(300), "v2")
    _assert_layout_consistent(t)
    # migrate-on-touch: the rewritten group is unstamped, the rest still owes
    remaining = _stamped(t)
    assert remaining and all(f.bucket != touched[0] % 4 for f in remaining)
    # untouched keys are intact
    assert state(t)["u7"] == (ts(7), "v1")


def test_mor_then_compaction_after_lazy_rescale(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4, **{"mor.compact.deltas": "100"})
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v1") for i in range(80)], CHANGE),
        batch_id="b0",
    )
    t.rescale(8, lazy=True)
    # MoR deltas land under the NEW modulus over old stamped base files
    merge_changes(
        t,
        spark.createDataFrame(
            [ev("u1", 100, "v2"), ev("u2", 101, None, op="delete")], CHANGE
        ),
        batch_id="b1", mode="mor", auto_compact=False,
    )
    s = state(t)
    assert s["u1"] == (ts(100), "v2") and "u2" not in s
    _assert_layout_consistent(t)
    # compaction folds deltas AND migrates the touched sibling groups
    compact(t)
    s2 = state(t)
    assert s2["u1"] == (ts(100), "v2") and "u2" not in s2
    assert all(f.kind == "base" for f in t.snapshot().files)
    _assert_layout_consistent(t)
    # the deleted key's tombstone survived migration
    merge_changes(
        t, spark.createDataFrame([ev("u2", 2, "stale")], CHANGE), batch_id="b2"
    )
    assert "u2" not in state(t)


def test_migrate_layout_pays_all_debt(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, f"v{i}") for i in range(150)], CHANGE),
        batch_id="b0",
    )
    before = state(t)
    t.rescale(16, lazy=True)
    assert _stamped(t)
    snap = migrate_layout(t, groups_per_commit=2)  # several bounded commits
    assert not _stamped(t)
    assert state(t) == before
    _assert_layout_consistent(t)
    # identity when no debt remains
    assert migrate_layout(t).version == snap.version
    # spread across the full new modulus now
    assert len({f.bucket for f in t.snapshot().files}) > 4


def test_double_lazy_rescale_keeps_older_stamps(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"a{i}", i, "v1") for i in range(60)], CHANGE),
        batch_id="b0",
    )
    t.rescale(8, lazy=True)
    # new keys under modulus 8 (may migrate some mod-4 groups on the way)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"b{i}", 1000 + i, "v1") for i in range(60)], CHANGE),
        batch_id="b1",
    )
    t.rescale(32, lazy=True)
    moduli = {f.modulus for f in t.snapshot().files}
    assert moduli <= {4, 8} and 8 in moduli  # stamps layered, none lost
    _assert_layout_consistent(t)
    s = state(t)
    assert s["a3"] == (ts(3), "v1") and s["b3"] == (ts(1003), "v1")
    # lookups and merges still exact across three layout generations
    assert t.lookup(["a3", "b3"]).count() == 2
    merge_changes(
        t, spark.createDataFrame([ev("a3", 5000, "v2")], CHANGE), batch_id="b2"
    )
    assert state(t)["a3"] == (ts(5000), "v2")
    _assert_layout_consistent(t)


def test_time_travel_across_lazy_rescale(spark, tmp_path):
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, f"v{i}") for i in range(60)], CHANGE),
        batch_id="b0",
    )
    v_old = t.snapshot().version
    t.rescale(16, lazy=True)
    merge_changes(
        t, spark.createDataFrame([ev("u5", 200, "new5")], CHANGE), batch_id="b1"
    )
    assert t.lookup(["u5"]).collect()[0].text == "new5"
    old = t.lookup(["u5", "u7"], version=v_old).collect()
    assert {r.text for r in old} == {"v5", "v7"}


def test_commit_rewrite_rejects_unclosed_touched_set(spark, tmp_path):
    """Safety net: a rewrite that would drop an old-modulus file while
    leaving sibling buckets untouched must refuse, not lose rows."""
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v") for i in range(100)], CHANGE),
        batch_id="b0",
    )
    t.rescale(16, lazy=True)
    base = t.snapshot()
    with pytest.raises(ValueError, match="sibling-close"):
        t.rewrite_parts(
            touched_buckets=[5], new_files=[], summary={"operation": "test"},
            base=base,
        )


def test_cow_merge_losing_race_to_lazy_rescale_rebuckets(spark, tmp_path):
    """A lazy rescale keeps every file path identical, so the merge's
    stale-files comparison alone cannot see it — the modulus guard must
    force a redo that re-buckets under the new modulus."""
    t = make(spark, tmp_path, "t", num_buckets=4)
    merge_changes(
        t,
        spark.createDataFrame([ev(f"u{i}", i, "v1") for i in range(80)], CHANGE),
        batch_id="b0",
    )

    other = LakeTable(spark, t.root)
    real_commit = t.ledger.commit
    fired = {"n": 0}

    def racing_commit(snap):
        if fired["n"] == 0 and snap.summary.get("operation") == "merge":
            fired["n"] = 1
            other.rescale(16, lazy=True)  # wins the version race, paths unchanged
        return real_commit(snap)

    t.ledger.commit = racing_commit
    try:
        res = merge_changes(
            t, spark.createDataFrame([ev("u9", 500, "v2")], CHANGE), batch_id="b1"
        )
    finally:
        t.ledger.commit = real_commit
    assert res.snapshot is not None
    assert t.num_buckets == 16
    assert state(t)["u9"] == (ts(500), "v2")
    assert state(t)["u1"] == (ts(1), "v1")
    _assert_layout_consistent(t)


def test_scrambled_replay_across_lazy_rescale_matches_oracle(spark, tmp_path):
    """Order-scrambled CDC replay with a lazy rescale injected midway:
    the final state must equal the LWW oracle, batching- and layout-
    independent."""
    import random

    rng = random.Random(7)
    events = []
    for i in range(600):
        k = f"u{rng.randrange(80)}"
        op = "delete" if rng.random() < 0.15 else "upsert"
        events.append(ev(k, i, f"v{i}" if op == "upsert" else None, op=op))
    rng.shuffle(events)

    # oracle: LWW by (warc_ts, offset), deletes tombstone
    oracle = {}
    for e in sorted(events, key=lambda e: (e.warc_ts, e.offset)):
        oracle[e.url] = e
    expected = {
        e.url: (e.warc_ts, e.text) for e in oracle.values() if e.op != "delete"
    }

    t = make(spark, tmp_path, "t", num_buckets=4, **{"mor.compact.deltas": "3"})
    chunks = [events[i::5] for i in range(5)]
    for i, chunk in enumerate(chunks):
        mode = "mor" if i % 2 == 0 else "cow"
        merge_changes(
            t, spark.createDataFrame(chunk, CHANGE), batch_id=f"b{i}", mode=mode
        )
        if i == 2:
            t.rescale(16, lazy=True)
    assert state(t) == expected
    _assert_layout_consistent(t)
    migrate_layout(t)
    assert state(t) == expected
    assert not _stamped(t)

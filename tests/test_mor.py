"""Merge-on-read path: delta writes, read-time LWW resolution, compaction,
equivalence with copy-on-write, exactly-once."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.lake import LakeTable, compact, merge_changes
from geomesa_nifi_spark.sources.changegen import change_stream

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


def make(spark, tmp_path, name, **props):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset",
        num_buckets=4, properties=props,
    )


def state(t):
    return {r.url: r for r in t.scan().collect()}


def _edge_batches():
    """Every resolution edge: insert, update, late-lose, delete, tombstone
    refresh, resurrect, delete-before-insert, a late delete, and exact
    re-deliveries whose order keys tie the stored row's."""
    return [
        [ev("a", 1, "a1"), ev("b", 1, "b1"), ev("c", 1, "c1")],
        [ev("a", 5, "a2"), ev("b", 0, "late"), ev("c", 6, None, op="delete"),
         ev("d", 2, None, op="delete")],  # delete-before-insert
        [ev("c", 3, "stale"), ev("d", 1, "too-old"), ev("a", 7, None, op="delete"),
         ev("e", 4, "e1"), ev("b", 1, "b1")],  # re-delivered b ties the stored row
        [ev("a", 9, "back"), ev("c", 8, None, op="delete"),  # resurrect a; refresh c
         ev("e", 2, None, op="delete"), ev("e", 4, "e1")],  # late delete; tie
    ]


def test_mor_semantics_match_cow(spark, tmp_path):
    """Same event stream through both write paths -> identical final state:
    a scrambled generated stream, the resolution edge cases, and a stored
    null-ts row on a table without a tiebreak column (a null order
    component loses LWW on both paths)."""
    events = change_stream(spark, 400, n_keys=80, seed=21, payload="text").drop(
        "partition", "lang"
    )
    null_ts = Row(url="n", warc_ts=None, offset=0, text="x", op="upsert")
    streams = {
        "gen": ("offset", [  # scrambled on purpose
            events.filter(F.pmod(F.col("offset"), F.lit(4)) == b) for b in [2, 0, 3, 1]
        ]),
        "edge": ("offset", [spark.createDataFrame(r, CHANGE) for r in _edge_batches()]),
        "null_ts": (None, [
            spark.createDataFrame([null_ts], CHANGE),
            spark.createDataFrame([ev("n", 1, "y")], CHANGE),
        ]),
    }
    states = {}
    for name, (tiebreak, batches) in streams.items():
        cow, mor = (
            LakeTable.create(
                spark, str(tmp_path / f"{name}-{m}"), SCHEMA,
                key_col="url", ts_col="warc_ts", tiebreak_col=tiebreak, num_buckets=4,
            )
            for m in ("cow", "mor")
        )
        for i, batch in enumerate(batches):
            merge_changes(cow, batch, batch_id=f"b{i}", mode="cow")
            merge_changes(mor, batch, batch_id=f"b{i}", mode="mor", auto_compact=False)
        a = cow.scan()
        b = mor.scan()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name
        # MoR never rewrote: every merge commit only added delta files
        assert {f.kind for f in mor.snapshot().files} == {"delta"}
        states[name] = {r.url: r.text for r in a.collect()}
    assert states["edge"] == {"a": "back", "b": "b1", "e": "e1"}
    assert states["null_ts"] == {"n": "y"}


def test_mor_tombstone_and_lww(spark, tmp_path):
    t = make(spark, tmp_path, "t")
    merge_changes(t, spark.createDataFrame([ev("k", 10, None, op="delete")], CHANGE),
                  batch_id="1", mode="mor", auto_compact=False)
    merge_changes(t, spark.createDataFrame([ev("k", 5, "stale")], CHANGE),
                  batch_id="2", mode="mor", auto_compact=False)
    assert "k" not in state(t)  # tombstone wins over older upsert
    merge_changes(t, spark.createDataFrame([ev("k", 20, "fresh")], CHANGE),
                  batch_id="3", mode="mor", auto_compact=False)
    assert state(t)["k"].text == "fresh"


def test_mor_exactly_once(spark, tmp_path):
    t = make(spark, tmp_path, "t")
    b = spark.createDataFrame([ev("a", 1, "a1")], CHANGE)
    merge_changes(t, b, batch_id="x", mode="mor")
    v = t.snapshot().version
    r = merge_changes(t, b, batch_id="x", mode="mor")
    assert r.skipped and t.snapshot().version == v


def test_compaction_folds_deltas(spark, tmp_path):
    t = make(spark, tmp_path, "t")
    for i in range(5):
        merge_changes(
            t, spark.createDataFrame([ev("k", i, f"v{i}"), ev(f"u{i}", i, "x")], CHANGE),
            batch_id=str(i), mode="mor", auto_compact=False,
        )
    before = state(t)
    snap = compact(t)
    assert {f.kind for f in t.snapshot().files} == {"base"}
    assert state(t) == before  # compaction changes layout, not content
    # resolved base keeps exactly one row per key
    raw = t.scan(include_tombstones=True)
    assert raw.groupBy("url").count().filter("count > 1").count() == 0


def test_auto_compact_triggers(spark, tmp_path):
    t = make(spark, tmp_path, "t", **{"mor.compact.deltas": "3"})
    for i in range(4):
        merge_changes(
            t, spark.createDataFrame([ev("k", i, f"v{i}")], CHANGE),
            batch_id=str(i), mode="mor",
        )
    stats = t.delta_stats()
    assert all(s["delta_files"] < 3 for s in stats.values())  # folded
    assert state(t)["k"].text == "v3"
    ops = [s.summary["operation"] for s in t.history()]
    assert "compact" in ops


def test_cow_merge_over_mor_deltas(spark, tmp_path):
    """A CoW merge on a table carrying deltas must resolve them first."""
    t = make(spark, tmp_path, "t")
    merge_changes(t, spark.createDataFrame([ev("k", 1, "old"), ev("j", 2, "j1")], CHANGE),
                  batch_id="1", mode="mor", auto_compact=False)
    merge_changes(t, spark.createDataFrame([ev("k", 9, "new")], CHANGE),
                  batch_id="2", mode="cow")
    st = state(t)
    assert st["k"].text == "new" and st["j"].text == "j1"


def test_compact_drop_tombstones(spark, tmp_path):
    t = make(spark, tmp_path, "t")
    merge_changes(t, spark.createDataFrame([ev("k", 1, "v")], CHANGE), batch_id="1", mode="mor")
    merge_changes(t, spark.createDataFrame([ev("k", 2, None, op="delete")], CHANGE),
                  batch_id="2", mode="mor", auto_compact=False)
    compact(t, drop_tombstones=True)
    assert t.scan(include_tombstones=True).count() == 0  # fully cleaned


def test_mor_batch_metrics(spark, tmp_path):
    """MoR merges report per-batch op accounting (observed on the delta
    write), not just delta_rows."""
    import datetime as dt

    from pyspark.sql import Row, types as T

    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
    ])
    change = T.StructType(list(schema.fields) + [T.StructField("op", T.StringType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, key_col="url",
                         ts_col="warc_ts", tiebreak_col="offset", num_buckets=4)
    rows = [
        Row(url="a", warc_ts=dt.datetime(2024, 1, 1, 0, 0, 1), offset=1, op="upsert"),
        Row(url="b", warc_ts=dt.datetime(2024, 1, 1, 0, 0, 2), offset=2, op="upsert"),
        Row(url="c", warc_ts=dt.datetime(2024, 1, 1, 0, 0, 3), offset=3, op="delete"),
    ]
    r = merge_changes(t, spark.createDataFrame(rows, change), batch_id="m1", mode="mor")
    assert r.metrics["upserted"] == 2
    assert r.metrics["tombstoned"] == 1
    assert r.metrics["delta_rows"] == 3


def test_mor_size_based_compaction(spark, tmp_path):
    """mor.compact.delta-rows triggers compaction by delta volume even when
    the file-count threshold is far away."""
    import datetime as dt

    from pyspark.sql import Row, types as T

    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
    ])
    change = T.StructType(list(schema.fields) + [T.StructField("op", T.StringType())])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, key_col="url",
        ts_col="warc_ts", tiebreak_col="offset", num_buckets=1,
        properties={"mor.compact.deltas": "100", "mor.compact.delta-rows": "5"},
    )

    def batch(i, n):
        rows = [Row(url=f"k{j}", warc_ts=dt.datetime(2024, 1, 1, 0, 0, i), offset=i, op="upsert")
                for j in range(n)]
        return spark.createDataFrame(rows, change)

    merge_changes(t, batch(1, 3), batch_id="1", mode="mor")
    assert "compact" not in {s.summary["operation"] for s in t.history()}
    r = merge_changes(t, batch(2, 3), batch_id="2", mode="mor")  # 6 rows >= 5
    assert r.metrics.get("compacted_buckets") == 1
    assert "compact" in {s.summary["operation"] for s in t.history()}
    assert t.scan().count() == 3  # resolved state intact

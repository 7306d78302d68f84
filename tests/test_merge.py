"""MERGE semantics: upsert, insert-fallback, LWW ordering, deletes,
idempotent replay, partial updates, schema evolution mid-stream.

Re-expresses the reference's UpdateIngest test sequence
(PutGeoMesaAccumuloTest.scala:562-729) and the F2 event patterns in
FIXTURES.md.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.lake import (
    CompatibilityMode,
    LakeTable,
    SchemaCompatibilityError,
    merge_changes,
)

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

CHANGE = T.StructType(
    list(SCHEMA.fields) + [T.StructField("op", T.StringType())]
)


def ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=int(i))


def ev(url, i, text, op="upsert", lang="en"):
    return Row(url=url, warc_ts=ts(i), offset=int(i), text=text, lang=lang, op=op)


@pytest.fixture
def table(spark, tmp_path):
    return LakeTable.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        key_col="url",
        ts_col="warc_ts",
        tiebreak_col="offset",
        num_buckets=8,
    )


def state(table):
    rows = table.scan().collect()
    return {r.url: r for r in rows}


def test_insert_update_delete_roundtrip(spark, table):
    b1 = spark.createDataFrame(
        [ev("a", 1, "a1"), ev("b", 2, "b1"), ev("c", 3, "c1")], CHANGE
    )
    r1 = merge_changes(table, b1, batch_id="1")
    assert r1.metrics["inserted"] == 3

    # update a, delete b, insert d
    b2 = spark.createDataFrame(
        [ev("a", 10, "a2"), ev("b", 11, None, op="delete"), ev("d", 12, "d1")], CHANGE
    )
    r2 = merge_changes(table, b2, batch_id="2")
    assert r2.metrics == {**r2.metrics, "inserted": 1, "updated": 1, "deleted": 1}
    st = state(table)
    assert set(st) == {"a", "c", "d"}
    assert st["a"].text == "a2"


def test_update_before_insert_falls_back_to_insert(spark, table):
    # FeatureWriters.scala:143-147 — modify with no match appends
    b = spark.createDataFrame([ev("ghost", 5, "v1", op="update")], CHANGE)
    r = merge_changes(table, b, batch_id="1")
    assert r.metrics["inserted"] == 1
    assert state(table)["ghost"].text == "v1"


def test_within_batch_duplicates_lww(spark, table):
    # multi-match warn (FeatureWriters.scala:136-141) -> deterministic LWW
    b = spark.createDataFrame(
        [ev("k", 1, "old"), ev("k", 9, "new"), ev("k", 5, "mid")], CHANGE
    )
    merge_changes(table, b, batch_id="1")
    assert state(table)["k"].text == "new"


def test_out_of_order_late_event_loses(spark, table):
    merge_changes(table, spark.createDataFrame([ev("k", 100, "current")], CHANGE), batch_id="1")
    merge_changes(table, spark.createDataFrame([ev("k", 50, "stale")], CHANGE), batch_id="2")
    assert state(table)["k"].text == "current"
    # equal ts: tiebreak on offset
    merge_changes(
        table,
        spark.createDataFrame([Row(url="k", warc_ts=ts(100), offset=99, text="lower-off",
                                   lang="en", op="upsert")], CHANGE),
        batch_id="3",
    )
    assert state(table)["k"].text == "current"  # offset 99 < 100? no: insert had offset 100
    merge_changes(
        table,
        spark.createDataFrame([Row(url="k", warc_ts=ts(100), offset=101, text="higher-off",
                                   lang="en", op="upsert")], CHANGE),
        batch_id="4",
    )
    assert state(table)["k"].text == "higher-off"


def test_late_delete_loses(spark, table):
    merge_changes(table, spark.createDataFrame([ev("k", 100, "live")], CHANGE), batch_id="1")
    merge_changes(
        table,
        spark.createDataFrame([ev("k", 10, None, op="delete")], CHANGE),
        batch_id="2",
    )
    assert "k" in state(table)  # stale delete must not win


def test_tombstone_blocks_stale_resurrection(spark, table):
    # A delete applied first must not be undone by a replayed OLDER upsert
    # arriving in a later batch: final state is batching-order independent.
    merge_changes(table, spark.createDataFrame([ev("k", 10, None, op="delete")], CHANGE), batch_id="1")
    merge_changes(table, spark.createDataFrame([ev("k", 5, "stale")], CHANGE), batch_id="2")
    assert "k" not in state(table)
    # ...but a NEWER upsert resurrects the key
    merge_changes(table, spark.createDataFrame([ev("k", 20, "fresh")], CHANGE), batch_id="3")
    assert state(table)["k"].text == "fresh"


def test_newer_delete_refreshes_tombstone(spark, table):
    # delete@10 -> tombstone; delete@30 must ADVANCE the tombstone clock so
    # an upsert@20 replayed afterwards still loses (found via oracle diff)
    merge_changes(table, spark.createDataFrame([ev("k", 10, None, op="delete")], CHANGE), batch_id="1")
    merge_changes(table, spark.createDataFrame([ev("k", 30, None, op="delete")], CHANGE), batch_id="2")
    merge_changes(table, spark.createDataFrame([ev("k", 20, "mid")], CHANGE), batch_id="3")
    assert "k" not in state(table)


def test_delete_before_insert_tombstone(spark, table):
    # delete for a never-seen key arrives first; the older insert then loses
    merge_changes(table, spark.createDataFrame([ev("k", 10, None, op="delete")], CHANGE), batch_id="1")
    assert "k" not in state(table)
    merge_changes(table, spark.createDataFrame([ev("k", 3, "early")], CHANGE), batch_id="2")
    assert "k" not in state(table)


def test_delete_then_reinsert(spark, table):
    merge_changes(table, spark.createDataFrame([ev("k", 1, "v1")], CHANGE), batch_id="1")
    merge_changes(table, spark.createDataFrame([ev("k", 2, None, op="delete")], CHANGE), batch_id="2")
    assert "k" not in state(table)
    merge_changes(table, spark.createDataFrame([ev("k", 3, "v2")], CHANGE), batch_id="3")
    assert state(table)["k"].text == "v2"


def test_idempotent_replay(spark, table):
    b = spark.createDataFrame([ev("a", 1, "a1"), ev("b", 2, "b1")], CHANGE)
    merge_changes(table, b, batch_id="same")
    v = table.snapshot().version
    res = merge_changes(table, b, batch_id="same")  # replay committed batch
    assert res.skipped
    assert table.snapshot().version == v  # no new snapshot
    assert len(state(table)) == 2


def test_snapshot_ids_monotonic(spark, table):
    for i in range(3):
        merge_changes(
            table, spark.createDataFrame([ev(f"k{i}", i, f"v{i}")], CHANGE), batch_id=str(i)
        )
    versions = [s.version for s in table.history()]
    assert versions == sorted(versions) == list(range(len(versions)))


def test_partial_update_mode(spark, table):
    merge_changes(
        table,
        spark.createDataFrame([ev("a", 1, "orig", lang="en")], CHANGE),
        batch_id="1",
    )
    # partial update: only text provided -> lang preserved (UpdateGeoMesaRecord)
    partial_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("offset", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("op", T.StringType()),
        ]
    )
    b = spark.createDataFrame(
        [Row(url="a", warc_ts=ts(5), offset=5, text="patched", op="update"),
         Row(url="nomatch", warc_ts=ts(6), offset=6, text="x", op="update")],
        partial_schema,
    )
    r = merge_changes(table, b, batch_id="2", update_mode="partial")
    st = state(table)
    assert st["a"].text == "patched"
    assert st["a"].lang == "en"  # untouched column survives
    assert "nomatch" not in st  # no insert fallback
    assert r.metrics["rejected"] == 1  # counted as failure (:168-170)


def test_schema_evolution_additive_update_mode(spark, table):
    merge_changes(table, spark.createDataFrame([ev("a", 1, "a1")], CHANGE), batch_id="1")
    evolved = T.StructType(list(CHANGE.fields) + [T.StructField("title", T.StringType())])
    b = spark.createDataFrame(
        [Row(url="b", warc_ts=ts(2), offset=2, text="b1", lang="en", op="upsert", title="B!")],
        evolved,
    )
    merge_changes(table, b, batch_id="2", compat_mode=CompatibilityMode.UPDATE)
    assert "title" in table.schema().fieldNames()
    st = state(table)
    assert st["b"].title == "B!"
    assert st["a"].title is None  # old rows null-padded, no rewrite


def test_schema_modes_exact_existing(spark, table):
    merge_changes(table, spark.createDataFrame([ev("a", 1, "a1")], CHANGE), batch_id="1")
    evolved = T.StructType(list(CHANGE.fields) + [T.StructField("title", T.StringType())])
    b = spark.createDataFrame(
        [Row(url="c", warc_ts=ts(3), offset=3, text="c1", lang="en", op="upsert", title="C")],
        evolved,
    )
    with pytest.raises(SchemaCompatibilityError):
        merge_changes(table, b, batch_id="2", compat_mode=CompatibilityMode.EXACT)
    merge_changes(table, b, batch_id="3", compat_mode=CompatibilityMode.EXISTING)
    assert "title" not in table.schema().fieldNames()  # extra column dropped
    assert state(table)["c"].text == "c1"


def test_type_change_always_errors(spark, table):
    merge_changes(table, spark.createDataFrame([ev("a", 1, "a1")], CHANGE), batch_id="1")
    bad = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("offset", T.LongType()),
            T.StructField("text", T.IntegerType()),  # type changed
            T.StructField("op", T.StringType()),
        ]
    )
    b = spark.createDataFrame([Row(url="a", warc_ts=ts(2), offset=2, text=7, op="upsert")], bad)
    with pytest.raises(SchemaCompatibilityError):
        merge_changes(table, b, batch_id="2")


def test_missing_column_null_padded(spark, table):
    merge_changes(table, spark.createDataFrame([ev("a", 1, "a1")], CHANGE), batch_id="1")
    narrow = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("offset", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    b = spark.createDataFrame([Row(url="n", warc_ts=ts(2), offset=2, op="upsert")], narrow)
    merge_changes(table, b, batch_id="2")
    st = state(table)
    assert st["n"].text is None and st["n"].lang is None


def test_bucket_pruning_in_merge(spark, table):
    big = spark.createDataFrame([ev(f"u{i}", i, f"t{i}") for i in range(100)], CHANGE)
    merge_changes(table, big, batch_id="1")
    files_before = {f.path: f for f in table.snapshot().files}
    one = spark.createDataFrame([ev("u0", 1000, "patched")], CHANGE)
    merge_changes(table, one, batch_id="2")
    snap = table.snapshot()
    touched = set(snap.summary["touched_buckets"])
    assert len(touched) == 1  # single-key merge rewrites one bucket
    for f in snap.files:
        if f.bucket not in touched:
            assert f.path in files_before  # untouched buckets carried over
    assert state(table)["u0"].text == "patched"
    assert table.scan().count() == 100


def test_rewrite_fids(spark, table):
    from geomesa_nifi_spark.lake import rewrite_fids

    merge_changes(
        table,
        spark.createDataFrame(
            [ev("a", 1, "ta"), ev("b", 2, "tb"), ev("c", 3, "tc")], CHANGE
        ),
        batch_id="seed",
    )
    mapping = spark.createDataFrame(
        [Row(old_fid="a", new_fid="a2"), Row(old_fid="gone", new_fid="g2")]
    )
    r = rewrite_fids(table, mapping, batch_id="rw")
    st = state(table)
    # the row moved: payload and LWW order keys survive under the new key
    assert set(st) == {"a2", "b", "c"}
    assert st["a2"].text == "ta" and st["a2"].offset == 1
    assert r.metrics["fid_rewrites"] == 1
    assert r.metrics["fid_missing"] == 1  # unmatched old key = failure
    # old key left a tombstone: a stale replay of the original row cannot
    # resurrect it
    merge_changes(
        table, spark.createDataFrame([ev("a", 1, "ta")], CHANGE), batch_id="stale"
    )
    assert "a" not in state(table)
    # idempotent replay of the rewrite batch is a no-op
    assert rewrite_fids(table, mapping, batch_id="rw").skipped


def test_partial_update_visibility_column(spark, tmp_path):
    """Per-row visibility update through partial mode
    (UpdateGeoMesaRecord.scala:175-180: vis is an updatable attribute)."""
    from geomesa_nifi_spark.operators.visibility import filter_by_auths

    vis_schema = T.StructType(list(SCHEMA.fields) + [T.StructField("vis", T.StringType())])
    t = LakeTable.create(
        spark, str(tmp_path / "tv"), vis_schema,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=4,
    )
    rows = [
        Row(url="a", warc_ts=ts(1), offset=1, text="ta", lang="en", vis="user", op="upsert"),
        Row(url="b", warc_ts=ts(2), offset=2, text="tb", lang="en", vis="user", op="upsert"),
    ]
    change = T.StructType(list(vis_schema.fields) + [T.StructField("op", T.StringType())])
    merge_changes(t, spark.createDataFrame(rows, change), batch_id="1")
    # partial update: change ONLY a's visibility, payload untouched
    partial = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("vis", T.StringType()),
        T.StructField("op", T.StringType()),
    ])
    merge_changes(
        t,
        spark.createDataFrame(
            [Row(url="a", warc_ts=ts(5), offset=5, vis="user&admin", op="update")], partial
        ),
        batch_id="2",
        update_mode="partial",
    )
    st = {r.url: r for r in t.scan().collect()}
    assert st["a"].vis == "user&admin" and st["a"].text == "ta"
    user_view = {r.url for r in filter_by_auths(t.scan(), ["user"], vis_col="vis").collect()}
    assert user_view == {"b"}  # a now needs admin too


def test_post_dedup_transform_extracts_winners_only(spark, table):
    """The transform runs after per-batch LWW dedup: only the winner per key
    is transformed, schema reconcile sees the transformed shape, and the
    final state equals extract-then-merge."""
    from geomesa_nifi_spark.functions.extract import extract_pages

    html = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("offset", T.LongType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("op", T.StringType()),
        ]
    )
    rows = [
        Row(url="u1", warc_ts=ts(1), offset=1, html=b"<p>old cat</p>", op="upsert"),
        Row(url="u1", warc_ts=ts(5), offset=5, html=b"<p>the cat and the dog</p>", op="upsert"),
        Row(url="u2", warc_ts=ts(2), offset=2, html=b"<p>der und die von</p>", op="upsert"),
        Row(url="u3", warc_ts=ts(3), offset=3, html=None, op="delete"),
    ]
    batch = spark.createDataFrame(rows, html)
    merge_changes(
        table,
        batch,
        batch_id="pdt-0",
        post_dedup_transform=lambda df: extract_pages(df).drop("html"),
    )
    state = {r["url"]: (r["text"], r["lang"]) for r in table.scan().collect()}
    assert state == {
        "u1": ("the cat and the dog", "en"),
        "u2": ("der und die von", "de"),
    }


def test_post_dedup_transform_must_preserve_key_columns(spark, table):
    batch = spark.createDataFrame(
        [ev("u1", 1, "x")], CHANGE
    )
    with pytest.raises(ValueError, match="must preserve column"):
        merge_changes(
            table, batch, batch_id="pdt-bad",
            post_dedup_transform=lambda df: df.drop("url"),
        )


def _mixed_batches():
    """Batches exercising every resolution action: insert, update, late-lose,
    delete, tombstone refresh, resurrect, delete-before-insert."""
    return [
        [ev("a", 1, "a1"), ev("b", 1, "b1"), ev("c", 1, "c1")],
        [ev("a", 5, "a2"), ev("b", 0, "late"), ev("c", 6, None, op="delete"),
         ev("d", 2, None, op="delete")],  # delete-before-insert
        [ev("c", 3, "stale"), ev("d", 1, "too-old"), ev("a", 7, None, op="delete"),
         ev("e", 4, "e1")],
        [ev("a", 9, "back"), ev("c", 8, None, op="delete")],  # resurrect a; refresh c
    ]


@pytest.mark.parametrize("strategy", ["full_outer", "broadcast"])
def test_join_strategies_identical_state(spark, tmp_path, monkeypatch, strategy):
    monkeypatch.setattr(
        "geomesa_nifi_spark.lake.merge._pick_join_strategy", lambda *a: strategy
    )
    table = LakeTable.create(
        spark, str(tmp_path / f"t-{strategy}"), SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=8,
    )
    for i, rows in enumerate(_mixed_batches()):
        merge_changes(table, spark.createDataFrame(rows, CHANGE), batch_id=f"js-{i}")
    state = {r["url"]: (r["text"], r["offset"]) for r in table.scan().collect()}
    assert state == {"a": ("back", 9), "b": ("b1", 1), "e": ("e1", 4)}


@pytest.mark.parametrize("strategy", ["full_outer", "broadcast"])
def test_join_strategies_identical_partial_update(spark, tmp_path, monkeypatch, strategy):
    monkeypatch.setattr(
        "geomesa_nifi_spark.lake.merge._pick_join_strategy", lambda *a: strategy
    )
    table = LakeTable.create(
        spark, str(tmp_path / f"p-{strategy}"), SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=8,
    )
    merge_changes(
        table,
        spark.createDataFrame([ev("a", 1, "a1"), ev("b", 1, "b1")], CHANGE),
        batch_id="p-0",
    )
    upd = spark.createDataFrame(
        [Row(url="a", warc_ts=ts(5), offset=5, lang="fr"),
         Row(url="zz", warc_ts=ts(5), offset=5, lang="xx")],  # unmatched -> reject
        T.StructType([f for f in SCHEMA.fields if f.name != "text"]),
    )
    r = merge_changes(table, upd, batch_id="p-1", update_mode="partial")
    state = {x["url"]: (x["text"], x["lang"]) for x in table.scan().collect()}
    assert state == {"a": ("a1", "fr"), "b": ("b1", "en")}
    assert r.metrics.get("rejected") == 1


def test_broadcast_strategy_no_target_shuffle(spark, tmp_path):
    """The broadcast decomposition must never exchange the target side:
    the plan contains BroadcastHashJoins and no SortMergeJoin."""
    from geomesa_nifi_spark.lake.merge import _resolve

    table = LakeTable.create(
        spark, str(tmp_path / "bp"), SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=8,
    )
    merge_changes(table, spark.createDataFrame([ev("a", 1, "a1")], CHANGE), batch_id="b-0")
    src = spark.createDataFrame([ev("a", 2, "a2"), ev("x", 2, "x1")], CHANGE)
    from geomesa_nifi_spark.lake.table import DELETED_COL
    from pyspark.sql import functions as F

    tgt = table.scan(include_tombstones=True)
    resolved = _resolve(
        src=src, tgt=tgt, key="url", op_col="op", ts_col="warc_ts",
        tiebreak="offset", final_schema=SCHEMA, update_mode="full",
        bucket_expr=table.bucket_expr(), join_strategy="broadcast",
    )
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # One full-width target scan (the left_outer) + one key-pruned scan (the
    # matched-keys semi-join) — the round-2 decomposition paid three.
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "FileScan parquet" in ln]
    assert len(scans) == 2, plan
    key_only = [ln for ln in scans if "ReadSchema: struct<url:string>" in ln]
    assert len(key_only) == 1, "expected exactly one key-pruned target scan:\n" + plan


def test_auto_strategy_picks_broadcast_for_small_batch(spark, tmp_path):
    from geomesa_nifi_spark.lake.merge import _pick_join_strategy

    small = spark.createDataFrame([ev("a", 1, "x")], CHANGE).persist()
    small.count()
    assert _pick_join_strategy(small, 64 * 1024 * 1024) == "broadcast"
    assert _pick_join_strategy(small, 1) == "full_outer"
    small.unpersist()


def test_auto_strategy_requires_target_much_bigger(spark):
    """Broadcast only pays when the touched-bucket target dwarfs the batch
    (measured 2x slower at batch≈target size): the auto pick must take the
    SMJ for backfill-shaped batches even when they fit the size threshold."""
    from geomesa_nifi_spark.lake.merge import (
        BROADCAST_MIN_TARGET_RATIO,
        _pick_join_strategy,
    )

    src = spark.createDataFrame([ev(f"k{i}", 1, "x") for i in range(10)], CHANGE).persist()
    src.count()
    mb64 = 64 * 1024 * 1024
    # target barely bigger than the batch -> SMJ
    assert _pick_join_strategy(src, mb64, tgt_rows=10) == "full_outer"
    assert (
        _pick_join_strategy(src, mb64, tgt_rows=10 * BROADCAST_MIN_TARGET_RATIO - 1)
        == "full_outer"
    )
    # target >= ratio x batch -> broadcast
    assert (
        _pick_join_strategy(src, mb64, tgt_rows=10 * BROADCAST_MIN_TARGET_RATIO)
        == "broadcast"
    )
    # empty target (first batch): nothing to save by broadcasting
    assert _pick_join_strategy(src, mb64, tgt_rows=0) == "full_outer"
    src.unpersist()


def test_update_by_attribute(spark, table):
    """UpdateGeoMesaRecord attribute lookup (AttributeFilter,
    UpdateGeoMesaRecord.scala:248-259): one update row hits ALL stored rows
    sharing the lookup value; provided columns overwrite; unmatched lookup
    values are failures, not inserts."""
    from geomesa_nifi_spark.lake.merge import update_by_attribute

    merge_changes(
        table,
        spark.createDataFrame(
            [ev("a", 1, "en"), ev("b", 2, "en"), ev("c", 3, "de")], CHANGE
        ),
        batch_id="seed",
    )
    updates = spark.createDataFrame([("en", "REDACTED"), ("xx", "NOPE")],
                                    "text string, lang string")
    # lookup on the text column, overwrite lang
    r = update_by_attribute(table, updates, lookup_col="text", batch_id="uba")
    state = {x["url"]: (x["text"], x["lang"]) for x in table.scan().collect()}
    assert state == {
        "a": ("en", "REDACTED"),
        "b": ("en", "REDACTED"),
        "c": ("de", "en"),  # untouched row keeps its original lang
    }
    assert r.metrics["attr_update_rows"] == 2
    assert r.metrics["attr_lookup_values"] == 2
    # replay is exactly-once
    r2 = update_by_attribute(table, updates, lookup_col="text", batch_id="uba")
    assert r2.skipped


def test_update_by_attribute_rejects_lww_columns(spark, table):
    from geomesa_nifi_spark.lake.merge import update_by_attribute

    bad = spark.createDataFrame([("en", ts(9))], "text string, warc_ts timestamp")
    with pytest.raises(ValueError, match="key/LWW"):
        update_by_attribute(table, bad, lookup_col="text")

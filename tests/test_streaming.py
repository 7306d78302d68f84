"""Streaming replay: checkpointed resume, crash-recovery exactly-once,
batch-size control, lineage records."""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.functions.extract import extract_pages
from geomesa_nifi_spark.lake import (
    LakeTable,
    create_aggregate_view,
    last_refreshed_version,
    materialize,
)
from geomesa_nifi_spark.operators.dedup import lww_dedup
from geomesa_nifi_spark.sources.changegen import change_stream, write_replay_files
from geomesa_nifi_spark.streaming.lineage import lineage_records
from geomesa_nifi_spark.streaming.pipeline import _ViewRefresher, run_file_replay

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("offset", T.LongType()),
    ]
)

N_EVENTS = 600


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream") / "changes"
    events = change_stream(spark, N_EVENTS, n_keys=120, seed=11)
    files = write_replay_files(events, str(d), n_files=6)
    assert len(files) == 6
    return str(d)


def expected_final_count(spark, replay_dir):
    events = spark.read.parquet(replay_dir)
    final = lww_dedup(events, "url", ["warc_ts", "offset"], strategy="window")
    return final.filter(F.col("op") != "delete").count()


def make_table(spark, tmp_path, name="pages"):
    return LakeTable.create(
        spark, str(tmp_path / name), PAGES,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=8,
    )


def test_full_replay_matches_oracle(spark, tmp_path, replay_dir):
    t = make_table(spark, tmp_path)
    stats = run_file_replay(
        spark, t, replay_dir, str(tmp_path / "ckpt"), pipeline_id="p1",
        max_files_per_trigger=2,
    )
    assert stats.batches == 3  # 6 files / 2 per trigger — batch-size control
    assert t.scan().count() == expected_final_count(spark, replay_dir)
    # lineage: every merge commit has per-partition offset ranges
    recs = [r for r in lineage_records(t) if r["operation"] == "merge"]
    assert len(recs) == 3
    for r in recs:
        assert r["offset_ranges"] and all(
            x["min_offset"] <= x["max_offset"] for x in r["offset_ranges"]
        )
    # offsets across batches cover the full stream exactly once
    total = sum(x["rows"] for r in recs for x in r["offset_ranges"])
    assert total == N_EVENTS


def test_crash_resume_exactly_once(spark, tmp_path, replay_dir):
    """Kill mid-stream after 2 batches; restart must finish the replay and
    produce the identical final state, with no double-applied batch."""
    t = make_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    stats1 = run_file_replay(
        spark, t, replay_dir, ckpt, pipeline_id="p1", fail_after_batches=2
    )
    assert stats1.batches == 2  # crashed before batch 3
    mid_versions = t.snapshot().version

    stats2 = run_file_replay(spark, t, replay_dir, ckpt, pipeline_id="p1")
    assert t.scan().count() == expected_final_count(spark, replay_dir)
    # the ledger recorded each epoch exactly once
    bids = [r["batch_id"] for r in lineage_records(t) if r["batch_id"]]
    assert len(bids) == len(set(bids)) == 6
    assert mid_versions < t.snapshot().version


def test_restarted_checkpoint_skips_committed_batches(spark, tmp_path, replay_dir):
    """Blow away the checkpoint entirely: Structured Streaming re-delivers
    everything, the ledger's batch ids make the re-delivery a no-op."""
    t = make_table(spark, tmp_path)
    run_file_replay(spark, t, replay_dir, str(tmp_path / "ck1"), pipeline_id="p1")
    v = t.snapshot().version
    n = t.scan().count()
    stats = run_file_replay(spark, t, replay_dir, str(tmp_path / "ck2"), pipeline_id="p1")
    assert stats.skipped == stats.batches > 0
    assert t.snapshot().version == v  # no new commits
    assert t.scan().count() == n


def test_mor_mode_stream(spark, tmp_path, replay_dir):
    t = make_table(spark, tmp_path)
    stats = run_file_replay(
        spark, t, replay_dir, str(tmp_path / "ckpt"), pipeline_id="mor",
        write_mode="mor", max_files_per_trigger=2,
    )
    assert stats.batches == 3
    assert t.scan().count() == expected_final_count(spark, replay_dir)
    ops = {s.summary["operation"] for s in t.history()}
    assert "merge_mor" in ops


def test_mid_stream_schema_evolution(spark, tmp_path):
    """Additive schema change between replay runs: the resumed stream reads
    the widened schema (mergeSchema), the table evolves, old rows null-pad."""
    from pyspark.sql import functions as F

    d = tmp_path / "changes"
    base = change_stream(spark, 200, n_keys=50, seed=31)
    write_replay_files(base.drop("html"), str(d), n_files=2)
    narrow = T.StructType([f for f in PAGES.fields if f.name not in ("html", "title")])
    t = LakeTable.create(
        spark, str(tmp_path / "pages"), narrow,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=8,
    )
    ck = str(tmp_path / "ckpt")
    run_file_replay(spark, t, str(d), ck, pipeline_id="p", extract=False)
    assert "title" not in t.schema().fieldNames()

    # stream evolves: later files carry a new 'title' column
    more = (
        change_stream(spark, 200, n_keys=50, seed=32)
        .drop("html")
        .withColumn("offset", F.col("offset") + 200)
        .withColumn("title", F.concat(F.lit("T-"), F.col("url")))
    )
    staged = tmp_path / "more"
    more.coalesce(2).write.parquet(str(staged))
    import shutil

    parts = sorted(staged.glob("part-*.parquet"))
    assert parts
    for i, f in enumerate(parts):
        shutil.move(str(f), str(d / f"late-{i:05d}.parquet"))

    run_file_replay(spark, t, str(d), ck, pipeline_id="p", extract=False)
    assert "title" in t.schema().fieldNames()
    rows = t.scan().collect()
    titled = [r for r in rows if r.title is not None]
    untitled = [r for r in rows if r.title is None]
    assert titled and untitled  # new rows have it, old survivors null-padded
    assert all(r.title == f"T-{r.url}" for r in titled)


def test_quarantine_routing(spark, tmp_path):
    """Rows missing required fields land in the dead-letter table; the rest
    merge normally and lineage records the quarantined count."""
    from pyspark.sql import functions as F

    d = tmp_path / "changes"
    events = change_stream(spark, 200, n_keys=40, seed=13, payload="text")
    # corrupt a deterministic slice: null out url on every 10th event
    corrupted = events.withColumn(
        "url", F.when(F.pmod(F.col("offset"), F.lit(10)) == 0, None).otherwise(F.col("url"))
    )
    write_replay_files(corrupted.drop("html"), str(d), n_files=2)

    t = make_table(spark, tmp_path)
    q = str(tmp_path / "deadletter")
    stats = run_file_replay(
        spark, t, str(d), str(tmp_path / "ckpt"), pipeline_id="q",
        extract=False, quarantine_dir=q,
    )
    bad = spark.read.parquet(q)
    assert bad.count() == 20
    assert bad.filter(F.col("url").isNotNull()).count() == 0
    assert "_quarantine_batch" in bad.columns
    # table state contains no null-url rows and matches the clean-row oracle
    assert t.scan().filter(F.col("url").isNull()).count() == 0
    clean = spark.read.parquet(str(d)).filter(F.col("url").isNotNull())
    expected = (
        lww_dedup(clean, "url", ["warc_ts", "offset"], strategy="window")
        .filter(F.col("op") != "delete")
        .count()
    )
    assert t.scan().count() == expected
    # re-delivery (fresh checkpoint, same pipeline id -> same batch ids) must
    # not duplicate quarantine rows: the dead-letter write is gated on the
    # ledger's committed batch ids, like the merge itself
    stats2 = run_file_replay(
        spark, t, str(d), str(tmp_path / "ckpt2"), pipeline_id="q",
        extract=False, quarantine_dir=q,
    )
    assert stats2.skipped == stats2.batches
    assert spark.read.parquet(q).count() == 20


def _job_count(spark) -> int:
    """Cumulative Spark job count (AppStatusStore) — for asserting how many
    jobs a code path launches.  The status store is fed by the ASYNC
    listener bus, which lags under machine load; drain it first so the
    count is exact, not eventually-consistent."""
    sc = spark._jsc.sc()
    try:
        sc.listenerBus().waitUntilEmpty()
    except Exception:
        try:
            sc.listenerBus().waitUntilEmpty(30_000)
        except Exception:
            import time

            time.sleep(2)
    # max job id + 1, NOT the size of the retained-jobs list: the status
    # store evicts old entries past spark.ui.retainedJobs, so list-size
    # deltas go negative once a long session crosses the cap (seen when
    # this test runs late in the full suite) — job ids are monotonic.
    jobs = sc.statusStore().jobsList(None)
    mx = -1
    for i in range(jobs.size()):
        jid = jobs.apply(i).jobId()
        if jid > mx:
            mx = jid
    return mx + 1


def test_quarantine_is_single_job_per_batch(spark, tmp_path):
    """The dead-letter count rides the quarantine write via observe() — one
    job per batch for the whole quarantine path (the round-3 shape ran a
    separate full count() first), and a CLEAN batch leaves no empty
    batch dir behind."""
    import os

    from pyspark.sql import functions as F

    d = tmp_path / "changes"
    events = change_stream(spark, 100, n_keys=20, seed=17, payload="text")
    corrupted = events.withColumn(
        "url", F.when(F.pmod(F.col("offset"), F.lit(10)) == 0, None).otherwise(F.col("url"))
    )
    write_replay_files(corrupted.drop("html"), str(d), n_files=1)

    t = make_table(spark, tmp_path)
    q = str(tmp_path / "deadletter")
    before = _job_count(spark)
    run_file_replay(
        spark, t, str(d), str(tmp_path / "ckpt"), pipeline_id="qj",
        extract=False, quarantine_dir=q,
    )
    jobs_quarantined = _job_count(spark) - before

    # identical single-batch replay with NO quarantine routing at all
    t2 = make_table(spark, tmp_path, name="pages2")
    clean_dir = tmp_path / "clean"
    write_replay_files(events.drop("html").filter(F.col("url").isNotNull()),
                       str(clean_dir), n_files=1)
    before = _job_count(spark)
    run_file_replay(
        spark, t2, str(clean_dir), str(tmp_path / "ckpt2"), pipeline_id="qj2",
        extract=False,
    )
    jobs_plain = _job_count(spark) - before
    # the whole quarantine path (split + observed write) costs exactly ONE
    # extra job over the no-quarantine pipeline
    assert jobs_quarantined == jobs_plain + 1, (jobs_quarantined, jobs_plain)

    # a clean batch through the quarantine path leaves no batch dir
    t3 = make_table(spark, tmp_path, name="pages3")
    run_file_replay(
        spark, t3, str(clean_dir), str(tmp_path / "ckpt3"), pipeline_id="qj3",
        extract=False, quarantine_dir=str(tmp_path / "dl3"),
    )
    dl3 = str(tmp_path / "dl3")
    assert not os.path.isdir(dl3) or os.listdir(dl3) == []


def test_append_mode_stream(spark, tmp_path, replay_dir):
    t = make_table(spark, tmp_path)
    stats = run_file_replay(
        spark, t, replay_dir, str(tmp_path / "ckpt"), pipeline_id="bulk",
        write_mode="append", extract=True,
    )
    # append keeps every non-null event row (no dedup, no delete handling)
    events = spark.read.parquet(replay_dir)
    assert t.scan().count() == events.count()


def test_kafka_option_mapping():
    """Reference consumer properties -> Spark Kafka options
    (GetGeoMesaKafkaRecord.scala:313-451); pure mapping, no broker needed."""
    import pytest

    from geomesa_nifi_spark.streaming.kafka import KafkaConfigError, kafka_source_options

    plan = kafka_source_options({
        "brokers": "b1:9092,b2:9092",
        "topic": "changes",
        "group-id": "cdc",
        "batch-size": 5000,
        "initial-offset": "earliest",
        "consumer-count": 4,
        "max-latency-ms": 2000,
    })
    assert plan.options["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert plan.options["subscribe"] == "changes"
    assert plan.options["kafka.group.id"] == "cdc"
    assert plan.options["maxOffsetsPerTrigger"] == "5000"
    assert plan.options["startingOffsets"] == "earliest"
    assert plan.options["minPartitions"] == "4"
    assert plan.trigger_processing_time == "2000 milliseconds"
    assert plan.checkpoint_suffix == "kafka-cdc-changes"

    # defaults: latest offsets, no rate limit
    d = kafka_source_options({"brokers": "b", "topic": "t", "group-id": "g"})
    assert d.options["startingOffsets"] == "latest"
    assert "maxOffsetsPerTrigger" not in d.options
    assert d.trigger_processing_time is None

    with pytest.raises(KafkaConfigError):
        kafka_source_options({"topic": "t", "group-id": "g"})
    with pytest.raises(KafkaConfigError):
        kafka_source_options({"brokers": "b", "topic": "t", "group-id": "g",
                              "initial-offset": "somewhere"})
    with pytest.raises(KafkaConfigError):
        kafka_source_options({"brokers": "b", "topic": "t", "group-id": "g",
                              "batch-size": 0})


def test_streaming_view_refresh_with_crash_resume(spark, tmp_path, replay_dir):
    """A materialized view attached to the replay stays consistent through
    a mid-stream crash: the post-resume refresh covers the versions the
    crashed run committed but never refreshed."""
    from geomesa_nifi_spark.lake import create_aggregate_view

    t = make_table(spark, tmp_path)
    view = create_aggregate_view(
        spark, str(tmp_path / "mv"), t,
        group_cols=["lang"], metrics={"n": "count"}, num_buckets=4,
    )
    ckpt = str(tmp_path / "ckpt")
    run_file_replay(
        spark, t, replay_dir, ckpt, pipeline_id="p1",
        fail_after_batches=2, refresh_views=[view],
    )
    run_file_replay(
        spark, t, replay_dir, ckpt, pipeline_id="p1", refresh_views=[view],
    )
    got = {r["lang"]: r["n"] for r in view.scan().select("lang", "n").collect()}
    want = {
        r["lang"]: r["n"]
        for r in t.scan().groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and sum(got.values()) == expected_final_count(spark, replay_dir)


# -- background view refresh ------------------------------------------------

REFRESHER = "gns-view-refresher"


def _view(spark, tmp_path, t):
    return create_aggregate_view(
        spark, str(tmp_path / "mv"), t,
        group_cols=["lang"], metrics={"n": "count"}, num_buckets=4,
    )


def _assert_view_at_head(view, t):
    assert last_refreshed_version(view) == t.snapshot().version
    got = {r["lang"]: r["n"] for r in view.scan().select("lang", "n").collect()}
    want = {
        r["lang"]: r["n"]
        for r in t.scan().groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def _assert_no_refresher():
    assert REFRESHER not in {th.name for th in threading.enumerate()}


def test_replay_without_new_input_drains_views(spark, tmp_path, replay_dir):
    """A call that finds no new input still returns with its views at the
    table head: the drain on return refreshes them."""
    t = make_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    run_file_replay(spark, t, replay_dir, ckpt, pipeline_id="p1")
    view = _view(spark, tmp_path, t)
    stats = run_file_replay(
        spark, t, replay_dir, ckpt, pipeline_id="p1", refresh_views=[view],
    )
    assert stats.batches == 0
    _assert_view_at_head(view, t)
    _assert_no_refresher()


def test_injected_crash_drains_views(spark, tmp_path, replay_dir):
    t = make_table(spark, tmp_path)
    view = _view(spark, tmp_path, t)
    stats = run_file_replay(
        spark, t, replay_dir, str(tmp_path / "ckpt"), pipeline_id="p1",
        fail_after_batches=1, refresh_views=[view],
    )
    assert stats.batches == 1
    _assert_view_at_head(view, t)
    _assert_no_refresher()


def test_slow_view_refresh_coalesces_off_the_batch_path(
    spark, tmp_path, replay_dir, monkeypatch
):
    """A refresh slower than a micro-batch does not hold the stream back:
    batches keep committing, and the signals that arrive during one
    refresh fold into a single later refresh over the whole range."""
    original = materialize.refresh

    def slow_refresh(view, source):
        time.sleep(1.0)
        return original(view, source)

    monkeypatch.setattr(materialize, "refresh", slow_refresh)
    t = make_table(spark, tmp_path)
    view = _view(spark, tmp_path, t)
    stats = run_file_replay(
        spark, t, replay_dir, str(tmp_path / "ckpt"), pipeline_id="p1",
        refresh_views=[view],
    )
    assert stats.batches == 6
    bids = [r["batch_id"] for r in lineage_records(t) if r["batch_id"]]
    assert len(bids) == len(set(bids)) == 6
    view_commits = [r for r in lineage_records(view) if r["batch_id"]]
    assert 0 < len(view_commits) < stats.batches
    _assert_view_at_head(view, t)
    _assert_no_refresher()


def test_view_refresh_error_fails_the_replay(spark, tmp_path, replay_dir, monkeypatch):
    """A refresh error surfaces from run_file_replay (itself, or as the
    cause of the stream failure it triggered); committed batches stay
    committed once, and a re-run without the fault brings the view to the
    head."""
    original = materialize.refresh
    boom = RuntimeError("view refresh fault")
    calls = []

    def failing_refresh(view, source):
        calls.append(1)
        if len(calls) == 2:
            raise boom
        return original(view, source)

    monkeypatch.setattr(materialize, "refresh", failing_refresh)
    t = make_table(spark, tmp_path)
    view = _view(spark, tmp_path, t)
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception) as err:
        run_file_replay(
            spark, t, replay_dir, ckpt, pipeline_id="p1", refresh_views=[view],
        )
    assert boom in (err.value, err.value.__cause__)
    _assert_no_refresher()
    bids = [r["batch_id"] for r in lineage_records(t) if r["batch_id"]]
    assert bids and len(bids) == len(set(bids))

    monkeypatch.setattr(materialize, "refresh", original)
    run_file_replay(spark, t, replay_dir, ckpt, pipeline_id="p1", refresh_views=[view])
    bids = [r["batch_id"] for r in lineage_records(t) if r["batch_id"]]
    assert len(bids) == len(set(bids)) == 6
    _assert_view_at_head(view, t)
    _assert_no_refresher()


def test_refresher_loses_no_signal_under_contention(spark, tmp_path, monkeypatch):
    """Eight writers signal 1600 commits with a tiny switch interval: the
    refresher coalesces them, and the signals alone (before any drain)
    bring the last refresh to the final head."""
    lock = threading.Lock()
    head = [0]
    seen: list[int] = []

    def fake_refresh(view, source):
        with lock:
            seen.append(head[0])
        time.sleep(0.001)

    monkeypatch.setattr(materialize, "refresh", fake_refresh)
    writers, commits = 8, 200
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        refresher = _ViewRefresher(
            spark, SimpleNamespace(root=str(tmp_path), branch="main"), [object()]
        )

        def writer():
            for _ in range(commits):
                with lock:
                    head[0] += 1
                refresher.signal()

        threads = [threading.Thread(target=writer) for _ in range(writers)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(30)
            assert not th.is_alive()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            with lock:
                if seen and seen[-1] == writers * commits:
                    break
            time.sleep(0.01)
        assert seen[-1] == writers * commits
        assert len(seen) < writers * commits
        drain = threading.Thread(target=refresher.drain)
        drain.start()
        drain.join(30)
        assert not drain.is_alive()
    finally:
        sys.setswitchinterval(interval)
    _assert_no_refresher()

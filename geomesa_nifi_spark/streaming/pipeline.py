"""Checkpoint-resumable CDC replay: Structured Streaming -> extract -> MERGE.

Spark restatement of the reference's streaming contract
(``GetGeoMesaKafkaRecord.scala``, SURVEY.md §3.3):

  reference                                   here
  ---------                                   ----
  max batch size (:382-390)                   maxFilesPerTrigger / maxOffsetsPerTrigger
  max latency (:392-420)                      trigger processingTime / availableNow
  consumer group + commit-after-ack           checkpointLocation + ledger batch ids
    (:298-302)
  back-pressure Pause (:277-283)              inherent to micro-batch pull model

Exactly-once across crash/restart (SURVEY §7 hard-part 1): Structured
Streaming may re-deliver the last un-checkpointed micro-batch after a crash;
each merge commit records ``batch_id = "<pipeline_id>-<epoch_id>"`` in the
ledger, so the re-delivered batch is recognized and skipped.  The ledger —
not the checkpoint — is the source of truth for what reached the table.

The same `foreachBatch` body also serves the reference's *dynamic* writer
(append vs modify chosen per batch, ``FeatureWriters.scala:300-328``): pass
``write_mode="append"`` for bulk-load phases and the batch goes through the
no-join append path; the micro-batch boundary is the ordering barrier the
reference implements with flush-on-switch (:312).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_nifi_spark.functions.extract import extract_pages
from geomesa_nifi_spark.lake import materialize
from geomesa_nifi_spark.lake.evolution import CompatibilityMode
from geomesa_nifi_spark.lake.merge import MergeResult, append_only, merge_changes
from geomesa_nifi_spark.lake.table import LakeTable
from geomesa_nifi_spark.streaming.lineage import BatchMetrics, partition_offset_ranges


@dataclass
class ReplayStats:
    batches: int = 0
    skipped: int = 0
    rows: int = 0
    results: list[dict] = field(default_factory=list)


class _ViewRefresher:
    """One background thread that keeps ``views`` at the source head.

    Micro-batches only :meth:`signal` that the source moved; the thread
    refreshes every view to the head, and signals that arrive during a
    refresh fold into the next one, so one refresh covers several commits
    (refresh is range-based and exactly-once).  The thread reads the
    source through its own handle: ledger caches are per handle and not
    thread-safe (see ``Ledger``).  The first refresh error stops the
    thread; it is re-raised at the next :meth:`signal` and returned by
    :meth:`drain`."""

    THREAD_NAME = "gns-view-refresher"

    def __init__(self, spark: SparkSession, table: LakeTable, views: list[LakeTable]):
        self._source = LakeTable(spark, table.root, table.branch)
        self._views = views
        self._cond = threading.Condition()
        self._dirty = False
        self._draining = False
        self._error: Exception | None = None
        self._thread = InheritableThread(self._run, name=self.THREAD_NAME, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while True:
            with self._cond:
                self._cond.wait_for(lambda: self._dirty or self._draining)
                self._dirty = False
                last = self._draining
            try:
                for view in self._views:
                    materialize.refresh(view, self._source)
            except Exception as exc:
                with self._cond:
                    self._error = exc
                return
            if last:
                return

    def signal(self) -> None:
        """Mark the source as moved; raises a failed refresh's error."""
        with self._cond:
            if self._error is not None:
                raise self._error
            self._dirty = True
            self._cond.notify()

    def drain(self) -> Exception | None:
        """Refresh once more to the source head, stop the thread, and
        return the refresh error (if any)."""
        with self._cond:
            self._draining = True
            self._cond.notify()
        self._thread.join()
        return self._error


def _wap_cycle(
    table: LakeTable,
    branch_name: str,
    batch_id: str,
    write_into,
    wap_audit,
    wap_keep_branches: bool,
    attempts: int = 3,
) -> MergeResult:
    """One micro-batch Write-Audit-Publish cycle: stage on an isolated
    branch, audit the full post-merge staged state, publish atomically.
    Audit failure → drop staged work + ``audit_reject`` no-op commit
    (route-to-failure, exactly-once).  ``PublishConflict`` (a concurrent
    writer moved main past the fork) → drop, re-fork, re-stage, re-audit:
    the audit must always have validated the exact state main becomes."""
    from geomesa_nifi_spark.lake.table import PublishConflict

    for _attempt in range(attempts):
        if table.ledger.head_version(branch_name) is not None:
            table.drop_branch(branch_name)  # prior conflicted attempt
        staged = table.create_branch(branch_name)
        result = write_into(staged)
        if result.skipped:
            # raced: another process committed this batch id meanwhile
            table.drop_branch(branch_name)
            return result
        if wap_audit is not None and not wap_audit(staged, batch_id):
            staged_v = staged.snapshot().version
            table.drop_branch(branch_name)
            table.record_audit_reject(
                batch_id, reason="wap_audit", staged_version=staged_v
            )
            return MergeResult(
                snapshot=None, skipped=True, metrics={"reason": "audit_reject"}
            )
        try:
            table.publish_branch(branch_name)
            if not wap_keep_branches:
                table.drop_branch(branch_name)
            return result
        except PublishConflict:
            continue
    raise PublishConflict(
        f"WAP batch {batch_id}: main kept moving past the fork "
        f"({attempts} attempts); staged work left on {branch_name!r}"
    )


def run_file_replay(
    spark: SparkSession,
    table: LakeTable,
    source_dir: str,
    checkpoint_dir: str,
    pipeline_id: str = "cdc",
    max_files_per_trigger: int = 1,
    extract: bool = True,
    write_mode: str = "merge",  # merge (CoW) | mor | append
    compat_mode: CompatibilityMode = CompatibilityMode.UPDATE,
    metrics_path: str | None = None,
    collect_metrics: bool = True,
    fail_after_batches: int | None = None,
    quarantine_dir: str | None = None,
    required_cols: tuple[str, ...] = ("url", "warc_ts"),
    refresh_views: list[LakeTable] | None = None,
    wap: bool = False,
    wap_audit=None,  # Callable[[LakeTable, str], bool] | None
    wap_keep_branches: bool = False,
    handoff_offset_col: str | None = None,
) -> ReplayStats:
    """Replay parquet change files through the CDC pipeline until drained.

    Uses ``Trigger.AvailableNow`` so one call processes everything currently
    in ``source_dir`` in rate-limited micro-batches and stops — re-invoking
    with the same checkpoint resumes exactly where the last run (or crash)
    left off.  ``fail_after_batches`` injects a mid-stream crash for the
    resumability tests.

    ``extract`` runs the html->text UDF inside the merge, after per-batch
    LWW dedup: only winners are extracted and the raw html crosses one
    shuffle less — cheaper at any scale, identical final state (extraction
    is a pure per-row function).  The append path has no dedup, so it keeps
    the reference's literal order: convert every record, then write.

    ``refresh_views``: incremental materialized views (``lake/materialize``)
    advanced in the background, off the micro-batch path: each batch only
    signals one refresher thread, which refreshes every view to the table
    head and folds the signals that arrive meanwhile into one range.
    While the stream runs, a view lags the table by at most one refresh;
    whenever this call returns (drained input, injected crash or failure)
    the views are at the head, even if no new input was found.  A refresh
    error fails the stream at its next batch and is raised on return (a
    stream failure wins and chains it).  Refresh is range-based and
    exactly-once, so a crash between the table commit and the view
    refresh self-heals: the next refresh simply covers both versions.

    ``wap=True`` turns every micro-batch into a Write-Audit-Publish cycle
    (the NiFi staging-store + routing flow, as lake branches): the batch is
    staged on an isolated per-epoch branch (``wap-<batch_id>``), validated
    by ``wap_audit(branch_handle, batch_id) -> bool`` against the FULL
    post-merge staged state (not just the batch — the audit sees exactly
    what main would become), then published in one atomic metadata-only
    fast-forward.  Readers of main never observe a half-applied or
    unaudited batch.  An audit failure drops the staged work and commits a
    no-op ``audit_reject`` marker carrying the batch id, so a crash/restart
    re-delivery of a rejected batch is skipped instead of re-failing
    forever — route-to-failure, exactly-once.  Crash safety windows: before
    publish, the stale branch is dropped and the batch re-staged on
    re-delivery; after publish, the batch id rides the publish commit and
    re-delivery is skipped.  The per-epoch branch is dropped after
    publishing (``wap_keep_branches=True`` retains them); MoR/append-staged
    change rows stay readable through ``table_changes`` either way via the
    publish commit's ``published_commits``.

    ``handoff_offset_col``: when the table was loaded by
    ``bootstrap_load`` (snapshot-then-tail, ``lake/bootstrap.py``), name
    the change stream's position column and every micro-batch drops
    events at or below the recorded bootstrap high-water mark — a pure
    codegen literal filter, read from the ledger once (the bootstrap
    commit is immutable).  This is what makes pointing the tail at a
    stream that overlaps the snapshot safe, including the resurrection
    hazard of redelivered pre-snapshot upserts whose deletes are not
    redelivered.
    """
    hwm = None
    if handoff_offset_col is not None:
        from geomesa_nifi_spark.lake.bootstrap import bootstrap_hwm

        hwm = bootstrap_hwm(table)
    # mergeSchema: replay directories may mix files written before and after
    # an additive schema change (SURVEY §7 hard-part 3); older files are
    # null-padded for the new columns and the table evolves via compat_mode.
    schema = spark.read.option("mergeSchema", "true").parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    stats = ReplayStats()
    metrics = BatchMetrics(metrics_path)

    class _InjectedFailure(RuntimeError):
        pass

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        metrics.batch_start()
        if fail_after_batches is not None and stats.batches >= fail_after_batches:
            raise _InjectedFailure(f"injected crash before epoch {epoch_id}")
        batch_id = f"{pipeline_id}-{epoch_id}"
        if hwm is not None:
            batch = batch.filter(F.col(handoff_offset_col) > F.lit(hwm))
        offset_ranges = partition_offset_ranges(batch)
        post_dedup = extract and write_mode != "append"
        prepared = extract_pages(batch) if (extract and not post_dedup) else batch
        prepared = prepared.drop("partition") if "partition" in prepared.columns else prepared
        transform = (
            (lambda df: extract_pages(df).drop("html")) if post_dedup else None
        )
        lineage = {"offset_ranges": offset_ranges, "epoch_id": epoch_id}
        if quarantine_dir is not None:
            # failure routing (≙ the failure relationship + per-file failure
            # counts, DataStoreIngestProcessor.scala:100-115): rows missing a
            # required field go to the dead-letter table, the rest proceed
            from geomesa_nifi_spark.functions.convert import split_errors

            good, bad = split_errors(prepared, list(required_cols))
            # idempotent under crash/restart re-delivery: a batch the ledger
            # already committed must not duplicate its quarantine rows — and
            # the write itself is a deterministic per-batch directory with
            # overwrite semantics, so a crash *between* quarantine write and
            # ledger commit also can't double-write on retry
            if batch_id in table.committed_batch_ids():
                lineage["quarantined"] = 0
                prepared = good
            else:
                # ONE job: the count rides the quarantine write via observe
                # (the round-3 shape ran a full count() and then a second
                # pass to write).  A clean batch leaves an empty _SUCCESS
                # directory, removed below so quarantine readers only ever
                # see batch dirs with rows.
                from pyspark.sql import Observation

                q_obs = Observation(f"quarantine-{batch_id}")
                q_dir = f"{quarantine_dir}/batch={batch_id}"
                (
                    bad.observe(q_obs, F.count(F.lit(1)).alias("n"))
                    .withColumn("_quarantine_batch", F.lit(batch_id))
                    .write.mode("overwrite")
                    .parquet(q_dir)
                )
                n_bad = int(q_obs.get.get("n") or 0)
                if n_bad == 0:
                    import shutil

                    shutil.rmtree(q_dir, ignore_errors=True)
                lineage["quarantined"] = n_bad
                prepared = good
        def write_into(target: LakeTable) -> MergeResult:
            if write_mode == "append":
                return append_only(target, prepared, batch_id=batch_id, lineage=lineage)
            return merge_changes(
                target,
                prepared,
                batch_id=batch_id,
                compat_mode=compat_mode,
                lineage=lineage,
                collect_metrics=collect_metrics,
                mode="mor" if write_mode == "mor" else "cow",
                post_dedup_transform=transform,
            )

        if not wap:
            result = write_into(table)
        else:
            branch_name = f"wap-{batch_id}"
            # Drop stale staged work BEFORE the committed check: a batch id
            # whose only commit sits on a crashed attempt's branch counts in
            # the ledger-global id walk, and skipping on it would lose the
            # batch (staged ≠ published).  Dropping first makes a
            # staged-only id re-ingestable; a post-publish crash is still a
            # skip because published ids ride the publish commit itself.
            if table.ledger.head_version(branch_name) is not None:
                table.drop_branch(branch_name)
            if batch_id in table.committed_batch_ids():
                # re-delivery of a batch that already published (or was
                # audit-rejected): skip without touching any branch
                result = MergeResult(
                    snapshot=None, skipped=True,
                    metrics={"reason": "batch_committed"},
                )
            else:
                result = _wap_cycle(
                    table, branch_name, batch_id, write_into, wap_audit,
                    wap_keep_branches,
                )
        if refresher is not None:
            refresher.signal()
        rows = sum(r["rows"] for r in offset_ranges) if offset_ranges else 0
        stats.batches += 1
        stats.skipped += 1 if result.skipped else 0
        stats.rows += rows
        stats.results.append(
            metrics.batch_end(batch_id, rows, {"skipped": result.skipped, **result.metrics})
        )

    refresher = _ViewRefresher(spark, table, refresh_views) if refresh_views else None
    failure: Exception | None = None
    try:
        query = (
            stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        finally:
            if query.isActive:
                query.stop()
    except Exception as exc:  # surface only real failures, not the injected one
        if "_InjectedFailure" not in str(type(exc)) and "injected crash" not in str(exc):
            failure = exc
    finally:
        view_error = refresher.drain() if refresher is not None else None
    if failure is not None:
        if view_error is not None:
            raise failure from view_error
        raise failure
    if view_error is not None:
        raise view_error
    return stats

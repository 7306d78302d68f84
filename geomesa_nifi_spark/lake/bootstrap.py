"""Initial-snapshot bootstrap + incremental handoff.

The reference bulk-loads existing data with the append writer before a
flow switches to modify mode (per-file write-mode selection,
``mixins/FeatureWriters.scala:306-318``); binlog CDC systems call the
same shape "initial snapshot, then tail from the recorded position"
(Debezium's snapshot-then-stream).  This module implements the handoff
for the lake:

* :func:`bootstrap_load` — bulk-write a consistent source snapshot as
  BASE files (one sorted file per bucket, ledger zone maps collected),
  committed as ONE ledger snapshot with ``operation="bootstrap"`` that
  records the change-stream position high-water mark (``offset_hwm``).
  O(snapshot): no target read, no key join — the table must be empty.
* :func:`handoff_filter` — drops incoming change events the snapshot
  already reflects (``offset <= recorded hwm``), making ARBITRARY
  overlap redelivery safe.  The hazard it closes is resurrection: a
  plain source snapshot does not carry delete clocks, so a pre-cut
  upsert redelivered WITHOUT its pre-cut delete would win LWW against
  an absent row and re-insert a key the source had deleted.  With the
  position filter, correctness is independent of any correlation
  between the source's LWW timestamps and its stream positions.

Snapshots taken from one of this engine's own tables can carry
tombstones (``scan(include_tombstones=True)`` / ``table_changes``);
pass ``op_col`` and delete rows are written as tombstone rows, so the
delete clocks survive the bootstrap and even UNFILTERED redelivery
converges to the LWW of the full stream.

At 100 TB the bootstrap is the cheapest possible shape: one shuffle of
the snapshot on the bucket column into sorted per-bucket files — the
exact layout incremental merges and zone-map scans expect — and the
tail then proceeds with O(batch) MoR deltas.  Nothing here reads the
target or joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_nifi_spark.lake.merge import MergeResult
from geomesa_nifi_spark.lake.table import BUCKET_COL, DELETED_COL, LakeTable
from geomesa_nifi_spark.operators.dedup import lww_dedup

__all__ = ["bootstrap_load", "bootstrap_hwm", "handoff_filter"]

#: summary key recording the stream position reflected by the snapshot
HWM_KEY = "bootstrap_offset_hwm"


def bootstrap_load(
    table: LakeTable,
    snapshot_df: DataFrame,
    batch_id: str,
    offset_hwm: int | None = None,
    op_col: str | None = None,
    lineage: dict | None = None,
    max_records_per_file: int = 2_000_000,
    cluster_by: list[str] | None = None,
    cluster_bits: int | None = None,
) -> MergeResult:
    """Bulk-load a consistent source snapshot into an EMPTY table.

    ``snapshot_df`` is one row per key (LWW-deduped defensively on the
    table's (ts, tiebreak) order in case the caller hands a raw dump).
    If ``op_col`` is given, rows whose op is ``delete`` become tombstone
    rows — use this when the snapshot source preserves delete clocks
    (e.g. another lake table's ``include_tombstones`` scan).  Plain
    source snapshots have no op column and no tombstones; pair them with
    :func:`handoff_filter` on the tail.

    ``offset_hwm`` is the greatest change-stream position the snapshot
    reflects; it is recorded in the commit summary and read back by
    :func:`bootstrap_hwm` / :func:`handoff_filter`.

    Exactly-once: a ``batch_id`` already in the ledger short-circuits to
    ``skipped=True``, same as :func:`merge_changes`.

    ``cluster_by``: order rows within each bucket by these columns
    (one: linear sort; several: Z-order, ``lake/cluster.py``) instead of
    the key — the initial load is the one free chance to lay the whole
    table out for attribute-predicate pruning, since every row is being
    written anyway (afterwards it costs a ``compact(cluster_by=...)``
    rewrite).
    """
    base = table.snapshot()
    if str(batch_id) in table.committed_batch_ids():
        return MergeResult(snapshot=None, skipped=True, metrics={"reason": "batch_committed"})
    if base.files:
        raise ValueError(
            "bootstrap_load requires an empty table: it writes base files "
            "without reading or merging existing state — use merge_changes "
            f"for incremental batches ({len(base.files)} files present)"
        )

    ts_col = table.ts_col
    if ts_col is None or ts_col not in snapshot_df.columns:
        raise ValueError(f"bootstrap requires LWW ts column '{ts_col}' in the snapshot")
    order = [ts_col] + (
        [table.tiebreak_col]
        if table.tiebreak_col and table.tiebreak_col in snapshot_df.columns
        else []
    )
    src = lww_dedup(snapshot_df, table.key_col, order, strategy="maxby")

    deleted = (
        (F.col(op_col) == F.lit("delete"))
        if op_col and op_col in src.columns
        else F.lit(False)
    )
    schema = table.schema()
    out = src.select(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in src.columns
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in schema.fields
        ],
        deleted.alias(DELETED_COL),
    )
    nb = int(base.properties["num_buckets"])
    out = out.withColumn(BUCKET_COL, table.bucket_expr(num_buckets=nb))
    sort_exprs = None
    if cluster_by:
        from geomesa_nifi_spark.lake.cluster import DEFAULT_BITS, cluster_sort_exprs

        sort_exprs = cluster_sort_exprs(
            out, list(cluster_by), bits=cluster_bits or DEFAULT_BITS
        )
    files_for = table.appender(
        out, nb, max_records_per_file=max_records_per_file, sort_exprs=sort_exprs
    )

    # The empty-table requirement makes a lost commit race almost always a
    # rescale or property commit: re-verify emptiness and re-commit the same
    # files (table.appender rewrites them only under a changed modulus).
    def build(b):
        if b.files:
            raise ValueError(
                "bootstrap_load lost the commit race to a data commit: "
                "the table is no longer empty"
            )
        new_files = files_for(b)
        return {
            "schema_json": b.schema_json,
            "files": new_files,
            "properties": dict(b.properties),
            "summary": {
                "operation": "bootstrap",
                **({"clustered_by": list(cluster_by)} if cluster_by else {}),
                "batch_id": str(batch_id),
                "rows_written": sum(f.rows for f in new_files),
                HWM_KEY: int(offset_hwm) if offset_hwm is not None else None,
                "lineage": lineage or {},
            },
        }

    snap = table.optimistic_commit(build, base, batch_id=batch_id)
    if snap is None:
        return MergeResult(snapshot=None, skipped=True, metrics={"reason": "batch_committed"})
    return MergeResult(snapshot=snap, metrics={"bootstrapped": snap.summary["rows_written"]})


def bootstrap_hwm(table: LakeTable) -> int | None:
    """The recorded stream-position high-water mark of this table's
    bootstrap commit, or None if the table was never bootstrapped (or the
    bootstrap recorded no position)."""
    for snap in table.history():
        if snap.summary.get("operation") == "bootstrap":
            hwm = snap.summary.get(HWM_KEY)
            return int(hwm) if hwm is not None else None
    return None


def handoff_filter(
    table: LakeTable, changes: DataFrame, offset_col: str
) -> DataFrame:
    """Drop change events the bootstrap snapshot already reflects:
    ``offset_col > bootstrap_hwm``.  A pure codegen filter — the hwm is a
    literal from the ledger, no extra Spark job — so it composes with
    predicate pushdown on the change source.

    No-op (returns ``changes`` unchanged) when the table has no recorded
    bootstrap position: there is nothing to deduplicate against, and
    silently filtering on a default would hide data loss.
    """
    hwm = bootstrap_hwm(table)
    if hwm is None:
        return changes
    return changes.filter(F.col(offset_col) > F.lit(hwm))

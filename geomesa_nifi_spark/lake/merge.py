"""MERGE INTO for the ledger lake: idempotent, bucket-pruned, copy-on-write.

Re-expresses the reference's write paths as one declarative plan:

* ModifyWriter upsert with append fallback (``FeatureWriters.scala:115-160``)
  -> ``update_mode="full"``: matched rows replaced when the source wins
  last-writer-wins, unmatched sources inserted.
* ``UpdateGeoMesaRecord`` partial-column update, no insert fallback
  (``UpdateGeoMesaRecord.scala:52-230``) -> ``update_mode="partial"``:
  only the columns present in the source overwrite; unmatched sources are
  counted as failures (``:168-170``).
* Delete handling (north rule; the reference protocol's drop messages,
  ``GetGeoMesaKafkaRecord.scala:273``) -> ``op = 'delete'`` rows remove the
  key when they win LWW; a *late* delete (older event time than the stored
  row) loses, keeping replay deterministic under any batching.

Physical shape (what Catalyst executes):

    source batch
      -> LWW dedup (map-side-combining max_by aggregate, skew-immune)
      -> bucket id = pmod(xxhash64(key), B)      [codegen]
      -> touched-bucket set (tiny driver collect, <= B values)
    target
      -> ledger file pruning: ONLY files of touched buckets are read
    target UNION batch -> one groupBy(key): max_by of the row over
      (ts, tiebreak, _src) — the merge-on-read LWW rule, source wins ties
      -> per-key action (pure column expressions)
      -> observe() counters (inserted/updated/deleted/kept/rejected/tombstoned)
      -> one shuffle to _bucket, write one file set per touched bucket
    ledger commit: untouched buckets' files carried over; batch_id recorded
      -> replaying a committed batch is a no-op (exactly-once)

At 100 TB the dominant cost is rewriting touched buckets; choosing
``num_buckets`` so a batch touches a bounded fraction keeps the rewrite
O(batch-locality), and the batch side of the union is one deduped row per
key — orders of magnitude smaller than the target.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.lake import evolution
from geomesa_nifi_spark.lake.ledger import Snapshot, covered_buckets
from geomesa_nifi_spark.lake.table import BUCKET_COL, DELETED_COL, LakeTable
from geomesa_nifi_spark.operators.dedup import lww_dedup

OP_COL_DEFAULT = "op"
OP_DELETE = "delete"
#: cap on the driver-side collect of distinct attribute-lookup values in
#: update_by_attribute; beyond it the zone-map pruning is skipped (same
#: guard shape as visibility's MAX_DISTINCT_LABELS)
MAX_LOOKUP_VALUES = 10_000
#: CoW resolution's row-origin column: 0 = stored row, 1 = batch row
_SRC = "_src"


@dataclass
class MergeResult:
    snapshot: Snapshot | None
    skipped: bool = False
    metrics: dict = field(default_factory=dict)


def merge_changes(
    table: LakeTable,
    source: DataFrame,
    batch_id: str | None = None,
    op_col: str = OP_COL_DEFAULT,
    update_mode: str = "full",
    compat_mode: evolution.CompatibilityMode = evolution.CompatibilityMode.UPDATE,
    lineage: dict | None = None,
    collect_metrics: bool = True,
    max_records_per_file: int = 2_000_000,
    mode: str = "cow",
    auto_compact: bool = True,
    post_dedup_transform=None,
) -> MergeResult:
    """Apply a batch of change events to the table, exactly once.

    ``source`` columns: the table's key column, optionally ``op_col``
    (default op is upsert when absent), the table's ``ts_col`` (+ optional
    ``tiebreak_col``) for LWW ordering, plus any subset of data columns.
    Extra columns trigger schema reconciliation per ``compat_mode``.

    ``post_dedup_transform``: optional DataFrame -> DataFrame applied AFTER
    the per-batch LWW dedup and BEFORE schema reconcile/write.  For pure
    per-row derivations (the html->text extraction UDF), running them here
    instead of on the raw stream is strictly cheaper: only the one LWW
    winner per key is transformed (losers never reach the table), and the
    raw stream crosses one shuffle less.  The transform must keep the key,
    ts and op columns; the table's schema is reconciled against the
    *transformed* shape.

    ``mode``:
      * ``"cow"`` — copy-on-write: resolve against the touched buckets and
        rewrite them.  Read-optimal; write cost grows with table locality.
      * ``"mor"`` — merge-on-read: append the deduped batch (including
        tombstones) as *delta* files, no target read at all.  Write cost is
        O(batch); readers resolve LWW across base+deltas until
        ``auto_compact`` folds buckets whose delta count exceeds the table
        property ``mor.compact.deltas`` (default 8).  This is what keeps a
        10^10-event replay from rewriting the table once per batch.
    """
    key = table.key_col
    ts_col = table.ts_col
    tiebreak = table.tiebreak_col
    base = table.snapshot()

    # ---- exactly-once gate ------------------------------------------------
    if batch_id is not None and str(batch_id) in table.committed_batch_ids():
        return MergeResult(snapshot=None, skipped=True, metrics={"reason": "batch_committed"})

    if ts_col is None or ts_col not in source.columns:
        raise ValueError(f"merge requires LWW ts column '{ts_col}' in the source")
    order_cols = [ts_col] + ([tiebreak] if tiebreak and tiebreak in source.columns else [])

    # ---- LWW dedup to one row per key --------------------------------------
    # Runs before the reconcile casts: the comparison is source-internal, so
    # it is type-consistent whatever the incoming timestamp flavor is.
    src = lww_dedup(source, key, order_cols, strategy="maxby")
    if op_col not in src.columns:
        src = src.withColumn(op_col, F.lit("upsert"))
    if post_dedup_transform is not None:
        src = post_dedup_transform(src)
        for required in (key, ts_col, op_col):
            if required not in src.columns:
                raise ValueError(
                    f"post_dedup_transform must preserve column '{required}'"
                )

    # ---- schema reconcile (create/evolve/reject) on the final shape --------
    table_schema = table.schema()
    incoming = T.StructType([f for f in src.schema.fields if f.name != op_col])
    rec = evolution.reconcile(table_schema, incoming, mode=compat_mode)
    final_schema = rec.table_schema
    final_cols = [f.name for f in final_schema.fields]
    if rec.dropped:
        src = src.drop(*rec.dropped)
    # Coerce source columns to the table's declared types (covers the
    # ntz<->ltz pairs reconcile allows) so the bucket hash, the written
    # files and the CoW resolution all see the table's types.
    src_types = {f.name: f.dataType for f in src.schema.fields}
    for f in final_schema.fields:
        if f.name in src_types and src_types[f.name] != f.dataType:
            src = src.withColumn(f.name, F.col(f.name).cast(f.dataType))
    # Pin the bucket modulus to the snapshot this merge executes against; a
    # concurrent rescale() invalidates it, surfaces as CommitConflict, and
    # the commit's build re-buckets the batch under the new modulus.
    nb = int(base.properties["num_buckets"])
    src = src.withColumn(BUCKET_COL, table.bucket_expr(num_buckets=nb))

    if mode == "mor":
        # No target read and no bucket-discovery job: the single action is
        # the delta write itself; touched buckets fall out of the file list.
        if update_mode != "full":
            raise ValueError("merge-on-read supports full-row upserts only")
        return _merge_mor(
            table, src, base, rec, final_schema, batch_id, op_col,
            lineage, max_records_per_file, auto_compact, collect_metrics,
        )

    # The deduped source feeds two consumers (bucket discovery + the
    # resolution); persist it so the upstream read/extract/dedup chain runs
    # once.
    src_cached = src.persist()
    try:
        def plan(b):
            """(modulus, source bucketed under it, touched buckets) of a
            merge executing against snapshot ``b``."""
            b_nb = int(b.properties["num_buckets"])
            s = src_cached if b_nb == nb else src_cached.withColumn(
                BUCKET_COL, table.bucket_expr(num_buckets=b_nb)
            )
            touched = sorted(
                r[0] for r in s.select(BUCKET_COL).distinct().collect()
            )  # <= num_buckets rows: trivially driver-safe at any scale
            # sibling closure: after a lazy rescale an old-modulus file spans
            # several current buckets; rewriting any of them must rewrite all
            # (identity on tables without lazy debt) — this is also how lazy
            # debt migrates: the rewrite re-labels those rows under the
            # current modulus and retires the stamped file
            return b_nb, s, table.closure_buckets(touched, snapshot=b)

        mod, s, touched = plan(base)
        if not touched:
            return MergeResult(snapshot=None, skipped=True, metrics={"reason": "empty_batch"})
        prev = done = None  # last snapshot built on; its written resolution

        def build(b):
            nonlocal mod, s, touched, prev, done
            if int(b.properties["num_buckets"]) != mod:
                # lost the race to a rescale: the batch's bucket labels and
                # the touched set are stale under the new modulus — re-bucket
                # (cheap: the source is persisted), re-prune and redo.  A
                # LAZY rescale keeps every file path identical, so the
                # overlap test below alone would wrongly rebase.
                (mod, s, touched), done = plan(b), None
            elif (
                done is not None
                and _changed_buckets(prev, b, mod) & set(touched)
                and not _conflicts_are_compaction_only(table, prev, b, touched)
            ):
                # a concurrent commit added NEW logical content to one of
                # OUR buckets: the resolution we executed is stale — redo the
                # merge against the new head.  Every intervening commit on
                # our buckets being a compaction (a logical no-op fold of
                # the very files our scan read) keeps the resolution valid:
                # rebase instead, or a frequently-compacting concurrent MoR
                # writer starves a CoW writer (every redo loses the next
                # race too).  Disjoint buckets rebase without a rewrite.
                done = None
            prev = b
            if done is None:
                done = _resolve_and_write(
                    table, s, touched, b, final_schema, batch_id, op_col,
                    ts_col, tiebreak, update_mode, lineage, collect_metrics,
                    max_records_per_file,
                )
            new_files, summary, _ = done
            # merge with the base schema at commit time so a rebase after
            # losing to a schema-evolving commit keeps the winner's columns
            schema = evolution.merge_schemas(
                T.StructType.fromJson(json.loads(b.schema_json)), final_schema
            )
            return table.rewrite_parts(
                b, touched, new_files, summary, schema_json=schema.json()
            )

        snap = table.optimistic_commit(build, base, batch_id=batch_id)
        if snap is None:
            return MergeResult(snapshot=None, skipped=True, metrics={"reason": "batch_committed"})
        return MergeResult(snapshot=snap, metrics=done[2])
    finally:
        src_cached.unpersist()


def _merge_mor(
    table, src, base, rec, final_schema, batch_id, op_col,
    lineage, max_records_per_file, auto_compact, collect_metrics=True,
) -> MergeResult:
    """Append the deduped batch as delta files — no target read."""
    types = {f.name: f.dataType for f in final_schema.fields}
    out = src.select(
        *[
            (F.col(c).cast(t) if c in src.columns else F.lit(None).cast(t)).alias(c)
            for c, t in types.items()
        ],
        (F.col(op_col) == OP_DELETE).alias(DELETED_COL),
        F.col(BUCKET_COL),
    )
    obs = None
    if collect_metrics:
        # per-batch op accounting without a second pass: observed on the
        # delta write itself (upserted/tombstoned per batch, ≙ the CoW
        # merge's inserted/updated/deleted counters)
        obs = Observation(f"mor-{base.version + 1}")
        out = out.observe(
            obs,
            F.sum(F.when(F.col(DELETED_COL), 1).otherwise(0)).alias("tombstoned"),
            F.sum(F.when(~F.col(DELETED_COL), 1).otherwise(0)).alias("upserted"),
        )
    # Delta files never conflict with a concurrent commit's files, so a lost
    # race only re-bases the ledger entry on the new head — no data is
    # rewritten (contrast CoW, where a conflicting rewrite of the same
    # bucket must redo the merge).
    files_for = table.appender(
        out, int(base.properties["num_buckets"]),
        max_records_per_file=max_records_per_file, kind="delta",
    )
    if not files_for(base):
        return MergeResult(snapshot=None, skipped=True, metrics={"reason": "empty_batch"})

    def build(b):
        new_files = files_for(b)
        # Merge against the *current* base schema, not the pre-conflict one:
        # if we lost a race to a schema-evolving commit, republishing the
        # stale schema would silently drop the winner's added columns.
        committed = evolution.merge_schemas(
            T.StructType.fromJson(json.loads(b.schema_json)), final_schema
        )
        return {
            "schema_json": committed.json(),
            "files": b.files + new_files,
            "properties": dict(b.properties),
            "summary": {
                "operation": "merge_mor",
                "batch_id": str(batch_id) if batch_id is not None else None,
                "touched_buckets": sorted({f.bucket for f in new_files}),
                "rows_written": sum(f.rows for f in new_files),
                "lineage": lineage or {},
            },
        }

    snap = table.optimistic_commit(build, base, batch_id=batch_id)
    if snap is None:
        return MergeResult(snapshot=None, skipped=True, metrics={"reason": "batch_committed"})
    metrics = {"delta_rows": snap.summary["rows_written"]}
    if obs is not None:
        try:
            metrics.update({k: int(v or 0) for k, v in obs.get.items()})
        except Exception:
            # empty write: AQE collapses to an empty relation and the
            # CollectMetrics row never materializes (same guard as CoW)
            metrics["metrics_unavailable_empty_write"] = 1
    if auto_compact:
        # compaction is due on file-count (read amplification) OR delta-row
        # volume (resolution cost) — whichever a bucket crosses first;
        # mor.compact.delta-rows=0 disables the size trigger
        threshold = int(snap.properties.get("mor.compact.deltas", "8"))
        row_threshold = int(snap.properties.get("mor.compact.delta-rows", "0"))
        stats = table.delta_stats(snap)
        due = sorted(
            b
            for b, s in stats.items()
            if s["delta_files"] >= threshold
            or (row_threshold and s["delta_rows"] >= row_threshold)
        )
        if due:
            csnap = compact(table, buckets=due, max_records_per_file=max_records_per_file)
            metrics["compacted_buckets"] = len(due)
            return MergeResult(snapshot=csnap, metrics=metrics)
    return MergeResult(snapshot=snap, metrics=metrics)


def compact(
    table: LakeTable,
    buckets=None,
    max_records_per_file: int = 2_000_000,
    drop_tombstones: bool = False,
    cluster_by: list[str] | None = None,
    cluster_bits: int | None = None,
):
    """Fold delta files into resolved base files for the given buckets.

    Keeps tombstones by default — they still guard against stale replays;
    ``drop_tombstones`` is for aged cleanup once upstream guarantees no
    older event can arrive (e.g. retention horizon passed).

    ``cluster_by`` rewrites each bucket ORDERED BY those columns (one
    column: linear; several: Z-order via ``lake/cluster.py``) instead of
    the default key sort, so the rewritten files' ledger zone maps prune
    attribute predicates (``scan(where=...)``, ``update_by_attribute``) —
    the lakehouse analogue of the reference's store-side attribute index
    for read patterns that filter on non-key columns.  Trade-off: the
    bucket's key-range zone maps widen; cluster the buckets your attribute
    queries hit, keep key-sorted compaction where point lookups dominate.

    Optimistic concurrency (``LakeTable.optimistic_commit``): losing the
    commit race to a commit that did NOT touch this compaction's buckets
    is a pure REBASE (the already-written files re-commit against the new
    head — no rewrite); a conflicting commit that DID touch them (a new
    delta, a concurrent compact, a rescale) forces a redo from the new
    head, whose stale first-attempt files become vacuum orphans.  With
    three concurrent committers (two writers + a maintenance loop) this is
    what keeps auto-compaction from aborting a merge that already
    committed its deltas (observed in ``tools/multiwriter_soak.py``).
    """
    requested = list(buckets) if buckets is not None else None
    done = None  # (snapshot last built on, its modulus, closure, fold files)

    def build(base):
        nonlocal done
        nb = int(base.properties["num_buckets"])
        if done is not None:
            prev, fold_nb, closure, new_files = done
            if fold_nb != nb or _changed_buckets(prev, base, nb) & set(closure):
                done = None  # stale fold: redo against the new head
        if done is None:
            scope = requested
            if scope is None:
                # default scope: buckets with deltas to fold.  A clustering
                # request is a LAYOUT rewrite — base-only buckets are exactly
                # what it needs to reorder, so it defaults to every bucket
                # holding files.
                wanted_kinds = ("delta",) if not cluster_by else ("delta", "base")
                scope = sorted(
                    {
                        b
                        for f in base.files
                        if f.kind in wanted_kinds
                        for b in covered_buckets(f, nb)
                    }
                )
            if not scope:
                return None
            # sibling closure (lazy rescale): compacting a bucket that shares
            # an old-modulus file with siblings compacts the whole group —
            # which also MIGRATES those files to the current modulus (the
            # rewrite below labels rows with the current bucket_expr and
            # carries no modulus stamp)
            closure = table.closure_buckets(scope, snapshot=base)
            resolved = table.scan(
                snapshot=base, buckets=closure, include_tombstones=True
            )
            if drop_tombstones:
                resolved = resolved.filter(~F.col(DELETED_COL))
            out = resolved.withColumn(
                BUCKET_COL, table.bucket_expr(num_buckets=nb)
            )
            sort_exprs = None
            if cluster_by:
                from geomesa_nifi_spark.lake.cluster import (
                    DEFAULT_BITS,
                    cluster_sort_exprs,
                )

                sort_exprs = cluster_sort_exprs(
                    out, list(cluster_by), bits=cluster_bits or DEFAULT_BITS
                )
            new_files = table.write_files(
                out, base.version + 1, max_records_per_file, kind="base",
                sort_exprs=sort_exprs,
            )
        done = (base, nb, closure, new_files)
        return table.rewrite_parts(base, closure, new_files, summary={
            "operation": "compact",
            "batch_id": None,
            "touched_buckets": closure,
            "rows_written": sum(f.rows for f in new_files),
            **({"clustered_by": list(cluster_by)} if cluster_by else {}),
        })

    return table.optimistic_commit(build)


def _changed_buckets(old: "Snapshot", new: "Snapshot", nb: int) -> set[int]:
    """Buckets whose file set differs between two snapshots — the overlap
    test of every rewrite's rebase (any added/removed file's coverage)."""
    old_paths = {f.path for f in old.files}
    new_paths = {f.path for f in new.files}
    changed: set[int] = set()
    for f in new.files:
        if f.path not in old_paths:
            changed.update(covered_buckets(f, nb))
    for f in old.files:
        if f.path not in new_paths:
            changed.update(covered_buckets(f, nb))
    return changed


def migrate_layout(
    table: LakeTable,
    groups_per_commit: int = 64,
    max_records_per_file: int = 2_000_000,
):
    """Pay down lazy-rescale debt: rewrite every file still stamped with an
    old modulus under the table's CURRENT modulus, in bounded commits.

    After ``rescale(lazy=True)`` old-modulus files migrate organically as
    merges and compactions touch their buckets; this is the explicit
    background form — the Iceberg ``rewrite_data_files``-after-spec-change
    maintenance job.  Each round picks up to ``groups_per_commit`` sibling
    groups (one old-modulus file's coverage = one group) and compacts
    them, so a 10^5-file table migrates in many small commits that
    concurrent writers simply race against (optimistic, like any
    compaction) instead of one table-sized rewrite.  Returns the final
    snapshot (identity when no debt exists)."""
    while True:
        snap = table.snapshot()
        nb = int(snap.properties["num_buckets"])
        stale = [f for f in snap.files if (f.modulus or nb) != nb]
        if not stale:
            return snap
        groups = sorted({(f.modulus, f.bucket) for f in stale})[:groups_per_commit]
        buckets = sorted({b for (m, label) in groups for b in range(label, nb, m)})
        compact(table, buckets=buckets, max_records_per_file=max_records_per_file)


def _conflicts_are_compaction_only(table, base, newer, touched) -> bool:
    """True when every commit in (base, newer] whose file changes touch any
    of ``touched`` was a compaction.  Compaction folds delta files into base
    files WITHOUT changing logical row content — the exact files a reader of
    ``base`` already resolved — so a merge executed against ``base`` remains
    valid and may rebase its rewrite on ``newer``.  (A ``drop_tombstones``
    compaction is also safe: the rebased rewrite re-publishes tombstones the
    compaction dropped, which is conservative — they only ever *block* stale
    replays.)  Metadata-only: walks the snapshot file lists, no data IO."""
    t = set(touched)
    # Walk NEWER's parent chain back to BASE: version numbers are a global
    # sequence shared by every branch, so iterating the numeric range would
    # also visit unrelated branches' commits — the parent chain is the
    # branch-local history.  A chain that never reaches base (diverged, or
    # an expired intermediate) conservatively reports False (redo).
    chain: list = []
    s = newer
    while s.version != base.version:
        if s.parent_version is None or s.version <= base.version:
            return False
        try:
            p = table.snapshot(s.parent_version)
        except Exception:
            return False
        chain.append(s)
        s = p
    prev = base
    for s in reversed(chain):
        changed = _changed_buckets(prev, s, int(s.properties["num_buckets"]))
        if changed & t and s.summary.get("operation") != "compact":
            return False
        prev = s
    return True


def _resolve_and_write(
    table, src, touched, base, final_schema, batch_id, op_col,
    ts_col, tiebreak, update_mode, lineage, collect_metrics,
    max_records_per_file,
) -> tuple[list, dict, dict]:
    """Execute the CoW resolution of ``src`` against ``base``'s touched
    buckets and write it: ``(new files, commit summary, metrics)``."""
    key = table.key_col
    final_cols = [f.name for f in final_schema.fields]

    resolved = _resolve(
        src=src,
        tgt=table.scan(snapshot=base, buckets=touched, include_tombstones=True),
        key=key,
        op_col=op_col,
        ts_col=ts_col,
        tiebreak=tiebreak,
        final_schema=final_schema,
        update_mode=update_mode,
        bucket_expr=table.bucket_expr(
            num_buckets=int(base.properties["num_buckets"])
        ),
    )

    obs = None
    if collect_metrics:
        obs = Observation(f"merge-{base.version + 1}")
        resolved = resolved.observe(
            obs,
            F.sum(F.when(F.col("_action") == "insert", 1).otherwise(0)).alias("inserted"),
            F.sum(F.when(F.col("_action") == "update", 1).otherwise(0)).alias("updated"),
            F.sum(F.when(F.col("_action") == "delete", 1).otherwise(0)).alias("deleted"),
            F.sum(F.when(F.col("_action") == "keep", 1).otherwise(0)).alias("kept"),
            F.sum(F.when(F.col("_action") == "reject", 1).otherwise(0)).alias("rejected"),
            F.sum(F.when(F.col("_action") == "tombstone", 1).otherwise(0)).alias("tombstoned"),
        )

    # Opt-in CoW changelog (table property changelog.enabled): the bucket
    # rewrite has no row-level pre-image, so the per-batch change rows (the
    # src-winner subset of the resolution) are retained as side files listed
    # in the commit summary — invisible to scans, readable by table_changes.
    cl_enabled = str(base.properties.get("changelog.enabled", "false")).lower() == "true"
    if cl_enabled:
        resolved = resolved.persist()

    out = resolved.filter(F.col("_action") != "reject").select(
        *[F.col(c) for c in final_cols], F.col(DELETED_COL), F.col(BUCKET_COL)
    )

    new_files = table.write_files(out, base.version + 1, max_records_per_file)

    changelog_files = []
    if cl_enabled:
        changed = resolved.filter(
            F.col("_action").isin("insert", "update", "delete", "tombstone")
        ).select(*[F.col(c) for c in final_cols], F.col(DELETED_COL), F.col(BUCKET_COL))
        changelog_files = table.write_files(
            changed, base.version + 1, max_records_per_file, kind="changelog"
        )
        resolved.unpersist()

    metrics: dict = {}
    if obs is not None:
        try:
            metrics = {k: int(v or 0) for k, v in obs.get.items()}
        except Exception:
            # AQE collapses an all-rows-filtered write to an empty relation
            # and the CollectMetrics row never materializes; the write itself
            # is fine (zero data rows) — record what we know.
            metrics = {"metrics_unavailable_empty_write": 1}

    summary = {
        "operation": "merge",
        "batch_id": str(batch_id) if batch_id is not None else None,
        "update_mode": update_mode,
        "touched_buckets": touched,
        "rows_written": sum(f.rows for f in new_files),
        "changelog_files": [f.to_json() for f in changelog_files],
        **metrics,
        "lineage": lineage or {},
    }
    return new_files, summary, metrics


def append_only(
    table: LakeTable,
    source: DataFrame,
    batch_id: str | None = None,
    lineage: dict | None = None,
    max_records_per_file: int = 2_000_000,
) -> MergeResult:
    """Blind append (reference AppendWriter, ``FeatureWriters.scala:104-106``).

    No target read, no key lookup — new files land in their buckets and the
    ledger adds them without replacing anything.  Key uniqueness is the
    caller's contract, exactly as with the reference's append mode.
    """
    base = table.snapshot()
    if batch_id is not None and str(batch_id) in table.committed_batch_ids():
        return MergeResult(snapshot=None, skipped=True, metrics={"reason": "batch_committed"})
    cols = [f.name for f in table.schema().fields]
    out = source.select(
        *[
            (F.col(c).cast(f.dataType) if c in source.columns else F.lit(None).cast(f.dataType)).alias(c)
            for c, f in zip(cols, table.schema().fields)
        ]
    )
    nb = int(base.properties["num_buckets"])
    # A blind append is content-independent of the base snapshot, so a lost
    # commit race re-commits the SAME already-written files on top of the
    # newer snapshot (no data rewrite, no orphan part files — unlike a naive
    # caller-level retry).
    files_for = table.appender(
        out.withColumn(BUCKET_COL, table.bucket_expr(num_buckets=nb)), nb,
        max_records_per_file=max_records_per_file,
    )

    def build(b):
        new_files = files_for(b)
        return {
            "schema_json": b.schema_json,
            "files": b.files + new_files,
            "properties": dict(b.properties),
            "summary": {
                "operation": "append",
                "batch_id": str(batch_id) if batch_id is not None else None,
                "rows_written": sum(f.rows for f in new_files),
                "lineage": lineage or {},
            },
        }

    snap = table.optimistic_commit(build, base, batch_id=batch_id)
    if snap is None:
        return MergeResult(snapshot=None, skipped=True, metrics={"reason": "batch_committed"})
    return MergeResult(snapshot=snap, metrics={"appended": snap.summary["rows_written"]})


def rewrite_fids(
    table: LakeTable,
    mapping: DataFrame,
    old_col: str = "old_fid",
    new_col: str = "new_fid",
    batch_id: str | None = None,
    lineage: dict | None = None,
) -> MergeResult:
    """Feature-id rewrite: change the key of existing rows in place
    (``UpdateGeoMesaRecord.scala:175-180`` — the reference removes the old
    feature and writes it back under the new id).

    Composed on the engine's own CDC merge: each matched row becomes a
    tombstone under the old key plus an upsert under the new key, carrying
    the stored row's LWW order keys so both win against the stored state
    (source wins ties).  One merge batch, bucket-pruned on both the old and
    new keys — O(touched buckets) at any table size.  Mapping rows whose old
    key doesn't exist are counted as failures (``:168-170``), not inserted.
    """
    key = table.key_col
    data_cols = [f.name for f in table.schema().fields]
    m = mapping.select(
        F.col(old_col).cast("string").alias("_m_old"),
        F.col(new_col).cast("string").alias("_m_new"),
    )
    # bucket pruning from the mapping's old keys: <= num_buckets rows
    buckets = sorted(
        r[0]
        for r in m.select(table.bucket_expr(F.col("_m_old")).alias("b")).distinct().collect()
    )
    cur = table.scan(buckets=buckets)
    matched = cur.join(F.broadcast(m), cur[key] == F.col("_m_old"), "inner")
    moved = matched.select(
        *[F.col("_m_new").alias(key) if c == key else F.col(c) for c in data_cols],
        F.lit("upsert").alias(OP_COL_DEFAULT),
    )
    # The tombstone must strictly dominate the stored row (not just tie it),
    # or a stale replay of the original row would resurrect the old key —
    # the rewrite is an action that happened *after* the stored state, so its
    # tiebreak advances by one.
    tiebreak = table.tiebreak_col
    dropped = matched.select(
        F.col(key),
        F.col(table.ts_col),
        *([(F.col(tiebreak) + F.lit(1)).alias(tiebreak)] if tiebreak else []),
        F.lit(OP_DELETE).alias(OP_COL_DEFAULT),
    )
    # n_matched piggybacks on the merge's own first action via observe() —
    # no separate job recomputing the bucket-scan join.  n_mapped is one
    # count over the (tiny, broadcastable) mapping frame.
    n_mapped = m.count()
    obs = Observation("fid-rewrite")
    batch = moved.unionByName(dropped, allowMissingColumns=True).observe(
        obs,
        F.sum(
            F.when(F.col(OP_COL_DEFAULT) == "upsert", 1).otherwise(0)
        ).alias("moved_rows"),
    )
    result = merge_changes(
        table,
        batch,
        batch_id=batch_id,
        lineage={**(lineage or {}), "operation": "rewrite_fids"},
    )
    if result.skipped and result.metrics.get("reason") == "batch_committed":
        # exactly-once replay: no action ran over the batch, obs.get would
        # block forever — the original merge already recorded the counts
        return result
    # (an "empty_batch" skip DID run the bucket-discovery action, so the
    # observation is recorded: fid_rewrites=0, fid_missing=n_mapped)
    n_matched = int(obs.get.get("moved_rows") or 0)
    result.metrics["fid_rewrites"] = n_matched
    result.metrics["fid_missing"] = n_mapped - n_matched
    return result


def delete_where(
    table: LakeTable,
    where: list[tuple],
    batch_id: str | None = None,
    lineage: dict | None = None,
    mode: str = "cow",
) -> MergeResult:
    """``DELETE FROM table WHERE <predicate>`` as tombstone writes.

    The reference deletes features by running an attribute query and
    removing every match (the store-side delete behind
    ``UpdateGeoMesaRecord``'s modify semantics); the engine's analogue is:
    zone-map-pruned scan of the CURRENT matches (``where`` is a
    ``stats.OPS`` conjunction, so only files whose min/max admit the
    predicate are read), projected to key + LWW order keys only, merged as
    ``op='delete'``.  The tombstone carries the victim's clock with the
    tiebreak advanced by one (the ``update_by_attribute`` trick): it
    dominates the stored row, and a RE-DELIVERED copy of the victim row —
    which ties the victim's original clock, and order-key ties break
    toward the source — still loses to the tombstone, keeping the delete
    batching- and replay-order-independent.  On a table with no tiebreak
    column the tombstone reuses the victim's ts unchanged and wins via
    the source-preference tie rule; an exact re-delivery of the victim
    row would then tie back — declare a tiebreak column on tables that
    must survive at-least-once upstreams (the engine's default shape).

    Cost: one pruned scan of key+order columns + one merge of O(matches)
    rows.  At 100 TB a selective predicate touches only the files whose
    zone maps admit it; the merge then prunes to the matched keys'
    buckets like any CDC batch.  ``mode="mor"`` appends the tombstones as
    delta files without reading the target at all.
    """
    key = table.key_col
    ts_col = table.ts_col
    tiebreak = table.tiebreak_col
    if ts_col is None:
        raise ValueError("delete_where needs an LWW ts_col on the table")
    cur = table.scan(where=list(where))
    batch = cur.select(
        key,
        ts_col,
        *([(F.col(tiebreak) + F.lit(1)).alias(tiebreak)] if tiebreak else []),
    ).withColumn(OP_COL_DEFAULT, F.lit(OP_DELETE))
    return merge_changes(
        table,
        batch,
        batch_id=batch_id,
        mode=mode,
        lineage={
            **(lineage or {}),
            "operation": "delete_where",
            "where": [[c, op, str(v)] for c, op, v in where],
        },
    )


def update_by_attribute(
    table: LakeTable,
    updates: DataFrame,
    lookup_col: str,
    batch_id: str | None = None,
    lineage: dict | None = None,
    index: "LakeTable | None" = None,
) -> MergeResult:
    """``UpdateGeoMesaRecord`` with a non-id lookup column
    (``UpdateGeoMesaRecord.scala:248-259`` ``AttributeFilter``; ``:172-183``
    updates ALL matching rows): each update row addresses EVERY stored row
    whose ``lookup_col`` equals its value; only the provided columns
    overwrite; no insert fallback — unmatched lookup values are counted as
    failures (``:168-170``).

    Composed on the engine's partial-update merge: matched stored keys are
    resolved by one equi-join, and the update batch carries each stored
    row's LWW order keys advanced by one tiebreak so it dominates the
    stored state.  Rows with the same lookup value all receive the same
    update (set semantics); if ``updates`` carries duplicate lookup values
    the winner among them is unspecified, exactly like the reference's
    iteration order.

    Scan shape: attribute lookups have no bucket pruning, but the ledger's
    zone maps stand in for the reference's store-side attribute index
    (``UpdateGeoMesaRecord.scala:154-166``) — the distinct lookup values
    are collected driver-side (bounded, like the reference's in-memory
    filter list) and only files whose recorded [min, max] for
    ``lookup_col`` admits one of them are read.  Batches with more than
    ``MAX_LOOKUP_VALUES`` distinct values fall back to the full scan
    rather than collect unboundedly.

    With ``index`` (an attribute index over ``lookup_col``,
    ``lake/index.py``) the read goes through the reference's exact shape —
    the store-side attribute index (``UpdateGeoMesaRecord.scala:154-166``):
    the index is first refreshed to the table head (an incremental ledger
    diff over only the buckets touched since its last refresh, NOT a table
    scan), then the lookup opens O(1) index buckets + O(matches) source
    files.  At CDC steady state that replaces the zone-map file scan with
    work proportional to the delta since the last attribute update.
    """
    key = table.key_col
    ts_col = table.ts_col
    tiebreak = table.tiebreak_col
    data_cols = [c for c in updates.columns if c != lookup_col]
    if not data_cols:
        raise ValueError("updates must provide at least one non-lookup column")
    for reserved in (key, ts_col, tiebreak):
        if reserved and reserved in data_cols:
            raise ValueError(
                f"updates may not overwrite the key/LWW column {reserved!r}"
            )
    m = updates.select(
        F.col(lookup_col).alias("_lk"),
        *[F.col(c).alias(f"_u_{c}") for c in data_cols],
    )
    # one bounded collect replaces the round-3 distinct().count() action:
    # it yields n_lookups AND the zone-map pruning predicate
    vals = [
        r[0] for r in m.select("_lk").distinct().limit(MAX_LOOKUP_VALUES + 1).collect()
    ]
    n_lookups = len(vals)
    if index is not None and 0 < n_lookups <= MAX_LOOKUP_VALUES and all(
        v is not None for v in vals
    ):
        from geomesa_nifi_spark.lake.index import index_lookup, refresh_attr_index

        if index.snapshot().properties.get("aidx.source_col") != lookup_col:
            raise ValueError(
                f"index at {index.root} does not index column {lookup_col!r}"
            )
        # bring the index to head so the lookup is exact (incremental:
        # only buckets touched since the last refresh are diffed)
        refresh_attr_index(index, table)
        cur = index_lookup(table, index, vals)
    elif 0 < n_lookups <= MAX_LOOKUP_VALUES and all(v is not None for v in vals):
        cur = table.scan(where=[(lookup_col, "in", vals)])
    else:
        # over the guard: full scan, and n_lookups reports the bound rather
        # than paying a second whole-source distinct() just for the metric
        cur = table.scan()
    matched = cur.join(m, cur[lookup_col] == F.col("_lk"), "inner")
    batch = matched.select(
        F.col(key),
        F.col(ts_col),
        *([(F.col(tiebreak) + F.lit(1)).alias(tiebreak)] if tiebreak else []),
        *[F.col(f"_u_{c}").alias(c) for c in data_cols],
    )
    obs = Observation("update-by-attr")
    batch = batch.observe(obs, F.count(F.lit(1)).alias("matched_rows"))
    result = merge_changes(
        table,
        batch,
        batch_id=batch_id,
        update_mode="partial",
        lineage={**(lineage or {}), "operation": "update_by_attribute",
                 "lookup_col": lookup_col},
    )
    if result.skipped and result.metrics.get("reason") == "batch_committed":
        return result
    n_matched = int(obs.get.get("matched_rows") or 0)
    # row-level accounting, like the reference's per-record counters
    result.metrics["attr_update_rows"] = n_matched
    result.metrics["attr_lookup_values"] = n_lookups
    if n_lookups > MAX_LOOKUP_VALUES:
        result.metrics["attr_lookup_values_truncated"] = True  # lower bound
    return result




def _resolve(
    src: DataFrame,
    tgt: DataFrame,
    key: str,
    op_col: str,
    ts_col: str,
    tiebreak: str | None,
    final_schema: T.StructType,
    update_mode: str,
    bucket_expr,
) -> DataFrame:
    """Per-key CDC resolution: ``target ∪ batch`` folded by one
    ``groupBy(key)`` ``max_by`` — the last-writer-wins rule merge-on-read
    reads and compaction apply.

    The order is ``(ts, tiebreak if the batch carries it, _src)``.  The scan
    leaves at most one target row per key (``_src=0``) and the batch is
    deduped (``_src=1``), so the order is total per key: the source wins
    exact ties and a null order component loses (as in ``lww_dedup``).

    Deletes produce **tombstones**: the row is kept with ``_deleted=true``
    and its LWW order keys, so an older upsert replayed *after* the delete
    still loses — the final state is independent of how the stream was
    batched (SURVEY.md §7 hard-part 1/2).  Public scans filter tombstones.
    """
    types = {f.name: f.dataType for f in final_schema.fields}
    provided = {c for c in types if c in src.columns}

    def side(df, cols, deleted, tag):
        return df.select(
            *[
                (F.col(c) if c in cols else F.lit(None)).cast(t).alias(c)
                for c, t in types.items()
            ],
            deleted.alias(DELETED_COL),
            F.lit(tag).alias(_SRC),
        )

    # a column the evolving batch adds is absent from the stored files: the
    # target side reads it as null
    u = side(tgt, set(tgt.columns), F.col(DELETED_COL), 0).unionByName(
        side(src, provided, F.coalesce(F.col(op_col) == OP_DELETE, F.lit(False)), 1)
    )
    order = F.struct(ts_col, *([tiebreak] if tiebreak in provided else []), _SRC)
    data = [c for c in types if c != key]
    aggs = [
        # the whole winning row in ONE max_by: CoW writes every column, so
        # per-column aggregates would only repeat the order comparison
        F.max_by(F.struct(*data, DELETED_COL, _SRC), order).alias("_w"),
        (F.min(_SRC) == 0).alias("_has_tgt"),
        F.max((F.col(_SRC) == 0) & F.col(DELETED_COL)).alias("_tgt_dead"),
    ]
    # partial update: a column the batch does not provide keeps the TARGET's
    # value on update (min_by over _src picks the target row)
    kept = [c for c in data if c not in provided] if update_mode == "partial" else []
    if kept:
        aggs.append(F.min_by(F.struct(*kept), _SRC).alias("_t"))
    resolved = u.groupBy(key).agg(*aggs)

    src_wins = F.col("_w")[_SRC] == 1
    is_delete = F.col("_w")[DELETED_COL]  # the source op when it wins
    tgt_live = F.col("_has_tgt") & ~F.col("_tgt_dead")
    action = (
        F.when(src_wins & is_delete & tgt_live, "delete")
        # newer delete over a tombstone, or delete-before-insert: a tombstone
        # with the delete's order keys, else an upsert between the two delete
        # timestamps could resurrect
        .when(src_wins & is_delete, "tombstone")
        .when(src_wins & ~tgt_live, "insert")  # new key, or resurrect
        .when(src_wins, "update")
        .otherwise("keep")
    )
    if update_mode == "partial":
        # UpdateGeoMesaRecord: no insert fallback; unmatched sources are
        # failures (UpdateGeoMesaRecord.scala:168-170).
        action = F.when(src_wins & ~F.col("_has_tgt"), "reject").otherwise(action)
    resolved = resolved.withColumn("_action", action)

    def value(c):
        if c == key:
            return F.col(key)
        if c in kept:
            # the target's value where the row stays or is updated in place;
            # an inserted or deleted row has nothing to keep
            return F.when(F.col("_action").isin("update", "keep"), F.col("_t")[c])
        return F.col("_w")[c]

    return resolved.select(
        *[value(c).alias(c) for c in types],
        F.col("_w")[DELETED_COL].alias(DELETED_COL),
        "_action",
    ).withColumn(BUCKET_COL, bucket_expr)

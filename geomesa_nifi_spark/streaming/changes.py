"""Changelog egress: read a lake table's committed changes as a stream of
events — the engine's analogue of ``GetGeoMesaKafkaRecord`` (store ->
records, SURVEY.md §3.3), but sourced from the snapshot ledger instead of a
Kafka topic.

Merge-on-read makes this cheap and exact: each ``merge_mor`` commit's delta
files ARE the change events of that batch (one LWW survivor per key,
tombstones marked).  ``table_changes`` replays them between two snapshot
versions with the commit metadata attached.  ``append`` commits likewise
expose their rows as inserts.

Copy-on-write commits rewrite buckets without a row-level pre-image, so by
default they only appear as ``rewrite_commits`` summaries — the same
limitation real lakehouse changelog readers have.  Setting the table
property ``changelog.enabled=true`` makes every CoW merge also retain its
change rows as side files (listed in the commit summary, invisible to
scans), which this reader then replays exactly like MoR deltas.

Write-Audit-Publish ``publish`` commits expand transparently: the change
rows are the published branch's own commits (its MoR deltas / appends /
retained CoW changelogs), all stamped with the PUBLISH commit's version —
from a main consumer's point of view the staged batches became visible
atomically at the publish point.  ``rollback`` commits cannot be expressed
as row-level changes at all (the pre-image is an arbitrary historical
state); a range containing one raises :class:`ChangelogDiscontinuityError`
rather than silently dropping the state jump — a binlog consumer whose
server was restored from backup must re-bootstrap, and so must this one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.lake.ledger import ROW_PRESERVING_OPS, Snapshot
from geomesa_nifi_spark.lake.table import DELETED_COL, LakeTable


class ChangelogRetentionError(RuntimeError):
    """The requested change range reaches past the retention horizon.

    Raised instead of returning a silently-incomplete changelog when (a)
    ``expire_snapshots`` dropped ledger entries inside the range, or (b)
    ``gc_changelog`` deleted a CoW commit's retained change files, or (c)
    a ``publish`` commit's source branch was dropped so its staged commits
    can no longer be replayed.  A CDC consumer that fell behind must
    re-bootstrap from a full scan, exactly like a binlog client whose
    server purged the logs it needed."""


class ChangelogDiscontinuityError(RuntimeError):
    """The range contains a commit with no row-level change representation
    (``rollback``, or an unrecognized future operation).  The table state
    jumped in a way this reader refuses to paper over — re-bootstrap from
    a full scan at the discontinuity."""


def _published_commits_fallback(
    table: LakeTable,
    snap: Snapshot,
    schema: T.StructType,
    read_schema: T.StructType,
    stamp_version: int,
) -> list[DataFrame] | None:
    """Expand a ``publish`` commit from its own ``published_commits``
    summary after the source branch's snapshots are gone.  Returns None
    when the publish cannot be faithfully reconstructed this way: the
    summary is absent (pre-fallback engine version), a staged commit's
    file diff was unknowable at publish time, a staged commit was CoW
    (its added files are rewritten buckets, not change rows), or a
    referenced delta file has since been removed by a later vacuum."""
    entries = snap.summary.get("published_commits")
    if not entries:
        return None
    pieces: list[DataFrame] = []
    for e in entries:  # stored oldest-first
        op = e.get("operation")
        if op in ROW_PRESERVING_OPS:
            continue
        added = e.get("added_files")
        # nested publishes are spliced into flattened merge_mor/append
        # entries at publish time (table.py publish_branch); a raw
        # "publish" entry or a None diff is unreconstructible — loud, not
        # wrong (a CoW-staged diff would be rewritten buckets, not changes)
        if op not in ("merge_mor", "append") or added is None:
            return None
        if not added:
            continue
        paths = [os.path.join(table.root, p) for p in added]
        if any(not os.path.exists(p) for p in paths):
            return None
        df = table.spark.read.schema(read_schema).parquet(*paths)
        df = df.withColumn(
            DELETED_COL, F.coalesce(F.col(DELETED_COL), F.lit(False))
        )
        pieces.append(
            df.select(
                *[F.col(f.name) for f in schema.fields],
                F.when(F.col(DELETED_COL), "delete")
                .otherwise("insert_or_update")
                .alias("_change_type"),
                F.lit(stamp_version).alias("_commit_version"),
                F.lit(e.get("batch_id")).alias("_batch_id"),
            )
        )
    return pieces


def _change_pieces(
    table: LakeTable,
    snap: Snapshot,
    schema: T.StructType,
    read_schema: T.StructType,
    stamp_version: int,
    _depth: int = 0,
) -> list[DataFrame]:
    """Change-row DataFrames for one commit, stamped with
    ``stamp_version`` as ``_commit_version`` (== ``snap.version`` except
    inside a publish expansion, where every staged commit is stamped with
    the publish commit's version — the version a consumer of the target
    branch can actually observe)."""
    spark = table.spark
    op = snap.summary.get("operation")
    if op in ROW_PRESERVING_OPS:
        return []
    if op == "publish":
        # Replay the published branch's own commits (fork, head] — walk the
        # branch parent chain; a dropped branch or expired staged snapshot
        # makes the range unreproducible, which must be loud.
        if _depth > 8:
            raise ChangelogDiscontinuityError(
                f"publish commit v{snap.version}: publish nesting deeper "
                f"than 8 — re-bootstrap from a full scan"
            )
        fork = snap.summary.get("forked_from")
        head = snap.summary.get("published_version")
        chain: list[Snapshot] = []
        try:
            s = table.ledger.snapshot(int(head))
            while s.version != fork:
                chain.append(s)
                if s.parent_version is None:
                    break
                s = table.ledger.snapshot(s.parent_version)
        except FileNotFoundError as exc:
            # The branch snapshots are gone (drop_branch — the streaming
            # WAP path drops its per-epoch branch right after publishing —
            # or expire_snapshots).  The publish commit itself recorded
            # each staged commit's operation/batch_id/added files
            # (published_commits): MoR/append staged commits' added DELTA
            # files hold exactly the change rows and are still referenced
            # by the publish commit, so the expansion survives the drop.
            # A CoW staged commit has no such representation (its added
            # files are rewritten full buckets) — loud error, as before.
            fb = _published_commits_fallback(
                table, snap, schema, read_schema, stamp_version
            )
            if fb is not None:
                return fb
            raise ChangelogRetentionError(
                f"publish commit v{snap.version} references branch "
                f"{snap.summary.get('published_branch')!r} whose staged "
                f"snapshots are gone (drop_branch or expire_snapshots) and "
                f"whose change rows cannot be reconstructed from the "
                f"publish commit (CoW-staged or pre-fallback publish); "
                f"re-bootstrap from a full scan"
            ) from exc
        pieces: list[DataFrame] = []
        for inner in reversed(chain):  # oldest first
            pieces += _change_pieces(
                table, inner, schema, read_schema, stamp_version, _depth + 1
            )
        return pieces
    if op == "merge":
        # CoW commit: readable only when the table retained its change
        # rows (changelog.enabled) — the summary lists those side files
        cl = snap.summary.get("changelog_files") or []
        paths = [os.path.join(table.root, f["path"]) for f in cl]
        if not paths:
            return []
        gone = [p for p in paths if not os.path.exists(p)]
        if gone:
            raise ChangelogRetentionError(
                f"commit v{snap.version} retained change rows but "
                f"{len(gone)} of its changelog files were garbage-"
                f"collected (changelog.retention.versions horizon); "
                f"re-bootstrap from a full scan"
            )
    elif op in ("merge_mor", "append"):
        try:
            parent_files = {f.path for f in table.ledger.snapshot(snap.parent_version).files} \
                if snap.parent_version is not None else set()
        except FileNotFoundError as exc:
            raise ChangelogRetentionError(
                f"commit v{snap.version}'s parent snapshot "
                f"v{snap.parent_version} was expired; its change rows "
                f"cannot be reconstructed — re-bootstrap from a full scan"
            ) from exc
        added = [f for f in snap.files if f.path not in parent_files]
        if not added:
            return []
        paths = [os.path.join(table.root, f.path) for f in added]
    else:
        # rollback, or an operation this reader has never heard of: the
        # state moved with no row-level representation.  Never skip.
        raise ChangelogDiscontinuityError(
            f"commit v{snap.version} is a {op!r} — its change rows cannot "
            f"be represented; re-bootstrap from a full scan past it"
        )
    df = spark.read.schema(read_schema).parquet(*paths)
    df = df.withColumn(DELETED_COL, F.coalesce(F.col(DELETED_COL), F.lit(False)))
    return [
        df.select(
            *[F.col(f.name) for f in schema.fields],
            F.when(F.col(DELETED_COL), "delete")
            .otherwise("insert_or_update")
            .alias("_change_type"),
            F.lit(stamp_version).alias("_commit_version"),
            F.lit(snap.summary.get("batch_id")).alias("_batch_id"),
        )
    ]


def table_changes(
    table: LakeTable,
    from_version: int = 0,
    to_version: int | None = None,
) -> DataFrame:
    """Change events committed in versions (from_version, to_version] on
    this handle's branch.

    Output: the table's columns plus ``_change_type`` (insert_or_update |
    delete), ``_commit_version``, ``_batch_id``.  Ordered consumers sort by
    (_commit_version, ts) — inside one publish commit several staged
    batches share the publish's ``_commit_version`` (they became visible
    atomically); the LWW ts ordering resolves within it.

    Raises :class:`ChangelogRetentionError` (never silently truncates)
    when part of the requested range has been retired by snapshot expiry,
    changelog GC, or a dropped published branch, and
    :class:`ChangelogDiscontinuityError` when the range contains a commit
    (``rollback``) with no row-level representation.
    """
    spark = table.spark
    history = table.history()
    oldest = min((s.version for s in history), default=0)
    if from_version < oldest - 1:
        # versions in (from_version, oldest) were expired from the ledger:
        # the range can no longer be reproduced
        raise ChangelogRetentionError(
            f"changes from version {from_version} requested but the ledger's "
            f"oldest retained snapshot is v{oldest} (expire_snapshots horizon); "
            f"re-bootstrap from a full scan"
        )
    snaps = [
        s for s in history
        if s.version > from_version and (to_version is None or s.version <= to_version)
    ]
    schema = table.schema()
    read_schema = T.StructType(
        list(schema.fields) + [T.StructField(DELETED_COL, T.BooleanType(), True)]
    )

    pieces: list[DataFrame] = []
    for snap in snaps:
        pieces += _change_pieces(table, snap, schema, read_schema, snap.version)

    if not pieces:
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.IntegerType()),
                T.StructField("_batch_id", T.StringType()),
            ]
        )
        return spark.createDataFrame([], out_schema)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def rewrite_commits(table: LakeTable, from_version: int = 0) -> list[dict]:
    """CoW / compaction commits in range — rows not representable as a
    row-level changelog; exposed as summary records for consumers."""
    return [
        {
            "version": s.version,
            "operation": s.summary.get("operation"),
            "batch_id": s.summary.get("batch_id"),
            "rows_written": s.summary.get("rows_written"),
        }
        for s in table.history()
        if s.version > from_version
        and s.summary.get("operation") in ("merge", "compact")
    ]

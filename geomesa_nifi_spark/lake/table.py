"""LakeTable: a bucket-partitioned, snapshot-versioned parquet table.

The storage layout (all paths relative to the table root):

    _ledger/v{version}.json      -- snapshot log (see ledger.py)
    data/s{version}-{token}/_bucket={b}/part-*.parquet

Rows are hash-bucketed on the table's key column:
``bucket = pmod(xxhash64(key), num_buckets)``.  Every data file holds rows of
exactly one bucket, and the ledger records the bucket per file, so a MERGE
that touches keys in buckets {3, 17} reads and rewrites *only* the files of
those buckets — file-level pruning equivalent to Iceberg's
``PARTITIONED BY (bucket(N, url))`` (the reference configures the same idea
via its FileSystem partition scheme, ``PutGeoMesaFsTest.scala:86``).

Scale notes (targets a 1000-executor cluster even though tests run local):
  * num_buckets is the unit of merge parallelism AND of pruning; for 100 TB
    choose O(10^4-10^5) buckets so a typical CDC batch touches a small
    fraction and each rewrite is O(100 MB-1 GB).
  * ``maxRecordsPerFile`` caps file size inside a hot bucket.
  * scans hand Spark an explicit file list -> no directory listing storms;
    column pruning + predicate pushdown still apply (plain parquet scan).
"""

from __future__ import annotations

import json
import os
import random
import time
import uuid
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.lake import stats as zone
from geomesa_nifi_spark.lake.ledger import (
    LEDGER_DIR,
    CommitConflict,
    DataFile,
    Ledger,
    Snapshot,
    covered_buckets,
    files_covering,
)

BUCKET_COL = "_bucket"
DELETED_COL = "_deleted"  # hidden tombstone flag; see merge.py
#: tries every optimistic commit (``LakeTable.optimistic_commit``) makes
#: before a lost race propagates as CommitConflict
COMMIT_ATTEMPTS = 10


class PublishConflict(Exception):
    """Write-Audit-Publish fast-forward refused: the target branch moved
    past the audited branch's fork point, so the staged state was audited
    against a stale base.  Re-fork and re-audit, or replay the staged
    batches (exactly-once by batch id) onto the new head."""

#: Spark types whose parquet footer min/max we record as zone maps
_STAT_TYPES = (
    "string", "byte", "short", "integer", "long", "float", "double",
    "boolean", "timestamp", "timestamp_ntz", "date", "decimal",
)

try:  # pyarrow is baked into the environment; used only for footer stats.
    import pyarrow.parquet as pq
except ImportError:  # pragma: no cover
    pq = None


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, branch: str = "main"):
        self.spark = spark
        self.root = root
        self.branch = branch
        self.ledger = Ledger(root)
        # key_col/ts_col/tiebreak_col are fixed at CREATE and copied forward
        # verbatim by every commit; cache them so property accessors don't
        # re-list and re-open the current snapshot per access.  num_buckets
        # is NOT cached: ``rescale()`` may change it at any commit, and a
        # stale modulus would label files with wrong buckets (silent
        # corruption), so it is always resolved from the latest snapshot —
        # a bounded metadata read, called O(1) times per batch.
        self._structural: dict[str, str] | None = None
        #: (files, seconds, distributed) of the most recent footer-stats
        #: pass (_read_footers) — ops/bench visibility into commit cost
        self.last_footer_stats: dict | None = None

    def _struct_prop(self, name: str) -> str | None:
        if self._structural is None:
            p = self.snapshot().properties
            self._structural = {
                k: p.get(k, "")
                for k in ("key_col", "ts_col", "tiebreak_col", "bucket_col")
            }
        return self._structural.get(name) or None

    # -- lifecycle ---------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType | str,
        key_col: str,
        ts_col: str | None = None,
        tiebreak_col: str | None = None,
        num_buckets: int = 32,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> "LakeTable":
        """CREATE TABLE (IF NOT EXISTS): commit snapshot v0 with no files.

        Mirrors the reference's schema-init-at-startup
        (``PutGeoMesa.scala:106-128``).  ``schema`` may be a ``StructType``
        or a declared GeoMesa SFT spec / typesafe-config string
        (``FeatureTypeProcessor.scala:70-92`` — resolved by
        ``functions.sft.resolve_sft``); a declared spec's dtg field becomes
        ``ts_col`` when not given, and its user data merges into the table
        properties.
        """
        extra_props: dict[str, str] = {}
        if isinstance(schema, str):
            from geomesa_nifi_spark.functions.sft import resolve_sft

            sft = resolve_sft(schema)
            schema = sft.schema
            ts_col = ts_col or sft.dtg_field
            extra_props = {f"sft.{k}": v for k, v in sft.user_data.items()}
        table = LakeTable(spark, root)
        if table.exists():
            if if_not_exists:
                return table
            raise FileExistsError(f"lake table already exists at {root}")
        if key_col not in schema.fieldNames():
            raise ValueError(f"key column '{key_col}' not in schema")
        bcol = (properties or {}).get("bucket_col")
        if bcol and bcol not in schema.fieldNames():
            raise ValueError(f"bucket column '{bcol}' not in schema")
        props = {
            "key_col": key_col,
            "ts_col": ts_col or "",
            "tiebreak_col": tiebreak_col or "",
            "num_buckets": str(num_buckets),
            **extra_props,
            **(properties or {}),
        }
        table.ledger.commit(
            Snapshot(
                version=0,
                schema_json=schema.json(),
                files=[],
                properties=props,
                summary={"operation": "create"},
            )
        )
        return table

    def exists(self) -> bool:
        return self.ledger.exists()

    # -- metadata ----------------------------------------------------------

    def snapshot(self, version: int | str | None = None) -> Snapshot:
        """Snapshot by version number, by TAG NAME (a string), or — with no
        argument — the head of this handle's BRANCH (``main`` unless the
        table was opened via :meth:`for_branch`).  Explicit versions and
        tags resolve across branches; they name a point in the shared
        version namespace."""
        if isinstance(version, str):
            version = self.ledger.resolve_tag(version)
        if version is None:
            version = self.ledger.head_version(self.branch)
            if version is None:
                if not self.ledger.exists():
                    raise FileNotFoundError(f"no snapshots in {self.ledger.dir}")
                raise KeyError(f"no branch {self.branch!r} in {self.ledger.dir}")
        return self.ledger.snapshot(version)

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.snapshot(version).schema_json))

    @property
    def key_col(self) -> str:
        return self._struct_prop("key_col")  # type: ignore[return-value]

    @property
    def ts_col(self) -> str | None:
        return self._struct_prop("ts_col")

    @property
    def tiebreak_col(self) -> str | None:
        return self._struct_prop("tiebreak_col")

    @property
    def bucket_col(self) -> str:
        """Column the bucket hash is computed from — the key by default.

        A table may bucket on a DIFFERENT column than its key (property
        ``bucket_col``) provided the invariant holds that rows sharing a
        key always share that column's value, so per-key LWW stays
        bucket-local.  Attribute index tables (``lake/index.py``) use this
        to bucket by the indexed VALUE while keying on (value, source key):
        equality lookups then prune to one bucket driver-side."""
        return self._struct_prop("bucket_col") or self.key_col

    @property
    def num_buckets(self) -> int:
        """The CURRENT bucket modulus (version-sensitive — see ``rescale``)."""
        return int(self.snapshot().properties["num_buckets"])

    def history(self, all_branches: bool = False) -> list[Snapshot]:
        """Snapshots of this handle's branch (version order); legacy
        pre-branch ledgers are all-main, so default behavior is unchanged.
        ``all_branches=True`` returns every snapshot in the ledger."""
        snaps = self.ledger.snapshots()
        if all_branches:
            return snaps
        return [s for s in snaps if s.branch == self.branch]

    def version_as_of(self, ts_ms: int) -> int:
        """The version visible at wall-clock ``ts_ms`` (epoch millis): the
        newest snapshot committed at or before it — ``FOR SYSTEM_TIME AS
        OF`` resolution over the ledger's commit timestamps.  Raises
        ``KeyError`` when the moment predates the table (or the surviving
        ledger horizon after ``expire_snapshots``)."""
        best: int | None = None
        for snap in self.history():
            if snap.created_ms <= ts_ms and (best is None or snap.version > best):
                best = snap.version
        if best is None:
            raise KeyError(f"no snapshot at or before ts_ms={ts_ms}")
        return best

    # -- tags & rollback -----------------------------------------------------

    def create_tag(self, name: str, version: int | None = None,
                   replace: bool = False) -> int:
        """Pin ``version`` (default: current) under ``name``.  Tagged
        versions survive ``expire_snapshots`` until the tag is deleted, and
        every read path accepts the tag name wherever it accepts a version
        (``scan(version="prod")``, ``lookup(keys, version="prod")``)."""
        if version is None:
            v = self.snapshot().version
        elif isinstance(version, str):
            v = self.ledger.resolve_tag(version)
        else:
            v = int(version)
        self.ledger.create_tag(name, v, replace=replace)
        return v

    def delete_tag(self, name: str) -> None:
        self.ledger.delete_tag(name)

    def tags(self) -> dict[str, int]:
        return self.ledger.tags()

    # -- branches & write-audit-publish --------------------------------------
    #
    # A branch is an isolated line of history inside the shared ledger:
    # branch commits claim global version numbers (same O_EXCL atomicity)
    # but chain through their own parent pointers, and readers of a branch
    # resolve its own head — main readers never see staged work.  The
    # canonical use is Write-Audit-Publish: fork an audit branch at the
    # main head, replay CDC batches onto it with the ordinary writers
    # (``for_branch`` returns a handle every merge/compact/evolve path
    # works on unchanged), validate the staged state, then
    # ``publish_branch`` fast-forwards main to it in one atomic
    # metadata-only commit (the staged data files are simply re-referenced
    # — nothing is rewritten, so publish is O(#file-groups) regardless of
    # staged volume, which is what makes WAP viable at 100 TB).

    def for_branch(self, name: str) -> "LakeTable":
        """A handle on the same table bound to ``name`` — every read and
        write through it targets that branch's head."""
        return LakeTable(self.spark, self.root, branch=name)

    def branches(self) -> dict[str, int]:
        """All branch names -> head version (``main`` included)."""
        return self.ledger.branches()

    def create_branch(self, name: str, at: int | str | None = None) -> "LakeTable":
        """Fork branch ``name`` at version ``at`` (default: this handle's
        head) and return a handle bound to it.

        The fork is ONE metadata-only commit that re-references the fork
        point's manifests — O(#file-groups), no data movement.  The new
        snapshot records ``forked_from`` for audit; publishing later
        requires main not to have moved past that fork point."""
        if name == "main":
            raise ValueError("'main' always exists; fork under another name")
        if self.ledger.head_version(name) is not None:
            raise FileExistsError(f"branch {name!r} already exists")
        src = self.snapshot(at)

        def build(base: Snapshot) -> dict:
            # the new branch has no head of its own, so the fork point stays
            # the base — unless a concurrent create of THIS name won the race
            if base.branch == name:
                raise FileExistsError(f"branch {name!r} already exists")
            return {
                "schema_json": src.schema_json,
                "files": src.files,
                "properties": dict(src.properties),
                "summary": {
                    "operation": "create_branch",
                    "branch": name,
                    "forked_from": src.version,
                },
            }

        fork = self.for_branch(name)
        fork.optimistic_commit(build, src)
        return fork

    def _fork_version(self, name: str) -> int | None:
        """The version branch ``name`` forked from: walk the branch's own
        parent chain to the first snapshot labeled with a different
        branch.  Needs only the branch's snapshots (protected from
        expiry), so it stays answerable even when the fork-point snapshot
        itself has been expired."""
        v = self.ledger.head_version(name)
        if v is None:
            raise KeyError(f"no branch {name!r} in {self.ledger.dir}")
        s = self.ledger.snapshot(v)
        while True:
            p = s.parent_version
            if p is None:
                return None
            try:
                ps = self.ledger.snapshot(p)
            except FileNotFoundError:
                return p
            if ps.branch != name:
                return p
            s = ps

    def publish_branch(self, name: str) -> Snapshot:
        """Atomically fast-forward THIS branch (normally main) to branch
        ``name``'s head — the Publish step of Write-Audit-Publish.

        Strict fast-forward: if this branch has committed anything since
        the fork, raises :class:`PublishConflict` — the staged state was
        audited against a base that no longer exists, so the caller must
        re-fork and re-audit (or replay the staged batches onto the new
        head; their batch ids make that exactly-once).  The published
        commit carries the branch head's files, schema AND properties (a
        rescale or schema evolution staged on the branch publishes with
        it), exactly like ``rollback`` restores all three.

        The publish commit also carries the staged commits' BATCH IDS
        (``published_batch_ids``): exactly-once must survive the branch's
        later deletion (``drop_branch``) or expiry of its interior
        snapshots — a re-delivered staged batch is detected from the
        publish commit alone, in any process.  It likewise records each
        staged commit's operation, batch id and ADDED FILES
        (``published_commits``): for MoR/append staged commits the added
        delta files hold exactly the change rows, so the changelog reader
        can expand the publish even after the branch is dropped (the
        streaming WAP path drops its per-epoch branch right after
        publishing)."""
        bhead = self.ledger.head_version(name)
        if bhead is None:
            raise KeyError(f"no branch {name!r} in {self.ledger.dir}")
        bsnap = self.ledger.snapshot(bhead)
        fork = self._fork_version(name)
        # staged batch ids ride the publish commit so exactly-once outlives
        # the branch snapshots themselves; nested publishes fold theirs in
        staged_ids: list[str] = []
        published_commits: list[dict] = []
        s = bsnap
        while s.version != fork:
            bid = s.summary.get("batch_id")
            if bid is not None:
                staged_ids.append(str(bid))
            # appended newest-first (the final reverse() restores oldest-
            # first), so a nested publish's oldest-first list is reversed
            staged_ids.extend(reversed(s.summary.get("published_batch_ids") or []))
            if s.parent_version is None:
                break
            try:
                parent = self.ledger.snapshot(s.parent_version)
            except FileNotFoundError:
                parent = None
            if parent is not None:
                if s.summary.get("operation") == "publish":
                    # A nested publish's own file diff is whatever its
                    # source branch staged — which may be CoW-rewritten
                    # full buckets that MUST NOT be read back as change
                    # rows.  Splice in ITS published_commits (flattened
                    # MoR/append entries, recorded while the inner branch
                    # was alive) instead of a raw path diff; a publish
                    # without that summary is unreconstructible — record
                    # added_files=None so the changelog fallback stays
                    # loud rather than wrong.
                    inner = s.summary.get("published_commits")
                    if inner:
                        # we append newest-first and reverse at the end;
                        # inner lists are stored oldest-first
                        published_commits.extend(reversed(inner))
                    else:
                        published_commits.append({
                            "version": s.version,
                            "operation": "publish",
                            "batch_id": None,
                            "added_files": None,
                        })
                else:
                    pp = {f.path for f in parent.files}
                    published_commits.append({
                        "version": s.version,
                        "operation": s.summary.get("operation"),
                        "batch_id": bid if bid is None else str(bid),
                        "added_files": [
                            f.path for f in s.files if f.path not in pp
                        ],
                    })
                s = parent
            else:  # expired interior snapshot: diff unknowable
                published_commits.append({
                    "version": s.version,
                    "operation": s.summary.get("operation"),
                    "batch_id": bid if bid is None else str(bid),
                    "added_files": None,
                })
                break
        staged_ids.reverse()
        published_commits.reverse()

        def build(base: Snapshot) -> dict:
            if base.version != fork:
                raise PublishConflict(
                    f"branch {name!r} forked from v{fork} but {self.branch!r} "
                    f"is now at v{base.version}; re-fork and re-audit, or "
                    f"replay the staged batches onto the current head"
                )
            return {
                "schema_json": bsnap.schema_json,
                "files": bsnap.files,
                "properties": dict(bsnap.properties),
                "summary": {
                    "operation": "publish",
                    "published_branch": name,
                    "published_version": bhead,
                    "forked_from": fork,
                    "published_batch_ids": staged_ids,
                    "published_commits": published_commits,
                },
            }

        return self.optimistic_commit(build)

    def drop_branch(self, name: str) -> list[int]:
        """Delete branch ``name``'s snapshots from the ledger (abandoned
        audit work).  Tagged versions refuse — delete the tag first.  The
        branch's data files become unreferenced; run ``vacuum()`` to free
        them.  Exactly-once bookkeeping: batch ids staged ONLY on the
        dropped branch become re-ingestable (the work was abandoned);
        ids the branch PUBLISHED stay committed forever — they ride the
        publish commit's ``published_batch_ids``, not the branch
        snapshots (the in-process cache is rebuilt from the retained
        ledger on the next merge)."""
        if name == "main":
            raise ValueError("cannot drop 'main'")
        victims = [s.version for s in self.ledger.snapshots() if s.branch == name]
        if not victims:
            raise KeyError(f"no branch {name!r} in {self.ledger.dir}")
        tagged = {v for v in self.ledger.tags().values() if v in victims}
        if tagged:
            raise ValueError(
                f"branch {name!r} has tagged versions {sorted(tagged)}; "
                f"delete the tags first"
            )
        from geomesa_nifi_spark.lake.ledger import DROPPED_FMT, SNAPSHOT_FMT

        for v in victims:
            # rename -> tombstone (atomic): the version number stays
            # CLAIMED so next_version never reuses it — a reused number
            # would be invisible to every incremental ledger cache (branch
            # heads, exactly-once batch ids) that already scanned past it,
            # in this or any other process
            os.rename(
                os.path.join(self.ledger.dir, SNAPSHOT_FMT.format(v)),
                os.path.join(self.ledger.dir, DROPPED_FMT.format(v)),
            )
            self.ledger._snap_cache.pop(v, None)
            self.ledger._refs_cache.pop(v, None)
        heads = getattr(self.ledger, "_branch_heads", None)
        if heads is not None:
            heads.pop(name, None)
        # rebuild the exactly-once cache from the RETAINED ledger: ids
        # staged only on the dropped branch become re-ingestable; published
        # ids persist via the publish commits' published_batch_ids
        self.ledger._batch_ids = set()
        self.ledger._batch_ids_seen_version = -1
        return victims

    def record_audit_reject(
        self,
        batch_id: str,
        reason: str | None = None,
        staged_version: int | None = None,
    ) -> Snapshot:
        """Commit a NO-OP snapshot recording that ``batch_id`` was staged,
        failed its Write-Audit-Publish audit, and was rejected — the lake
        analogue of NiFi's route-to-failure.  The commit changes no files
        or rows (changelog readers and MV refresh skip it) but carries the
        batch id, so a crash/restart RE-DELIVERY of the rejected batch is
        skipped by the ordinary exactly-once check instead of being
        re-staged and re-failed forever."""
        return self.optimistic_commit(lambda base: {
            "schema_json": base.schema_json,
            "files": base.files,
            "properties": dict(base.properties),
            "summary": {
                "operation": "audit_reject",
                "batch_id": str(batch_id),
                "reason": reason,
                "staged_version": staged_version,
            },
        })

    def rollback(self, version: int | str) -> Snapshot:
        """Restore the table's visible state to ``version`` (or tag name)
        as a NEW commit — history is never rewritten, so concurrent readers
        keep their snapshot isolation and the audit chain stays intact
        (Iceberg-rollback semantics).  A no-op when the head already is
        ``version``.

        The new snapshot takes the target's files, schema AND properties
        (a rollback across a ``rescale`` must restore the old bucket
        modulus or every pruned read after it would look in the wrong
        buckets).  Exactly-once note: rolled-back batch ids remain in the
        ledger history, so re-delivering one is still skipped — re-apply
        under a new batch_id, which is what a corrected upstream batch is.
        """
        target = self.snapshot(version)

        def build(base: Snapshot) -> dict | None:
            if base.version == target.version:
                return None
            return {
                "schema_json": target.schema_json,
                "files": target.files,
                "properties": dict(target.properties),
                "summary": {
                    "operation": "rollback",
                    "rollback_of": target.version,
                    "previous_head": base.version,
                },
            }

        return self.optimistic_commit(build)

    def committed_batch_ids(self) -> set[str]:
        return self.ledger.committed_batch_ids()

    # -- bucketing ---------------------------------------------------------

    def bucket_expr(self, key=None, num_buckets: int | None = None) -> F.Column:
        """pmod(xxhash64(key), B) — JVM-side, codegen'd, deterministic.

        ``num_buckets`` pins the modulus (readers of historical versions and
        ``rescale`` pass the modulus of the snapshot they operate on);
        default is the current snapshot's."""
        key = F.col(self.bucket_col) if key is None else key
        b = self.num_buckets if num_buckets is None else int(num_buckets)
        return F.pmod(F.xxhash64(key), F.lit(b)).cast("int")

    # -- reads ---------------------------------------------------------------

    def candidate_files(
        self,
        where: list[tuple] | None = None,
        version: int | None = None,
        buckets: Iterable[int] | None = None,
        snapshot: Snapshot | None = None,
    ) -> list[DataFile]:
        """The file list a scan with these constraints would read — bucket
        pruning first, then zone-map pruning (``lake/stats.py``).  Exposed
        so callers and tests can assert how much a predicate prunes."""
        snap = snapshot or self.snapshot(version)
        files = snap.files
        nb = int(snap.properties["num_buckets"])
        if buckets is not None:
            # coverage-based: a lazy-rescale-stamped file (modulus m < nb)
            # matches every wanted bucket congruent to its label mod m
            files = files_covering(files, set(buckets), nb)
        if where:
            files = zone.prune_files(files, where, num_buckets=nb)
        return files

    def scan(
        self,
        version: int | str | None = None,
        buckets: Iterable[int] | None = None,
        snapshot: Snapshot | None = None,
        include_tombstones: bool = False,
        where: list[tuple] | None = None,
        read_optimized: bool = False,
    ) -> DataFrame:
        """Read the table state, optionally pruned to a set of buckets
        and/or by a predicate conjunction.

        ``where`` is a list of ``(col, op, value)`` with op in
        ``stats.OPS`` — e.g. ``[("lang", "=", "en")]`` or
        ``[("warc_ts", "between", (t0, t1))]``.  The ledger's zone maps
        skip files whose recorded min/max excludes the predicate (the
        engine's analogue of the reference store's attribute index,
        ``UpdateGeoMesaRecord.scala:154-166``); the same predicate is then
        re-applied to the surviving rows, so pruning is purely an
        optimization and the result is exact.

        Old files written before an additive schema evolution lack the new
        columns; reading with the snapshot's explicit schema null-pads them
        (by-name resolution, ≙ ``AvroToPutGeoMesa.scala:201-222``).

        Deleted keys persist as tombstone rows (``_deleted = true``) so that
        late-arriving older upserts cannot resurrect them; the public scan
        filters tombstones out.  ``include_tombstones=True`` (used by MERGE
        and compaction) exposes them with the ``_deleted`` column attached.

        If the selected buckets contain merge-on-read delta files, the scan
        resolves last-writer-wins per key across base + deltas (map-side-
        combining ``max_by`` on the table's (ts, tiebreak) order) before
        returning — readers always see upsert semantics, whichever write
        path produced the files.  With a ``where`` predicate, delta-holding
        buckets are pruned all-or-nothing so cross-file LWW resolution
        stays correct (stats.py module docstring).

        ``read_optimized=True`` reads BASE files only (Hudi's
        read-optimized view of a merge-on-read table): deltas not yet
        compacted are invisible, so the result is the state as of the
        last compaction of each bucket — stale but cheap, no LWW
        resolution pass at all.  Exactness per bucket returns as soon as
        compaction folds it.
        """
        snap = snapshot or self.snapshot(version)
        files = self.candidate_files(
            where=where, buckets=buckets, snapshot=snap
        )
        if read_optimized:
            files = [f for f in files if f.kind != "delta"]
        df = self._read_files(snap, files)
        nb = int(snap.properties["num_buckets"])
        if buckets is not None and any(
            (f.modulus or nb) != nb for f in files
        ):
            # Mixed-modulus exactness: an old-modulus file covers sibling
            # buckets besides the wanted ones; re-derive each row's CURRENT
            # bucket from its key (codegen, no shuffle) and keep only the
            # wanted rows.  Every file covering a wanted bucket was
            # selected, so rows surviving this filter are complete per
            # bucket — LWW resolution below stays sound.
            wanted = sorted(set(buckets))
            df = df.filter(
                F.pmod(F.xxhash64(F.col(self.bucket_col)), F.lit(nb))
                .cast("int")
                .isin(wanted)
            )
        if any(f.kind == "delta" for f in files):
            df = self._resolve_lww(df)
        if not include_tombstones:
            df = df.filter(~F.col(DELETED_COL)).drop(DELETED_COL)
        if where:
            # residual filter AFTER LWW resolution: the predicate selects
            # among final rows, it must not hide a losing-row's newer winner
            df = df.filter(zone.predicate_column(where))
        return df

    def _read_files(self, snap: Snapshot, files: list[DataFile]) -> DataFrame:
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField(DELETED_COL, T.BooleanType(), True)]
        )
        if not files:
            df = self.spark.createDataFrame([], read_schema)
        else:
            paths = [os.path.join(self.root, f.path) for f in files]
            df = self.spark.read.schema(read_schema).parquet(*paths)
        return df.withColumn(DELETED_COL, F.coalesce(F.col(DELETED_COL), F.lit(False)))

    def _resolve_lww(self, df: DataFrame) -> DataFrame:
        """One row per key: greatest (ts, tiebreak) wins, tombstones kept.

        Columnar max_by (one aggregate per column, not one over a packed
        row struct) so Catalyst column-prunes the resolution: a consumer
        reading two columns of a resolved wide table shuffles two columns,
        and ``scan().count()`` ships only key + order columns.  Sound
        because the merge contract already requires (ts, tiebreak) to
        totally order a key's events (dedup.py ``maxby-columnar`` note)."""
        from geomesa_nifi_spark.operators.dedup import lww_dedup

        ts = self.ts_col
        if ts is None:
            raise ValueError("merge-on-read resolution requires a ts_col")
        order = [ts] + ([self.tiebreak_col] if self.tiebreak_col else [])
        return lww_dedup(df, self.key_col, order, strategy="maxby-columnar")

    def lookup(self, keys: list, version: int | str | None = None) -> DataFrame:
        """Point lookup: the ModifyWriter read path
        (``FeatureWriters.scala:126-147``) as a pruned scan.

        Buckets are computed driver-side from the literal keys, so only
        those buckets' files are opened; the key equality predicate then
        pushes into parquet where the sorted row groups prune further.
        At any table size this touches O(len(keys)) files.
        """
        if not keys:
            return self.scan(version=version).limit(0)
        if self.bucket_col != self.key_col:
            # bucket hash is over a different column: key literals cannot
            # locate buckets.  Fall back to a predicate scan — zone maps
            # still prune (files are key-sorted within buckets).
            return self.scan(
                version=version, where=[(self.key_col, "in", list(keys))]
            )
        # the modulus of the version being read, NOT the current one — a
        # time-travel read across a rescale must prune with the layout the
        # target snapshot's files were actually written under
        nb = int(self.snapshot(version).properties["num_buckets"])
        buckets = self._literal_buckets(keys, nb)
        # zone maps prune files INSIDE the selected buckets (the write path
        # sorts by key, so each overflow split covers a narrow key range);
        # scan re-applies the isin as the residual filter
        return self.scan(
            version=version, buckets=buckets,
            where=[(self.key_col, "in", list(keys))],
        )

    def _literal_buckets(self, values: list, nb: int) -> list[int]:
        """Buckets of literal ``bucket_col`` values under modulus ``nb``.

        Computed driver-side in pure Python (``functions/xxhash.py``, pinned
        equal to the ``xxhash64`` expression) — zero Spark jobs for the
        common string/integral key types; a single-row job only for types
        outside that map.  One lookup = one scan job, nothing else."""
        from geomesa_nifi_spark.functions.xxhash import bucket_of

        dtype = self.schema()[self.bucket_col].dataType
        out = set()
        spark_side = []
        for v in values:
            b = bucket_of(v, dtype, nb)
            if b is None:
                spark_side.append(v)
            else:
                out.add(b)
        if spark_side:
            lit_df = self.spark.createDataFrame(
                [(v,) for v in spark_side],
                T.StructType([T.StructField(self.bucket_col, dtype)]),
            )
            out |= {
                r[0]
                for r in lit_df.select(
                    self.bucket_expr(num_buckets=nb).alias("b")
                ).distinct().collect()
            }
        return sorted(out)

    def delta_stats(self, snapshot: Snapshot | None = None) -> dict[int, dict]:
        """Per-CURRENT-bucket {files, delta_files, delta_rows} — compaction
        input.  An old-modulus file counts toward every bucket it covers
        (reading any of them must open it, so the file counts measure real
        read amplification); its rows are an upper bound per bucket, which
        only ever triggers compaction earlier — and compaction migrates the
        file to the current modulus, retiring the overcount."""
        snap = snapshot or self.snapshot()
        nb = int(snap.properties["num_buckets"])
        out: dict[int, dict] = {}
        for f in snap.files:
            for cb in covered_buckets(f, nb):
                b = out.setdefault(cb, {"files": 0, "delta_files": 0, "delta_rows": 0})
                b["files"] += 1
                if f.kind == "delta":
                    b["delta_files"] += 1
                    b["delta_rows"] += f.rows
        return out

    def closure_buckets(
        self, buckets: Iterable[int], snapshot: Snapshot | None = None
    ) -> list[int]:
        """Sibling closure of a bucket set: the smallest superset such that
        every file covering any bucket in it is covered ENTIRELY by it.

        Copy-on-write rewrites replace whole files; after a lazy rescale a
        file may span several current buckets, so rewriting "bucket 11"
        must also rewrite its siblings sharing that file — otherwise
        dropping the file would lose the siblings' rows.  Fixpoint over the
        snapshot's file list (driver-side metadata only); converges in at
        most #distinct-moduli rounds, and is the identity on tables with no
        lazy-rescale debt (the overwhelmingly common case, short-circuited
        here)."""
        snap = snapshot or self.snapshot()
        nb = int(snap.properties["num_buckets"])
        touched = set(buckets)
        stamped = [
            (f.modulus, f.bucket)
            for f in snap.files
            if f.modulus is not None and f.modulus != nb
        ]
        if not stamped:
            return sorted(touched)
        changed = True
        while changed:
            changed = False
            for m, label in stamped:
                cov = set(range(label, nb, m))
                if cov & touched and not cov <= touched:
                    touched |= cov
                    changed = True
        return sorted(touched)

    # -- writes --------------------------------------------------------------

    def write_files(
        self,
        df: DataFrame,
        version_hint: int,
        max_records_per_file: int = 2_000_000,
        kind: str = "base",
        sort_exprs: list | None = None,
    ) -> list[DataFile]:
        """Write ``df`` (must carry ``_bucket``) as new immutable data files.

        One shuffle on ``_bucket`` co-locates each bucket in a single task,
        so each bucket yields one file (plus overflow splits via
        ``maxRecordsPerFile``).  Files go to a commit-unique subdir; nothing
        is visible until the ledger commit references it, so a failed job
        leaves only unreferenced orphans (cleaned by ``vacuum``).

        ``sort_exprs`` overrides the within-bucket row order (default: the
        table key) — clustered compaction passes Z-order/linear expressions
        here (``lake/cluster.py``) so overflow splits cover narrow ranges
        of the CLUSTERED columns and the ledger zone maps prune attribute
        predicates instead of key ranges.
        """
        token = uuid.uuid4().hex[:8]
        subdir = f"data/s{version_hint:010d}-{token}"
        out_dir = os.path.join(self.root, subdir)
        order = sort_exprs if sort_exprs is not None else [F.col(self.key_col)]
        (
            # sortWithinPartitions(bucket, <order>): the partitioned writer
            # REQUIRES an ordering on the partition columns and inserts its
            # own (non-stable) sort when missing — sorting by key alone is
            # silently destroyed (observed: overlapping per-file key ranges).
            # Leading with _bucket satisfies the writer's requirement, so the
            # requested order survives: each overflow split covers a narrow
            # range of the sort columns, making both parquet row-group stats
            # and the ledger zone maps selective.
            df.repartition(F.col(BUCKET_COL))
            .sortWithinPartitions(F.col(BUCKET_COL), *order)
            .write.option("maxRecordsPerFile", str(max_records_per_file))
            .partitionBy(BUCKET_COL)
            .parquet(out_dir)
        )
        return self._discover_files(subdir, kind, stat_columns=self._stat_columns(df))

    def _stat_columns(self, df: DataFrame) -> set[str]:
        """Columns whose footer min/max become ledger zone maps: every
        comparable-typed top-level column (property ``stats.columns``, a
        csv list, narrows it — useful at very wide schemas)."""
        prop = self.snapshot().properties.get("stats.columns", "")
        wanted = {c.strip() for c in prop.split(",") if c.strip()} or None
        out = set()
        for f in df.schema.fields:
            if f.name == BUCKET_COL:
                continue  # partition directory, not a file column
            if not f.dataType.typeName().startswith(_STAT_TYPES):
                continue
            if wanted is not None and f.name not in wanted and f.name != DELETED_COL:
                continue
            out.add(f.name)
        return out

    def _discover_files(
        self, subdir: str, kind: str = "base", stat_columns: set[str] | None = None
    ) -> list[DataFile]:
        found: list[tuple[str, int, str]] = []  # (rel_path, bucket, full)
        base = os.path.join(self.root, subdir)
        for dirpath, _dirnames, filenames in os.walk(base):
            for name in sorted(filenames):
                if not name.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(dirpath, self.root)
                found.append(
                    (os.path.join(rel_dir, name), _bucket_from_path(dirpath), os.path.join(dirpath, name))
                )
        footers = self._read_footers([f[2] for f in found], stat_columns)
        return [
            DataFile(path=rel, bucket=bucket, rows=r, kind=kind, stats=st)
            for (rel, bucket, _full), (r, st) in zip(found, footers)
        ]

    def _read_footers(
        self, paths: list[str], stat_columns: set[str] | None
    ) -> list[tuple[int, dict | None]]:
        """Row counts + zone-map stats per written file, from parquet
        footers (no data IO — the stats ride the same footer read).

        Two execution shapes, picked by file count:

        * ≤ threshold (the CDC steady state — a commit touches O(buckets)
          files): a 16-thread driver pool.  Fine at this scale; a Spark
          job's fixed scheduling cost would dominate.
        * > threshold (bulk shapes — ``bootstrap_load`` commits the whole
          initial table in ONE commit; at 100 TB that is 10^5-10^6 files):
          a Spark job, one footer open per task element, so stats
          collection scales with the executor count instead of funneling
          every footer through the driver's NIC.

        Threshold via table property ``stats.footer.distribute.threshold``
        (default 512).  ``self.last_footer_stats`` records (files, seconds,
        distributed) for benches and ops dashboards."""
        import time as _time

        t0 = _time.monotonic()
        if not paths or not pq:
            self.last_footer_stats = {
                "files": len(paths), "seconds": 0.0, "distributed": False,
            }
            return [(-1, None)] * len(paths)
        threshold = int(
            self.snapshot().properties.get("stats.footer.distribute.threshold", "512")
        )
        stat_cols = sorted(stat_columns) if stat_columns else None

        def footer_of(full: str) -> tuple[int, dict | None]:
            rows = pq.ParquetFile(full).metadata.num_rows
            st = zone.collect_file_stats(full, set(stat_cols)) if stat_cols else None
            return rows, st

        distributed = len(paths) > threshold
        if not distributed:
            import concurrent.futures

            with concurrent.futures.ThreadPoolExecutor(max_workers=16) as pool:
                footers = list(pool.map(footer_of, paths))
        else:
            # Executor-side fanout.  Stats are ledger-JSON-safe by
            # construction (zone.canon), so the JSON hop is lossless; paths
            # key the result map because partition order is not guaranteed.
            sc = self.spark.sparkContext
            n_slices = max(1, min(len(paths), sc.defaultParallelism * 4))

            def task(full: str) -> tuple[str, int, str | None]:
                import pyarrow.parquet as _pq

                from geomesa_nifi_spark.lake import stats as _zone

                rows = _pq.ParquetFile(full).metadata.num_rows
                st = (
                    _zone.collect_file_stats(full, set(stat_cols))
                    if stat_cols
                    else None
                )
                return full, rows, json.dumps(st) if st else None

            got = {
                p: (r, json.loads(sj) if sj else None)
                for p, r, sj in sc.parallelize(paths, n_slices).map(task).collect()
            }
            footers = [got[p] for p in paths]
        self.last_footer_stats = {
            "files": len(paths),
            "seconds": round(_time.monotonic() - t0, 3),
            "distributed": distributed,
        }
        return footers

    def optimistic_commit(
        self,
        build: Callable[[Snapshot], dict | None],
        base: Snapshot | None = None,
        batch_id: str | None = None,
    ) -> Snapshot | None:
        """Publish ``build(base)`` as this branch's next snapshot — the one
        optimistic-concurrency loop every writer commits through.

        ``build`` returns the next snapshot's ``files``, ``schema_json``,
        ``properties`` and ``summary`` as a dict, or ``None`` when there is
        nothing to commit (then ``base`` itself is returned); this method
        sets the version, ``parent_version`` and branch.  The first attempt
        builds on ``base`` (default: the branch head).  When another writer
        wins the race (:class:`CommitConflict`) the loop backs off with
        jitter, re-reads the branch head and calls ``build(head)`` again,
        up to ``COMMIT_ATTEMPTS`` times; ``build`` decides whether the
        head invalidates its work (redo) or only needs re-referencing
        (rebase), and raises to refuse.  The loser's orphaned files are
        vacuum's job.  With a ``batch_id``, a conflict whose winner turns
        out to have committed that very batch returns ``None``: the batch
        is in, exactly once."""
        if base is None:
            base = self.snapshot()
        for attempt in range(1, COMMIT_ATTEMPTS + 1):
            parts = build(base)
            if parts is None:
                return base
            try:
                return self._publish(base, parts)
            except CommitConflict:
                if attempt == COMMIT_ATTEMPTS:
                    raise
            # jittered exponential backoff: a redo takes longer than a
            # commit, so without it a busy peer can win every race
            time.sleep(random.uniform(0, 0.2 * 2 ** min(attempt - 1, 4)))
            head = self.ledger.head_version(self.branch)
            if head is not None:  # a branch being created has no head yet
                base = self.ledger.snapshot(head)
            if batch_id is not None and str(batch_id) in self.committed_batch_ids():
                return None
        raise AssertionError("unreachable")

    def _publish(self, base: Snapshot, parts: dict) -> Snapshot:
        return self.ledger.commit(
            Snapshot(
                version=self.ledger.next_version(),
                parent_version=base.version,
                branch=self.branch,
                **parts,
            )
        )

    def appender(
        self, df: DataFrame, num_buckets: int, **write_kw
    ) -> Callable[[Snapshot], list[DataFile]]:
        """``files_for(base)`` of an append-shaped commit (blind append,
        merge-on-read delta, bootstrap): ``df``'s rows — labeled
        ``_bucket`` under ``num_buckets`` — as new data files labeled under
        ``base``'s modulus.  Appended files never conflict with another
        commit's files, so every rebase re-commits the SAME files on top of
        the new head; only a lost race to a ``rescale`` (a changed modulus)
        rewrites them, since their labels would misprune every later scan.
        The stale files become vacuum orphans."""
        written: dict[int, list[DataFile]] = {}

        def files_for(base: Snapshot) -> list[DataFile]:
            nb = int(base.properties["num_buckets"])
            if nb not in written:
                out = df if nb == num_buckets else df.withColumn(
                    BUCKET_COL, self.bucket_expr(num_buckets=nb)
                )
                written[nb] = self.write_files(out, base.version + 1, **write_kw)
            return written[nb]

        return files_for

    def rewrite_parts(
        self,
        base: Snapshot,
        touched_buckets: Iterable[int],
        new_files: list[DataFile],
        summary: dict,
        schema_json: str | None = None,
    ) -> dict:
        """The snapshot parts replacing the touched buckets' files of
        ``base`` with ``new_files`` — a rewrite commit's ``build`` result.

        Untouched buckets keep their existing files untouched — the
        copy-on-write unit is the bucket, not the table.  Mixed-modulus
        aware: a file is dropped iff its coverage intersects the touched
        set, and a file whose coverage only PARTIALLY overlaps is a caller
        bug (the touched set must be sibling-closed, ``closure_buckets``)
        — dropping it would lose the untouched siblings' rows, so it
        raises instead.
        """
        touched = set(touched_buckets)
        nb = int(base.properties["num_buckets"])
        kept: list[DataFile] = []
        for f in base.files:
            cov = set(covered_buckets(f, nb))
            if cov & touched:
                if not cov <= touched:
                    raise ValueError(
                        f"rewrite of buckets {sorted(touched)} would drop "
                        f"{f.path} which also covers untouched buckets "
                        f"{sorted(cov - touched)}; sibling-close the touched "
                        "set first (LakeTable.closure_buckets)"
                    )
            else:
                kept.append(f)
        return {
            "schema_json": schema_json or base.schema_json,
            "files": kept + list(new_files),
            "properties": dict(base.properties),
            "summary": summary,
        }

    def evolve_schema(self, new_schema: T.StructType, summary: dict | None = None) -> Snapshot:
        """Additive evolution: new snapshot, same data files, wider schema.

        Old files are null-padded at read time — no rewrite, matching
        Iceberg ``ALTER TABLE ADD COLUMNS`` and the reference's Update mode
        (``DataStoreIngestProcessor.scala:245-252``).
        """
        base = self.snapshot()
        return self._publish(base, {
            "schema_json": new_schema.json(),
            "files": base.files,
            "properties": dict(base.properties),
            "summary": {"operation": "evolve_schema", **(summary or {})},
        })

    def rescale(
        self,
        new_num_buckets: int,
        max_records_per_file: int = 2_000_000,
        lazy: bool = False,
    ) -> Snapshot:
        """Change the table's bucket count — the admin rebalance operation.

        A create-time bucket count is a scaling liability: at 100 TB a table
        created with 32 buckets has ~3 TB rewrites per touched bucket and a
        merge-parallelism ceiling of 32.  ``rescale`` rewrites the table
        under a new modulus in ONE snapshot commit (Iceberg's
        ``REPLACE PARTITION FIELD`` + rewrite, collapsed into one atomic
        step): every row moves to ``pmod(xxhash64(key), B')``, merge-on-read
        deltas are folded (LWW-resolved) along the way, and tombstones are
        preserved so stale replays still cannot resurrect deleted keys.

        Scale shape: one shuffle of the full table on the new bucket column
        (unavoidable for an arbitrary modulus change; the common grow case
        B' = k*B moves each row between co-resident siblings, so the shuffle
        is write-amplification-free per executor), parallelism = B' write
        tasks.  It is an O(table) operation by design — run it rarely, at
        k*B growth steps.  Time travel keeps working: historical snapshots
        retain their own ``num_buckets`` property and ``lookup``/readers
        prune with the modulus of the version they read.

        Concurrency: optimistic like every commit (``optimistic_commit``) —
        a concurrent writer winning the version race invalidates the
        rewrite, which redoes against the new head (the lazy form just
        re-stamps the new head's files).  Concurrent merges that lose
        against a rescale re-derive the modulus fresh (``num_buckets`` is
        never cached) and re-bucket their batch before retrying.

        ``lazy=True`` — incremental rescale, Iceberg partition-spec
        evolution aligned to hash buckets: a METADATA-ONLY commit that
        raises ``num_buckets`` to an integer multiple and stamps every
        inherited file with the modulus its bucket label was computed
        under (``DataFile.modulus``).  No data moves: at 100 TB the eager
        rewrite is an O(table) job one schedules rarely, while the lazy
        form is O(#files) driver metadata — the table is readable and
        writable at the new parallelism immediately.  Old-modulus files
        keep working through congruence coverage (``covered_buckets``) and
        migrate to the new layout as merges and compactions touch them
        (every rewrite stamps out its inputs); ``merge.migrate_layout``
        pays the remaining debt in bounded background commits.  Lazy
        requires growth by an integer factor (coverage of an old label is
        exactly a congruence class only when the old modulus divides the
        new); shrinking or an arbitrary modulus needs the eager rewrite.
        """
        if new_num_buckets <= 0:
            raise ValueError(f"num_buckets must be positive, got {new_num_buckets}")
        from dataclasses import replace as _replace

        def build(base: Snapshot) -> dict | None:
            old = int(base.properties["num_buckets"])
            if old == new_num_buckets:
                return None  # idempotent no-op
            props = dict(base.properties)
            props["num_buckets"] = str(new_num_buckets)
            summary = {
                "operation": "rescale_lazy" if lazy else "rescale",
                "from_buckets": old,
                "to_buckets": new_num_buckets,
            }
            if lazy:
                if new_num_buckets % old != 0 or new_num_buckets < old:
                    raise ValueError(
                        f"lazy rescale requires growing to an integer multiple "
                        f"of the current bucket count ({old} -> "
                        f"{new_num_buckets}); use eager rescale for shrinks "
                        "or arbitrary moduli"
                    )
                # files stamped by an EARLIER lazy rescale keep their stamp
                # (their labels are still under that older modulus, which
                # divides `old` and therefore the new modulus too)
                files = [
                    f if f.modulus is not None else _replace(f, modulus=old)
                    for f in base.files
                ]
                summary["stamped_files"] = sum(
                    1 for f in files if f.modulus is not None
                )
            else:
                df = self.scan(snapshot=base, include_tombstones=True).withColumn(
                    BUCKET_COL, self.bucket_expr(num_buckets=new_num_buckets)
                )
                files = self.write_files(
                    df, base.version + 1, max_records_per_file, kind="base"
                )
                summary["rows_written"] = sum(f.rows for f in files)
            return {
                "schema_json": base.schema_json,
                "files": files,
                "properties": props,
                "summary": summary,
            }

        return self.optimistic_commit(build)

    def expire_snapshots(
        self, keep_last: int = 20, older_than_ms: int | None = None
    ) -> list[int]:
        """Drop ledger entries older than the newest ``keep_last`` versions.

        Metadata hygiene for long replays (10^4+ commits): time travel
        beyond the horizon is gone, exactly-once is preserved because the
        horizon must exceed any possible batch re-delivery window (the
        streaming checkpoint already bounds it to the last epoch).  Tagged
        versions are NEVER expired — that is a tag's purpose; delete the
        tag first.  Branch HEADS are likewise protected (versions are a
        global sequence, so a quiet audit branch would otherwise be
        destroyed by an active main churning past ``keep_last``); a
        branch's interior snapshots may expire like any others, degrading
        its changelog range to the usual loud retention error.  Run
        ``vacuum()`` afterwards to free unreferenced data files.

        ``older_than_ms``: additionally require a snapshot's commit time
        to be before this epoch-ms cutoff (Iceberg's ``expireSnapshots
        (olderThan, retainLast)`` pair) — a snapshot inside the newest
        ``keep_last`` OR at/after the cutoff survives.  The two retention
        axes compose: count bounds metadata size, age bounds how far back
        an operator promise ("7 days of time travel") reaches.
        """
        versions = self.ledger._versions()
        drop = versions[:-keep_last] if keep_last > 0 else []
        if older_than_ms is not None:
            drop = [
                v for v in drop
                if self.ledger.snapshot(v).created_ms < int(older_than_ms)
            ]
        tagged = set(self.ledger.tags().values()) | set(
            self.ledger.branches().values()
        )
        removed = []
        for v in drop:
            if v in tagged:
                continue
            os.unlink(os.path.join(self.ledger.dir, f"v{v:012d}.json"))
            # drop the memoized entry too — a same-process read of the
            # expired version must fail, not serve from cache
            self.ledger._snap_cache.pop(v, None)
            self.ledger._refs_cache.pop(v, None)
            removed.append(v)
        # drop_branch tombstones below the horizon can go too: versions
        # above the newest LIVE snapshot stay claimed, so the version
        # sequence never runs backwards.  The horizon is the LOWEST
        # SURVIVING version (not the count cutoff): an age-protected
        # snapshot below the count horizon keeps its older neighbors'
        # tombstones intact.
        surviving = sorted(set(versions) - set(removed))
        if surviving:
            cutoff = surviving[0]
            for c in self.ledger._claimed_versions():
                if c < cutoff:
                    d = os.path.join(self.ledger.dir, f"d{c:012d}.json")
                    if os.path.exists(d):
                        os.unlink(d)
        return removed

    def gc_changelog(self, retention_versions: int | None = None) -> list[str]:
        """Delete CoW changelog side files older than the retention horizon.

        Changelog side files (``changelog.enabled`` tables) are referenced
        only by commit summaries, so ``vacuum`` keeps them forever; this is
        their explicit GC.  ``retention_versions`` (default: the table
        property ``changelog.retention.versions``; 0/unset = keep all)
        keeps the newest N commits' change rows and deletes older ones.
        ``table_changes`` detects the deletion and raises
        ``ChangelogRetentionError`` instead of returning a silently
        incomplete changelog — the binlog-purged contract.
        """
        cur = self.snapshot()
        if retention_versions is None:
            retention_versions = int(
                cur.properties.get("changelog.retention.versions", "0") or 0
            )
        if retention_versions <= 0:
            return []
        horizon = cur.version - retention_versions
        removed: list[str] = []
        for snap in self.ledger.snapshots():
            if snap.version > horizon:
                continue
            for cf in snap.summary.get("changelog_files") or []:
                full = os.path.join(self.root, cf["path"])
                if os.path.exists(full):
                    os.unlink(full)
                    removed.append(cf["path"])
        return removed

    def vacuum(self, min_age_s: float = 3600.0) -> list[str]:
        """Delete data files and ledger manifests not referenced by any
        snapshot (failed/conflicted commits, expired versions).

        ``min_age_s``: grace period — an unreferenced file younger than
        this is SKIPPED.  A concurrent writer stages its data files (and
        the ledger its manifests) BEFORE the commit publishes references
        to them; a vacuum racing that window would otherwise delete files
        the about-to-win commit cites, corrupting the table.  One hour
        covers any realistic write-files-to-commit gap (Delta's VACUUM has
        the same contract with a 7-day default); pass ``0`` only when no
        writer can be live (tests, decommissioned tables)."""
        import time as _time

        now = _time.time()

        def _in_grace(full: str) -> bool:
            if min_age_s <= 0:
                return False
            try:
                return (now - os.path.getmtime(full)) < min_age_s
            except OSError:
                return True  # raced a concurrent delete/rename: leave it

        referenced = set()
        live_manifests: set[str] = set()
        for snap in self.ledger.snapshots():
            for f in snap.files:
                referenced.add(os.path.normpath(f.path))
            # CoW changelog side files live in the summary, not in files
            for cf in snap.summary.get("changelog_files") or []:
                referenced.add(os.path.normpath(cf["path"]))
            refs = self.ledger.manifest_refs(snap.version)
            for ref in refs or []:
                live_manifests.add(ref["path"])
        removed = []
        data_root = os.path.join(self.root, "data")
        for dirpath, _d, filenames in os.walk(data_root):
            for name in filenames:
                full = os.path.join(dirpath, name)
                rel = os.path.normpath(os.path.relpath(full, self.root))
                if (
                    name.endswith(".parquet")
                    and rel not in referenced
                    and not _in_grace(full)
                ):
                    os.unlink(full)
                    removed.append(rel)
        # Manifest GC: losing commit attempts and expired snapshots leave
        # immutable m-*.json files no remaining snapshot cites.  A crash
        # between staging and publishing a manifest, or before linking a
        # snapshot header, strands its *.json.tmp.<pid> file instead.
        from geomesa_nifi_spark.lake.ledger import MANIFEST_PREFIX
        for name in os.listdir(self.ledger.dir):
            orphan_manifest = (
                name.startswith(MANIFEST_PREFIX)
                and name.endswith(".json")
                and name not in live_manifests
            )
            if (
                (orphan_manifest or ".json.tmp." in name)
                # manifests are written BEFORE the O_EXCL version link: the
                # same staging window as data files, same grace (a live
                # writer's tmp files are younger still)
                and not _in_grace(os.path.join(self.ledger.dir, name))
            ):
                os.unlink(os.path.join(self.ledger.dir, name))
                removed.append(os.path.join(LEDGER_DIR, name))
        return removed


def init_schemas(spark: SparkSession, root: str, specs: dict[str, dict]) -> dict[str, "LakeTable"]:
    """Initialize MANY tables from a name -> spec map, idempotently — the
    reference's multi-SFT startup init from a properties map
    (``PutGeoMesa.scala:106-128``: every configured schema is created if
    absent before the first record flows).

    Spec keys: ``schema`` (StructType, required), ``key_col`` (required),
    ``ts_col``, ``tiebreak_col``, ``num_buckets``, ``properties``.
    """
    out: dict[str, LakeTable] = {}
    for name, spec in specs.items():
        out[name] = LakeTable.create(
            spark,
            os.path.join(root, name),
            spec["schema"],
            key_col=spec["key_col"],
            ts_col=spec.get("ts_col"),
            tiebreak_col=spec.get("tiebreak_col"),
            num_buckets=int(spec.get("num_buckets", 32)),
            properties=spec.get("properties"),
            if_not_exists=True,
        )
    return out


def _bucket_from_path(dirpath: str) -> int:
    for part in reversed(dirpath.split(os.sep)):
        if part.startswith(f"{BUCKET_COL}="):
            return int(part.split("=", 1)[1])
    raise ValueError(f"no {BUCKET_COL}= component in {dirpath}")

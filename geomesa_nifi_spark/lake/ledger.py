"""Snapshot ledger: the atomic-commit log of a lake table.

This plays the role that Iceberg's metadata/snapshot files would play if the
runtime jars were available: every commit writes an immutable JSON snapshot
file ``_ledger/v{version:012d}.json`` created with O_EXCL, so exactly one
writer can claim a version (optimistic concurrency — the loser gets
:class:`CommitConflict`; every writer retries through the one loop
``LakeTable.optimistic_commit``, which rebuilds on the new head).  A
snapshot names the live data files (with per-file bucket +
row-count + zone-map stats for pruning), the table schema at that version,
and a free-form summary carrying the CDC lineage: source batch id, offset
ranges, and row counts.

Manifest layout (commit cost ∝ touched data, not table size)
------------------------------------------------------------
The file list itself lives in immutable *manifest* files
(``_ledger/m-*.json``), one per ``(bucket, kind)`` group, exactly the
Iceberg manifest-list idea aligned to the engine's bucket layout: a commit
rewrites only the manifests of the groups whose file set changed and the
snapshot JSON re-references the parent's manifests for every untouched
group.  A MoR delta append touching k buckets therefore writes k small
delta manifests + one O(#groups) snapshot header; a CoW merge rewrites
manifests only for the buckets whose data it rewrote anyway.  Without this,
every commit would serialize the full table file list — at 10^5 files with
zone maps that is ~80 MB of metadata *per commit*.  Manifests are shared
across snapshots and parsed once per process (memoized by name); snapshots
load their file list lazily, so walking the ledger for batch ids
(exactly-once gate) never touches a manifest.  Snapshots written by older
engine versions carry the file list inline and still load.

Exactly-once: each MERGE commit records its ``batch_id`` in the snapshot
summary.  ``committed_batch_ids()`` walks the ledger, so replaying an
already-committed batch is detected and skipped before any work happens
(reference analogue: commit-after-ack offset discipline in
``GetGeoMesaKafkaRecord.scala:298-302``).

On a real deployment the ledger directory lives on an object store with
conditional-put (S3 If-None-Match / GCS preconditions) giving the same
exactly-one-winner semantics as O_EXCL; manifests are plain immutable PUTs
with unique names, so only the snapshot header needs the conditional write.
A losing writer's freshly-written manifests become unreferenced orphans;
``LakeTable.vacuum()`` collects them.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

LEDGER_DIR = "_ledger"
SNAPSHOT_FMT = "v{:012d}.json"
#: tombstone left behind by drop_branch: the version stays CLAIMED (never
#: reused — every incremental ledger cache keys on a monotonic high-water
#: mark) but carries no snapshot.  Atomic rename v->d, header-sized.
DROPPED_FMT = "d{:012d}.json"
MANIFEST_PREFIX = "m-"
TAG_PREFIX = "tag-"
_TAG_NAME_RE = None  # compiled lazily (regex import kept out of the hot path)


@dataclass(frozen=True)
class DataFile:
    """One immutable parquet data file tracked by the ledger.

    ``kind``: "base" files hold resolved state; "delta" files hold
    merge-on-read change rows (including tombstones) that readers reduce
    with last-writer-wins at scan time until compaction folds them in.

    ``stats``: optional zone map — ``{col: {min, max, nulls, rows}}`` read
    from the parquet footer at commit time (see ``lake/stats.py``); absent
    on files written before the feature existed, which simply never prune.

    ``modulus``: the bucket count the file's ``bucket`` label was computed
    under, when it differs from the snapshot's current ``num_buckets`` —
    set by a LAZY rescale (``LakeTable.rescale(lazy=True)``), which stamps
    every inherited file with the old modulus instead of rewriting data.
    ``None`` (the overwhelmingly common case) means "the snapshot's own
    ``num_buckets``"; readers resolve it per snapshot.  Files with an old
    modulus stay valid because lazy rescale only grows by integer factors,
    so an old label ``b`` under modulus ``m`` covers exactly the current
    buckets ``{b' : b' ≡ b (mod m)}`` — Iceberg's partition-spec-evolution
    idea aligned to hash buckets.
    """

    path: str  # relative to the table root
    bucket: int  # hash-bucket of the key column this file holds
    rows: int
    kind: str = "base"
    stats: dict[str, Any] | None = None
    modulus: int | None = None

    def to_json(self) -> dict[str, Any]:
        out = {"path": self.path, "bucket": self.bucket, "rows": self.rows, "kind": self.kind}
        if self.stats:
            out["stats"] = self.stats
        if self.modulus is not None:
            out["modulus"] = self.modulus
        return out

    @staticmethod
    def from_json(d: dict[str, Any]) -> "DataFile":
        return DataFile(
            path=d["path"],
            bucket=int(d["bucket"]),
            rows=int(d["rows"]),
            kind=d.get("kind", "base"),
            stats=d.get("stats"),
            modulus=(int(d["modulus"]) if d.get("modulus") is not None else None),
        )


def covered_buckets(f: DataFile, num_buckets: int) -> range:
    """The CURRENT buckets a file's rows fall into.

    A file stamped with an old ``modulus`` m (lazy rescale) holds every row
    whose key hashes to ``f.bucket (mod m)`` — under the current modulus
    ``num_buckets = k*m`` that is exactly the congruence class
    ``{f.bucket, f.bucket+m, ..., f.bucket+(k-1)*m}``.  Unstamped files
    (modulus == current) cover just their own bucket."""
    m = f.modulus if f.modulus is not None else num_buckets
    return range(f.bucket, num_buckets, m)


def files_covering(files, buckets, num_buckets: int) -> list[DataFile]:
    """The subset of ``files`` whose coverage intersects ``buckets`` —
    the bucket-pruning primitive, mixed-modulus aware.  A file with
    modulus m matches a wanted bucket b iff ``b % m == f.bucket``; the
    wanted residues are precomputed per distinct modulus so the filter
    stays O(len(files))."""
    residues: dict[int, set[int]] = {}
    out: list[DataFile] = []
    for f in files:
        m = f.modulus if f.modulus is not None else num_buckets
        w = residues.get(m)
        if w is None:
            w = residues[m] = {b % m for b in buckets}
        if f.bucket in w:
            out.append(f)
    return out


#: commit operations that provably change no logical row — they only
#: reorganize files or metadata.  Change readers skip them; everything else
#: (merge / merge_mor / append, but also rollback, publish, and any future
#: op) is data-changing: view refresh diffs its file lists, and the change
#: feed must represent it as change rows or raise.  A denylist fails SAFE:
#: an unknown op is treated as changing rows.
ROW_PRESERVING_OPS = frozenset({
    "create", "create_branch", "compact", "rescale", "rescale_lazy",
    "evolve_schema", "audit_reject",
})


class Snapshot:
    """One committed table version.

    ``files`` is materialized lazily when the snapshot was loaded from a
    manifest-form ledger entry (reading a snapshot's summary — the
    exactly-once batch-id walk — never opens a manifest); snapshots built
    in memory by writers carry their file list eagerly, unchanged.

    ``branch``: the named line of history this snapshot extends (default
    ``"main"``).  Version numbers stay GLOBAL — every commit, on any
    branch, claims the next ledger version with O_EXCL, which is what
    keeps commits atomic — but lineage is the ``parent_version`` chain,
    so branches diverge within one shared version namespace (Iceberg's
    snapshot-DAG-plus-refs model, with the ref stored on the snapshot
    itself).  Snapshots written before branches existed parse as main.
    """

    def __init__(
        self,
        version: int,
        schema_json: str,
        files: list[DataFile] | None = None,
        properties: dict[str, str] | None = None,
        summary: dict[str, Any] | None = None,
        parent_version: int | None = None,
        created_ms: int = 0,
        files_loader: Callable[[], list[DataFile]] | None = None,
        branch: str = "main",
    ):
        if files is None and files_loader is None:
            raise ValueError("Snapshot needs files or files_loader")
        self.version = version
        self.schema_json = schema_json
        self.properties = dict(properties or {})
        self.summary = dict(summary or {})
        self.parent_version = parent_version
        self.created_ms = created_ms
        self.branch = branch
        self._files = files
        self._files_loader = files_loader

    @property
    def files(self) -> list[DataFile]:
        if self._files is None:
            self._files = self._files_loader()
        return self._files

    @property
    def snapshot_id(self) -> int:
        # Monotonic snapshot ids (north rule) == ledger versions.
        return self.version

    def to_json(self) -> dict[str, Any]:
        """Inline (manifest-free) JSON form — the pre-manifest ledger format,
        kept for tooling/tests; ``Ledger.commit`` writes the manifest form."""
        out = {
            "version": self.version,
            "schema_json": self.schema_json,
            "files": [f.to_json() for f in self.files],
            "properties": self.properties,
            "summary": self.summary,
            "parent_version": self.parent_version,
            "created_ms": self.created_ms,
        }
        if self.branch != "main":
            out["branch"] = self.branch
        return out

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        """Parse the inline form (legacy snapshots / tooling)."""
        return Snapshot(
            version=int(d["version"]),
            schema_json=d["schema_json"],
            files=[DataFile.from_json(f) for f in d["files"]],
            properties=dict(d.get("properties") or {}),
            summary=dict(d.get("summary") or {}),
            parent_version=d.get("parent_version"),
            created_ms=int(d.get("created_ms") or 0),
            branch=d.get("branch", "main"),
        )


class CommitConflict(Exception):
    """Another writer claimed this ledger version first."""


class Ledger:
    """Append-only snapshot log under ``<table_root>/_ledger``.

    One handle per thread: the read caches below are not thread-safe.  For
    example, ``_scan_branch_heads`` prunes every cached head missing from
    its own directory listing, so a thread whose listing predates another
    thread's commit can delete the live ``main`` head that commit just
    cached, and ``snapshot()`` then raises ``KeyError`` until the next
    commit.  Threads that share a table open their own ``LakeTable`` on
    its root (as ``run_file_replay``'s view refresher does); handles in
    any number of threads and processes coordinate through the files."""

    def __init__(self, table_root: str):
        self.table_root = table_root
        self.dir = os.path.join(table_root, LEDGER_DIR)
        # Snapshot files are immutable once committed, so they are memoized by
        # version; the batch-id set is maintained incrementally (only versions
        # newer than the last scan are opened).  Without this, a 10^4-commit
        # replay re-parses every snapshot JSON on every merge — O(commits^2)
        # driver-side metadata IO that dominates small-batch latency.
        self._snap_cache: dict[int, Snapshot] = {}
        self._batch_ids: set[str] = set()
        self._batch_ids_seen_version: int = -1
        # Manifests are immutable and shared across snapshots: each is parsed
        # at most once per process regardless of how many snapshots cite it.
        self._manifest_cache: dict[str, list[DataFile]] = {}
        self._refs_cache: dict[int, list[dict[str, Any]] | None] = {}

    # -- reads -----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.dir) and bool(self._versions())

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.dir):
            return []
        out = []
        for name in os.listdir(self.dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def current_version(self) -> int | None:
        versions = self._versions()
        return versions[-1] if versions else None

    def _claimed_versions(self) -> list[int]:
        """Every version number ever claimed: live snapshots plus
        drop_branch tombstones.  Version numbers are NEVER reused — the
        incremental caches (branch heads, batch ids) key on a monotonic
        high-water mark, and a reused number would be invisible to any
        handle that already scanned past it."""
        if not os.path.isdir(self.dir):
            return []
        out = []
        for name in os.listdir(self.dir):
            if name.endswith(".json") and name[0] in ("v", "d"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def next_version(self) -> int:
        """The next free GLOBAL version number.  Branch commits allocate
        from the same sequence as main (the O_EXCL claim on the version
        file is the atomicity primitive), so this is max+1 over every
        claimed number — including drop_branch tombstones — regardless of
        which branch the committing writer extends."""
        claimed = self._claimed_versions()
        return claimed[-1] + 1 if claimed else 0

    # -- branches ----------------------------------------------------------
    #
    # A branch is the chain of snapshots labeled with its name; the head is
    # simply the newest such snapshot.  Heads are maintained incrementally
    # (only versions newer than the last walk are opened — header-only
    # reads, never manifests), mirroring the committed_batch_ids() walk.

    def _scan_branch_heads(self) -> dict[str, int]:
        if not hasattr(self, "_branch_heads"):
            self._branch_heads: dict[str, int] = {}
            self._branch_seen_version = -1
        live = self._versions()
        for v in live:
            if v > self._branch_seen_version:
                try:
                    b = self.snapshot(v).branch
                except FileNotFoundError:
                    # dropped (or expired) by another handle since the
                    # listing: a dead version is no branch's head
                    continue
                if self._branch_heads.get(b, -1) < v:
                    self._branch_heads[b] = v
                self._branch_seen_version = v
        # a drop_branch (this process or another) deletes the branch's
        # snapshot files — a cached head whose version no longer exists is
        # a dead branch, not a stale answer waiting to be served
        live_set = set(live)
        for b, v in list(self._branch_heads.items()):
            if v not in live_set:
                del self._branch_heads[b]
        return self._branch_heads

    def head_version(self, branch: str = "main") -> int | None:
        """Newest version on ``branch`` (None if the branch has no
        snapshots).  For ``main`` on a pre-branch ledger this is exactly
        ``current_version()`` — every legacy snapshot is main."""
        return self._scan_branch_heads().get(branch)

    def branches(self) -> dict[str, int]:
        """All branch names -> head version."""
        return dict(self._scan_branch_heads())

    # -- tags --------------------------------------------------------------
    #
    # Named immutable refs to snapshot versions (Iceberg-tag semantics):
    # one small JSON file per tag, created with O_EXCL so two writers
    # cannot silently race the same name.  Tags pin their version against
    # ``expire_snapshots`` — a tagged version stays time-travelable until
    # the tag is deleted.

    @staticmethod
    def _check_tag_name(name: str) -> str:
        global _TAG_NAME_RE
        if _TAG_NAME_RE is None:
            import re

            _TAG_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]{0,127}\Z")
        if not _TAG_NAME_RE.match(name):
            raise ValueError(
                f"invalid tag name {name!r}: use [A-Za-z0-9][A-Za-z0-9._-]*"
            )
        return name

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.dir, f"{TAG_PREFIX}{self._check_tag_name(name)}.json")

    def tags(self) -> dict[str, int]:
        """All tags -> version. Tag files are tiny; listing is O(#tags)."""
        out: dict[str, int] = {}
        if not os.path.isdir(self.dir):
            return out
        for fname in os.listdir(self.dir):
            if fname.startswith(TAG_PREFIX) and fname.endswith(".json"):
                with open(os.path.join(self.dir, fname)) as fh:
                    d = json.load(fh)
                out[d["name"]] = int(d["version"])
        return out

    def create_tag(self, name: str, version: int, replace: bool = False) -> None:
        """Tag ``version`` as ``name``.  O_EXCL create: concurrent creates
        of the same tag get exactly one winner; ``replace=True`` retags
        (unlink + recreate — an admin op, not a concurrency primitive)."""
        if version not in self._versions():
            raise KeyError(f"version {version} not in ledger {self.dir}")
        path = self._tag_path(name)
        doc = {"name": name, "version": int(version),
               "created_ms": int(time.time() * 1000)}
        if replace and os.path.exists(path):
            os.unlink(path)
        tmp = path + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError as exc:
            raise CommitConflict(f"tag {name!r} already exists") from exc
        finally:
            os.unlink(tmp)

    def delete_tag(self, name: str) -> None:
        path = self._tag_path(name)
        if not os.path.exists(path):
            raise KeyError(f"no tag {name!r} in {self.dir}")
        os.unlink(path)

    def resolve_tag(self, name: str) -> int:
        path = self._tag_path(name)
        try:
            with open(path) as fh:
                return int(json.load(fh)["version"])
        except FileNotFoundError:
            raise KeyError(f"no tag {name!r} in {self.dir}") from None

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no snapshots in {self.dir}")
        snap = self._snap_cache.get(version)
        if snap is None:
            path = os.path.join(self.dir, SNAPSHOT_FMT.format(version))
            with open(path) as fh:
                d = json.load(fh)
            refs = d.get("manifests")
            if refs is not None:
                self._refs_cache[int(d["version"])] = refs
                snap = Snapshot(
                    version=int(d["version"]),
                    schema_json=d["schema_json"],
                    files_loader=lambda r=refs: [
                        f for ref in r for f in self._load_manifest(ref["path"])
                    ],
                    properties=dict(d.get("properties") or {}),
                    summary=dict(d.get("summary") or {}),
                    parent_version=d.get("parent_version"),
                    created_ms=int(d.get("created_ms") or 0),
                    branch=d.get("branch", "main"),
                )
            else:
                self._refs_cache[int(d["version"])] = None
                snap = Snapshot.from_json(d)
            self._snap_cache[version] = snap
        return snap

    def snapshots(self) -> list[Snapshot]:
        return [self.snapshot(v) for v in self._versions()]

    def manifest_refs(self, version: int) -> list[dict[str, Any]] | None:
        """The manifest references of a committed version (``None`` for
        legacy inline snapshots).  Used by vacuum for manifest GC."""
        if version not in self._refs_cache:
            self.snapshot(version)
        return self._refs_cache.get(version)

    def _load_manifest(self, name: str) -> list[DataFile]:
        files = self._manifest_cache.get(name)
        if files is None:
            with open(os.path.join(self.dir, name)) as fh:
                d = json.load(fh)
            files = [DataFile.from_json(f) for f in d["files"]]
            self._manifest_cache[name] = files
        return files

    def committed_batch_ids(self) -> set[str]:
        """Batch ids of every committed snapshot (exactly-once gate).

        Incremental: only snapshots newer than the last call are opened, so a
        long replay pays O(new commits) per merge, not O(all commits); the
        lazy file list means this walk reads snapshot headers only, never
        manifests.  Ids are retained even after ``expire_snapshots`` drops
        old ledger entries in-process — replaying an expired batch is still
        detected."""
        for v in self._versions():
            if v > self._batch_ids_seen_version:
                summary = self.snapshot(v).summary
                bid = summary.get("batch_id")
                if bid is not None:
                    self._batch_ids.add(str(bid))
                # a WAP publish carries its staged commits' batch ids, so
                # exactly-once survives drop_branch / expiry of the staged
                # snapshots themselves
                self._batch_ids.update(
                    str(b) for b in summary.get("published_batch_ids") or []
                )
                self._batch_ids_seen_version = v
        return self._batch_ids

    # -- writes ----------------------------------------------------------

    def _parent_groups(
        self, parent_version: int | None
    ) -> dict[tuple[int, str], tuple[dict[str, Any], frozenset[str]]]:
        """Map ``(bucket, kind) -> (manifest ref, file-path set)`` for the
        parent snapshot's manifests, for reuse detection.  Empty when the
        parent is absent, expired, or a legacy inline snapshot."""
        if parent_version is None:
            return {}
        try:
            refs = self.manifest_refs(parent_version)
        except FileNotFoundError:
            return {}
        if not refs:
            return {}
        out: dict[tuple[int, str], tuple[dict[str, Any], frozenset]] = {}
        for ref in refs:
            group = (int(ref["bucket"]), str(ref["kind"]))
            # (path, modulus) pairs: a lazy rescale changes file ENTRIES
            # (the modulus stamp) without changing paths — reusing the
            # parent manifest on a path-only match would silently drop the
            # stamp.
            paths = frozenset(
                (f.path, f.modulus) for f in self._load_manifest(ref["path"])
            )
            out[group] = (ref, paths)
        return out

    def _stage_manifest(self, version: int, bucket: int, kind: str,
                        files: list[DataFile]):
        """Write a manifest tmp file WITHOUT fsync; returns
        ``(ref, tmp_path, files)`` for :meth:`_publish_manifests`."""
        name = (
            f"{MANIFEST_PREFIX}{version:012d}-{kind[0]}{bucket:04d}"
            f"-{uuid.uuid4().hex[:8]}.json"
        )
        tmp = os.path.join(self.dir, name + f".tmp.{os.getpid()}")
        with open(tmp, "w") as fh:
            json.dump({"files": [f.to_json() for f in files]}, fh)
            fh.flush()
        ref = {
            "path": name,
            "bucket": bucket,
            "kind": kind,
            "n_files": len(files),
            "rows": sum(f.rows for f in files),
        }
        return ref, tmp, files

    def _publish_manifests(self, staged) -> None:
        """fsync every staged manifest, THEN rename all into place.

        Write-all/fsync-all/rename-all instead of per-manifest
        write+fsync: each fsync forces a filesystem journal commit, and on
        ext4 data=ordered that commit also flushes unrelated dirty data —
        under a write-heavy phase (a bulk load that just materialized GBs
        of parquet) 64 sequential per-bucket fsyncs were observed stalling
        a commit by seconds.  Batched, the FIRST fsync pays the shared
        journal flush (all manifest bytes are already written) and the
        rest are near-free; a small pool overlaps the waits (fsync
        releases the GIL).  Durability and atomicity are unchanged:
        nothing is visible until the snapshot header — written and
        fsynced AFTER every manifest — publishes via O_EXCL link, and a
        crash mid-batch leaves only unreferenced files for vacuum,
        exactly as before."""
        if not staged:
            return
        import concurrent.futures

        def _sync(tmp_path: str) -> None:
            fd = os.open(tmp_path, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)

        if len(staged) == 1:
            _sync(staged[0][1])
        else:
            with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
                list(pool.map(_sync, [tmp for (_ref, tmp, _files) in staged]))
        for ref, tmp, files in staged:
            # unique name -> plain atomic rename (no race window to guard)
            os.rename(tmp, os.path.join(self.dir, ref["path"]))
            self._manifest_cache[ref["path"]] = list(files)

    def _same_branch_in_gap(
        self, branch: str, parent: int | None, version: int
    ) -> int | None:
        """First version strictly between ``parent`` and ``version`` that
        was committed to ``branch``, or None.  An up-to-date writer has an
        empty gap, so the common-case cost is one directory listing; the
        gap is non-empty only when version numbers (a GLOBAL sequence) were
        claimed by OTHER branches' writers in between, and those header
        reads are memoized."""
        lo = -1 if parent is None else parent
        for v in self._versions():
            if lo < v < version:
                try:
                    if self.snapshot(v).branch == branch:
                        return v
                except FileNotFoundError:
                    continue  # retracted by a concurrent loser mid-check
        return None

    def commit(self, snapshot: Snapshot) -> Snapshot:
        """Atomically publish ``snapshot`` as the next ledger version.

        Writes one manifest per ``(bucket, kind)`` group whose file set
        differs from the parent snapshot's, re-references the parent's
        manifest for every unchanged group, then publishes the snapshot
        header with O_EXCL create: if the target version file already
        exists another writer won the race -> CommitConflict.  This method
        makes one attempt; ``LakeTable.optimistic_commit`` re-reads the
        head and rebuilds on top of it (the loser's orphaned manifests are
        collected by vacuum).

        Version numbers are GLOBAL across branches, so a version collision
        alone no longer proves the writer's base is current: a concurrent
        commit *to the same branch* may have claimed a lower free version,
        and blindly publishing on top would silently drop its files from
        this snapshot's list (lost update).  ``commit`` therefore also
        enforces branch-head optimistic concurrency: no snapshot on this
        snapshot's branch may exist between ``parent_version`` and the
        claimed version.  Checked cheaply before the claim (no orphan
        manifests, no exposure) and re-checked after the O_EXCL link wins
        (closing the race); a post-link violation retracts the published
        header and raises :class:`CommitConflict` like any lost race.  The
        retraction window — link to unlink — is a few microseconds of
        metadata work; a concurrent *process* listing the ledger inside it
        could transiently observe the doomed version (same caveat class as
        Iceberg on filesystems without atomic conditional-put; an
        object-store deployment would use If-None-Match on the header and
        have no window at all).
        """
        os.makedirs(self.dir, exist_ok=True)
        clash = self._same_branch_in_gap(
            snapshot.branch, snapshot.parent_version, snapshot.version
        )
        if clash is not None:
            raise CommitConflict(
                f"branch {snapshot.branch!r} advanced to v{clash} past this "
                f"writer's base v{snapshot.parent_version} in {self.dir}"
            )
        snapshot.created_ms = int(time.time() * 1000)

        groups: dict[tuple[int, str], list[DataFile]] = {}
        for f in snapshot.files:
            groups.setdefault((f.bucket, f.kind), []).append(f)
        parent = self._parent_groups(snapshot.parent_version)
        refs: list[dict[str, Any]] = []
        staged = []
        for (bucket, kind) in sorted(groups):
            files = groups[(bucket, kind)]
            inherited = parent.get((bucket, kind))
            if inherited is not None and inherited[1] == frozenset(
                (f.path, f.modulus) for f in files
            ) and len(inherited[1]) == len(files):
                refs.append(inherited[0])
            else:
                st = self._stage_manifest(snapshot.version, bucket, kind, files)
                staged.append(st)
                refs.append(st[0])
        # one batched durability point for every new manifest (see
        # _publish_manifests for why this is NOT per-manifest fsync)
        self._publish_manifests(staged)

        doc = {
            "version": snapshot.version,
            "schema_json": snapshot.schema_json,
            "manifests": refs,
            "properties": snapshot.properties,
            "summary": snapshot.summary,
            "parent_version": snapshot.parent_version,
            "created_ms": snapshot.created_ms,
        }
        if snapshot.branch != "main":
            doc["branch"] = snapshot.branch
        path = os.path.join(self.dir, SNAPSHOT_FMT.format(snapshot.version))
        tmp = path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # link() fails with EEXIST if the version was claimed -> atomic
            # fail-if-exists publish (rename() would silently overwrite).
            os.link(tmp, path)
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {snapshot.version} already committed in {self.dir}"
            ) from exc
        finally:
            os.unlink(tmp)
        # Re-validate branch-head currency now that the claim is ordered:
        # a same-branch commit that linked a lower version between our
        # pre-check and our link would otherwise be silently leapfrogged.
        clash = self._same_branch_in_gap(
            snapshot.branch, snapshot.parent_version, snapshot.version
        )
        if clash is not None:
            os.unlink(path)
            self._snap_cache.pop(snapshot.version, None)
            self._refs_cache.pop(snapshot.version, None)
            raise CommitConflict(
                f"branch {snapshot.branch!r} advanced to v{clash} past this "
                f"writer's base v{snapshot.parent_version} in {self.dir} "
                f"(claim v{snapshot.version} retracted)"
            )
        self._snap_cache[snapshot.version] = snapshot
        self._refs_cache[snapshot.version] = refs
        return snapshot

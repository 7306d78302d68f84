"""Metadata inspection tables — the lake's ops surface as DataFrames.

Iceberg exposes ``table.files`` / ``table.snapshots`` / ``table.partitions``
metadata tables; the reference exposes per-processor provenance counters in
the NiFi UI (``DataStoreIngestProcessor.scala`` success/failure attributes).
This module is the engine's equivalent: ledger metadata surfaced as small
DataFrames so operators can watch a 100-TB table without touching data
files — skew (hot buckets), compaction debt (delta counts), rescale debt
(old-modulus files), snapshot cadence, zone-map coverage.

Everything here is built driver-side from the ledger (snapshot headers +
per-bucket manifests) and handed to ``spark.createDataFrame``: commit
metadata is O(touched buckets) per commit by design, so even very large
tables hold metadata orders of magnitude smaller than data.  No data file
is opened.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from geomesa_nifi_spark.lake.table import LakeTable

__all__ = ["files_df", "snapshots_df", "partitions_df", "orphans_df"]

_FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("rows", T.LongType()),
        T.StructField("modulus", T.IntegerType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("stats_json", T.StringType()),
    ]
)

_SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("parent_version", T.LongType()),
        T.StructField("branch", T.StringType()),
        T.StructField("committed_at_ms", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField("batch_id", T.StringType()),
        T.StructField("num_files", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("summary_json", T.StringType()),
    ]
)

_PARTITIONS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("num_files", T.LongType()),
        T.StructField("base_files", T.LongType()),
        T.StructField("delta_files", T.LongType()),
        T.StructField("rows", T.LongType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("old_modulus_files", T.LongType()),
    ]
)


def files_df(
    table: LakeTable, version: int | str | None = None, with_sizes: bool = True
) -> DataFrame:
    """One row per live data file at ``version`` (default: head).

    ``size_bytes`` comes from a filesystem stat per file (cheap local
    metadata; pass ``with_sizes=False`` to skip it on remote stores where
    a stat is a round trip).  ``stats_json`` is the ledger zone map,
    verbatim."""
    snap = table.snapshot(version)
    rows = []
    for f in snap.files:
        size = None
        if with_sizes:
            try:
                size = os.path.getsize(os.path.join(table.root, f.path))
            except OSError:
                size = None
        rows.append(
            (
                f.path,
                f.bucket,
                f.kind,
                f.rows,
                f.modulus,
                size,
                json.dumps(f.stats, sort_keys=True) if f.stats else None,
            )
        )
    return table.spark.createDataFrame(rows, _FILES_SCHEMA)


def snapshots_df(table: LakeTable, all_branches: bool = False) -> DataFrame:
    """One row per committed snapshot on the table's branch (or every
    branch).  ``num_files``/``total_rows`` open the snapshot's manifests;
    the walk is O(history) metadata IO, same as ``table.history()``."""
    rows = []
    for s in table.history(all_branches=all_branches):
        rows.append(
            (
                s.version,
                s.parent_version,
                s.branch,
                s.created_ms,
                s.summary.get("operation"),
                s.summary.get("batch_id"),
                len(s.files),
                sum(f.rows for f in s.files),
                json.dumps(s.summary, sort_keys=True, default=str),
            )
        )
    return table.spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)


def partitions_df(table: LakeTable, version: int | str | None = None) -> DataFrame:
    """Per-bucket health at ``version``: file/row counts, base vs delta
    split (compaction debt), bytes, and old-modulus file counts (lazy-
    rescale migration debt).  This is the skew dashboard: a hot domain
    shows up as one bucket's rows/bytes far above the median."""
    snap = table.snapshot(version)
    nb = int(snap.properties["num_buckets"])
    agg: dict[int, list[int]] = {}
    for f in snap.files:
        a = agg.setdefault(f.bucket, [0, 0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += 1 if f.kind == "base" else 0
        a[2] += 1 if f.kind == "delta" else 0
        a[3] += f.rows
        try:
            a[4] += os.path.getsize(os.path.join(table.root, f.path))
        except OSError:
            pass
        # same debt predicate as migrate_layout: a stamp equal to the
        # current modulus is NOT debt (migrate_layout would never touch it)
        a[5] += 1 if (f.modulus or nb) != nb else 0
    rows = [
        (b, v[0], v[1], v[2], v[3], v[4], v[5]) for b, v in sorted(agg.items())
    ]
    return table.spark.createDataFrame(rows, _PARTITIONS_SCHEMA)


_ORPHANS_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("modified_ms", T.LongType()),
    ]
)


def orphans_df(table: LakeTable, min_age_s: float = 3600.0) -> DataFrame:
    """Data files on disk referenced by NO live snapshot (any branch) —
    a read-only dry run of what ``vacuum()`` would delete.  Orphans come
    from failed write attempts, lost commit races, and expired snapshots;
    at 100 TB an operator wants their volume visible (and billed storage
    explained) before running the deleting pass.

    ``min_age_s`` mirrors ``vacuum()``'s grace period (same default): a
    live writer's freshly staged files are NOT reported as deletable —
    vacuum would skip them too.  Pass ``0`` to see every unreferenced
    file regardless of age.

    Scope note: this walks ``data/`` only.  ``vacuum()`` additionally
    GCs unreferenced ledger manifests and tmp files stranded by crashed
    commits; those (tiny, bounded by commit attempts) are not listed
    here."""
    import time as _time

    now = _time.time()
    referenced: set[str] = set()
    for snap in table.ledger.snapshots():
        for f in snap.files:
            referenced.add(os.path.normpath(f.path))
        for cf in snap.summary.get("changelog_files") or []:
            referenced.add(os.path.normpath(cf["path"]))
    rows = []
    data_root = os.path.join(table.root, "data")
    for dirpath, _d, filenames in os.walk(data_root):
        for name in filenames:
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, name)
            rel = os.path.normpath(os.path.relpath(full, table.root))
            if rel in referenced:
                continue
            try:
                st = os.stat(full)
            except OSError:
                continue  # raced a concurrent delete: not an orphan anymore
            if min_age_s > 0 and (now - st.st_mtime) < min_age_s:
                continue  # inside vacuum's grace window: not deletable yet
            rows.append((rel, st.st_size, int(st.st_mtime * 1000)))
    return table.spark.createDataFrame(rows, _ORPHANS_SCHEMA)

"""Per-batch lineage + metrics (north rule: per-partition offset ranges,
commit snapshot, row counts, throughput/lag).

The reference's accounting is per-FlowFile success/failure attributes routed
to success/failure relationships (``DataStoreIngestProcessor.scala:100-115``,
``processor/package.scala:79-102``) plus a Micrometer counter
(``GetGeoMesaKafkaRecord.scala:177-178,300``).  Here every MERGE commit's
ledger summary carries the equivalent — and because it is committed
atomically *with* the data, lineage can never disagree with table state.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_nifi_spark.lake.table import LakeTable


def partition_offset_ranges(
    batch: DataFrame, partition_col: str = "partition", offset_col: str = "offset"
) -> list[dict]:
    """Min/max offset + count per source partition for one micro-batch.

    One tiny aggregate (rows == number of source partitions) collected to
    the driver — the same shape as a Kafka offset-range commit.
    """
    if partition_col not in batch.columns or offset_col not in batch.columns:
        return []
    rows = (
        batch.groupBy(partition_col)
        .agg(
            F.min(offset_col).alias("min_offset"),
            F.max(offset_col).alias("max_offset"),
            F.count(F.lit(1)).alias("rows"),
        )
        .collect()
    )
    return sorted(
        (
            {
                "partition": r[partition_col],
                "min_offset": r["min_offset"],
                "max_offset": r["max_offset"],
                "rows": r["rows"],
            }
            for r in rows
        ),
        key=lambda d: d["partition"],
    )


def lineage_records(table: LakeTable) -> list[dict]:
    """Flatten the ledger into one lineage record per commit."""
    out = []
    for snap in table.history():
        s = snap.summary
        out.append(
            {
                "snapshot_id": snap.snapshot_id,
                "parent": snap.parent_version,
                "operation": s.get("operation"),
                "batch_id": s.get("batch_id"),
                "rows_written": s.get("rows_written"),
                "inserted": s.get("inserted"),
                "updated": s.get("updated"),
                "deleted": s.get("deleted"),
                "touched_buckets": s.get("touched_buckets"),
                "offset_ranges": (s.get("lineage") or {}).get("offset_ranges"),
                "created_ms": snap.created_ms,
            }
        )
    return out


class BatchMetrics:
    """Append-only JSONL of per-batch throughput, for operators to watch
    lag (≙ PrometheusRegistryService.scala:27-96)."""

    def __init__(self, path: str | None):
        self.path = path
        self._t0: float | None = None

    def batch_start(self) -> None:
        self._t0 = time.monotonic()

    def batch_end(self, batch_id, rows: int, extra: dict | None = None) -> dict:
        elapsed = time.monotonic() - (self._t0 or time.monotonic())
        rec = {
            "batch_id": batch_id,
            "rows": rows,
            "seconds": round(elapsed, 3),
            "events_per_sec": round(rows / elapsed, 1) if elapsed > 0 else None,
            **(extra or {}),
        }
        if self.path:
            with open(self.path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
        return rec

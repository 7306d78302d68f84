"""geomesa_nifi_spark — a from-scratch PySpark-native CDC / incremental-ingest
engine with the capabilities of geomesa/geomesa-nifi, re-expressed Spark-first.

The reference (geomesa-nifi) is a set of NiFi processors that convert untyped
record streams into typed features and upsert them into pluggable GeoTools
DataStores (see /root/repo/SURVEY.md).  This engine re-imagines that pipeline
as:

    change-event stream (file / generated)            sources/
      -> vectorized Arrow extraction (html->text)     functions/extract.py
      -> converter / schema reconcile                 functions/convert.py, lake/evolution.py
      -> per-key last-writer-wins dedup               operators/dedup.py
      -> idempotent MERGE INTO a snapshot-ledger      lake/ (table.py, merge.py, ledger.py)
         parquet lake table (exactly-once)
      -> per-batch lineage + metrics                  streaming/lineage.py

Everything is DataFrame/SQL-first: Catalyst plans the joins and aggregations,
Arrow UDFs (``arrow_udf``) are used only for the genuinely non-relational
extraction stage, and no per-row Python runs anywhere in the hot path.
"""

from geomesa_nifi_spark.lake import (  # noqa: F401
    CompatibilityMode,
    LakeTable,
    SchemaCompatibilityError,
    append_only,
    compact,
    merge_changes,
    rewrite_fids,
    update_by_attribute,
)
from geomesa_nifi_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"

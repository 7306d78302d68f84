"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or a
training-data-pipeline extension) running over the driver's parquet tables;
``oracle_sql()`` gives the DuckDB-equivalent SQL.  Every query has a full
oracle: the hash-dependent operators (SimHash, RHP-LSH, media features) use
md5/sha-derived hash families that DuckDB recomputes in SQL, and the
approximate paths (MinHash-LSH, RHP bucketing) are configured so their
verified output equals the exact result on these corpora (recall checked at
sf0.001/0.01/0.1).

The CDC queries derive a change stream from the ``events`` table:
key = url built from user_id, event time = ts, total order tie-break =
event_id, op = delete for event_id % 10 < 2 else upsert.  Timestamps are
compared as epoch microseconds (``unix_micros`` / ``epoch_us``) and doubles
are rounded, so value hashes match across engines.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# shared change-stream derivation (Spark side)
# ---------------------------------------------------------------------------

_CHANGES_SQL_CTE = """
  SELECT 'https://u.example.org/' || user_id AS url,
         ts AS warc_ts,
         event_id AS src_offset,
         event_type,
         round(value, 4) AS value,
         CASE WHEN event_id % 10 < 2 THEN 'delete' ELSE 'upsert' END AS op
  FROM events
"""

_LWW_STATE_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww WHERE rn = 1 AND op <> 'delete'
"""


def _normalize_session(spark: SparkSession) -> SparkSession:
    """Make timestamp semantics independent of the caller's session config.

    The driver runs these queries in a *default* Spark 4 session, where
    parquet ``timestamp[us]`` infers as TIMESTAMP_NTZ and the session time
    zone is whatever the host has.  Pinning UTC makes the NTZ->LTZ cast at
    the derivation boundary a bit-identical reinterpretation, so
    ``unix_micros`` equals DuckDB's ``epoch_us`` regardless of session.

    Also right-sizes runtime-settable perf knobs for the gate's scale: the
    default 200 shuffle partitions turn every tiny-sf merge/join into 200
    near-empty tasks, which multiplies per-job scheduling latency ~6x on
    the replay queries (each runs a dozen shuffles)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    par = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(par, 16)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # INT96 (the legacy default) has no parquet min/max stats — with micros
    # the lake tables these gates create carry timestamp zone maps too
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    return spark


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _normalize_session(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        F.concat(F.lit("https://u.example.org/"), F.col("user_id").cast("string")).alias("url"),
        # cast at the derivation boundary: under a default session the parquet
        # ts arrives as TIMESTAMP_NTZ; with UTC session TZ this cast keeps the
        # stored micros, so every downstream unix_micros/window/merge sees one
        # timestamp type whatever session the driver built.
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.col("event_id").alias("src_offset"),
        F.col("event_type"),
        F.round(F.col("value"), 4).alias("value"),
        F.when(F.col("event_id") % 10 < 2, "delete").otherwise("upsert").alias("op"),
    )


def _finalize_state(df: DataFrame) -> DataFrame:
    """Project the LWW survivor set to the oracle's column shape."""
    return df.filter(F.col("op") != "delete").select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


def _lww_state(strategy: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from geomesa_nifi_spark.operators.dedup import lww_dedup

        ch = _changes(spark, sf_dir)
        return _finalize_state(lww_dedup(ch, "url", ["warc_ts", "src_offset"], strategy=strategy))

    return q


# ---------------------------------------------------------------------------
# lake replay queries (the engine itself, end to end)
# ---------------------------------------------------------------------------

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("src_offset", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


_REPLAY_CACHE: dict[tuple, object] = {}


def _replay_table(spark: SparkSession, sf_dir: str, batch_order, mode: str = "cow", cache: bool = True):
    """Replay the events change stream through a real lake table (MERGE per
    batch, batches = event_id mod 4, applied in ``batch_order``).

    Cached per (sf_dir, order, mode) within the process: several gate
    queries interrogate the same replayed table (final state, time travel,
    changelog), and the replay is deterministic, so recomputing it per
    query would only burn gate time."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    cache_key = (sf_dir, tuple(batch_order), mode)
    cached = _REPLAY_CACHE.get(cache_key) if cache else None
    if cached is not None:
        return cached

    ch = _changes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="gns_entry_") + "/pages"
    table = LakeTable.create(
        spark,
        root,
        _STATE_SCHEMA,
        key_col="url",
        ts_col="warc_ts",
        tiebreak_col="src_offset",
        num_buckets=16,
    )
    for b in batch_order:
        batch = ch.filter(F.pmod(F.col("src_offset"), F.lit(len(batch_order))) == b)
        merge_changes(table, batch, batch_id=f"entry-{b}", mode=mode)
    if cache:
        _REPLAY_CACHE[cache_key] = table
    return table


def _final_state(table) -> DataFrame:
    return table.scan().select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


def _replay(spark: SparkSession, sf_dir: str, batch_order, mode: str = "cow") -> DataFrame:
    """Final visible state after replay.  Tombstones make the result identical
    for any batch order — which is exactly what the scrambled variant asserts."""
    return _final_state(_replay_table(spark, sf_dir, batch_order, mode=mode))


def _merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _replay(spark, sf_dir, [0, 1, 2, 3])


def _merge_replay_scrambled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _replay(spark, sf_dir, [2, 0, 3, 1])


def _merge_replay_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same replay through the merge-on-read path (delta commits + read-time
    LWW resolution + auto-compaction) — final state must be identical."""
    return _replay(spark, sf_dir, [1, 3, 0, 2], mode="mor")


def _merge_replay_rescaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay with a mid-stream bucket rescale (8 -> 32 via
    ``LakeTable.rescale``, the admin rebalance for tables that outgrow
    their create-time bucket count): first half merges MoR at 8 buckets,
    the rescale folds the deltas while moving every row to the new modulus,
    the second half merges CoW at 32.  The layout change must be invisible
    to the final state — LWW order, tombstones, and exactly-once all
    survive it, and the oracle is the identical LWW CTE."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    ch = _changes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="gns_entry_") + "/pages"
    table = LakeTable.create(
        spark, root, _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset",
        num_buckets=8,
    )
    for b in (0, 1):
        merge_changes(
            table,
            ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"entry-rs-{b}", mode="mor", auto_compact=False,
        )
    table.rescale(32)
    for b in (2, 3):
        merge_changes(
            table,
            ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"entry-rs-{b}", mode="cow",
        )
    return _final_state(table)


def _merge_replay_rescaled_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay across a LAZY rescale (8 -> 32 via
    ``LakeTable.rescale(lazy=True)`` — the metadata-only variant that stamps
    inherited files with their old modulus instead of rewriting 100 TB):
    first half merges MoR at 8 buckets, the lazy commit raises the modulus
    without moving a byte, the second half merges CoW at 32 — migrating
    exactly the sibling groups it touches.  The final read runs over a
    MIXED-modulus file set (congruence-coverage pruning + residual bucket
    filter, ``lake/ledger.py covered_buckets``), and must still equal the
    identical LWW oracle."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    ch = _changes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="gns_entry_") + "/pages"
    table = LakeTable.create(
        spark, root, _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset",
        num_buckets=8,
    )
    for b in (0, 1):
        merge_changes(
            table,
            ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"entry-rsl-{b}", mode="mor", auto_compact=False,
        )
    table.rescale(32, lazy=True)
    for b in (2, 3):
        merge_changes(
            table,
            ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"entry-rsl-{b}", mode="cow",
        )
    return _final_state(table)


def _bootstrap_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial-snapshot bootstrap + incremental tail (lake/bootstrap.py) —
    the Debezium snapshot-then-stream shape over the reference's
    bulk-append-then-modify operational pattern
    (mixins/FeatureWriters.scala:306-318).

    Cut the change stream at the median position C: the source's state at
    C (the LWW of events with src_offset < C, tombstones preserved) is
    bulk-loaded as sorted base files in ONE commit recording offset_hwm =
    C-1; the tail then redelivers an overlapping slice — including pre-cut
    upserts WITHOUT their pre-cut deletes, the resurrection hazard —
    which handoff_filter drops by position before normal MoR merges apply
    the rest.  Final state must equal the LWW of the FULL stream (the
    identical oracle CTE as cdc_merge_replay)."""
    from geomesa_nifi_spark.lake import (
        LakeTable, bootstrap_load, handoff_filter, merge_changes,
    )
    from geomesa_nifi_spark.operators.dedup import lww_dedup

    ch = _changes(spark, sf_dir)
    cut = (ch.agg(F.max("src_offset").alias("m")).first()["m"] + 1) // 2
    pre = ch.filter(F.col("src_offset") < cut)
    post = ch.filter(F.col("src_offset") >= cut)

    root = tempfile.mkdtemp(prefix="gns_entry_") + "/pages"
    table = LakeTable.create(
        spark, root, _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset",
        num_buckets=16,
    )
    snap = lww_dedup(pre, "url", ["warc_ts", "src_offset"])
    bootstrap_load(table, snap, batch_id="entry-boot",
                   offset_hwm=cut - 1, op_col="op")
    # tail with overlap: the last quarter of the pre-cut stream comes back,
    # but ONLY its upserts (dropped deletes = the resurrect hazard the
    # position filter closes)
    overlap = pre.filter(
        (F.col("src_offset") >= cut // 2) & (F.col("op") != "delete")
    )
    tail = handoff_filter(table, post.unionByName(overlap), "src_offset")
    for b in (0, 1):
        merge_changes(
            table,
            tail.filter(F.pmod(F.col("src_offset"), F.lit(2)) == b),
            batch_id=f"entry-boot-tail-{b}", mode="mor",
        )
    return _final_state(table)


def _read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-optimized MoR view (scan(read_optimized=True), the Hudi RO
    table): base files only, NO read-time LWW pass.  After compaction
    folds every bucket, the RO view must equal the real-time view — i.e.
    the same full-stream LWW oracle.  This pins both halves of the
    contract: compaction leaves nothing behind in deltas, and the
    base-only read path (still tombstone-filtering, zone-map pruning)
    resolves to the identical state."""
    from geomesa_nifi_spark.lake import compact

    table = _replay_table(spark, sf_dir, [3, 1, 2, 0], mode="mor")
    compact(table)  # fold any remaining deltas: RO == RT from here on
    return table.scan(read_optimized=True).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


def _incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized aggregate (``lake/materialize.py``) — the
    downstream CDC consumer the reference leaves unspecified past its
    Kafka egress (``GetGeoMesaKafkaRecord``): a per-event_type
    (count, sum(src_offset)) view maintained by incremental refresh after
    EVERY merge batch — bucket-pruned pre/post diffs, never a recompute —
    whose final state must equal DuckDB aggregating the final LWW state
    from scratch.  Group transitions (keys switching event_type between
    batches, groups emptying via deletes) are exercised by the LWW replay
    itself."""
    from geomesa_nifi_spark.lake import (
        LakeTable, create_aggregate_view, merge_changes, refresh,
    )

    ch = _changes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="gns_entry_")
    table = LakeTable.create(
        spark, root + "/pages", _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset",
        num_buckets=16,
    )
    view = create_aggregate_view(
        spark, root + "/mv", table,
        group_cols=["event_type"],
        metrics={"n": "count", "sum_off": ("sum", "src_offset")},
        num_buckets=4,
    )
    for b in (0, 1, 2, 3):
        merge_changes(
            table,
            ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"entry-mv-{b}", mode="mor" if b % 2 else "cow",
        )
        refresh(view, table)
    return view.scan().select("event_type", "n", "sum_off")


_INCREMENTAL_MV_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT event_type, count(*) AS n, CAST(sum(src_offset) AS BIGINT) AS sum_off
FROM lww WHERE rn = 1 AND op <> 'delete'
GROUP BY event_type
"""


def _incremental_mv_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view with EXTREMAL metrics (min/max are only
    semi-maintainable under deletes — ``materialize.refresh`` resolves
    most groups from the delta by case analysis and re-reads exactly the
    groups whose touched buckets held the current extreme): per-event_type
    (count, min(value), max(value)) maintained across the same scrambled
    LWW replay, checked against DuckDB recomputing from the final state.
    Deletes hit extremes constantly here (1 in 5 events is a delete), so
    both the delta path and the bounded re-read path are exercised."""
    from geomesa_nifi_spark.lake import (
        LakeTable, create_aggregate_view, merge_changes, refresh,
    )

    ch = _changes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="gns_entry_")
    table = LakeTable.create(
        spark, root + "/pages", _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset",
        num_buckets=16,
    )
    view = create_aggregate_view(
        spark, root + "/mv", table,
        group_cols=["event_type"],
        metrics={
            "n": "count",
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        num_buckets=4,
    )
    for b in (2, 0, 3, 1):
        merge_changes(
            table,
            ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"entry-mvx-{b}", mode="mor" if b % 2 else "cow",
        )
        refresh(view, table)
    return view.scan().select("event_type", "n", "min_value", "max_value")


_INCREMENTAL_MV_MINMAX_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT event_type, count(*) AS n,
       min(value) AS min_value, max(value) AS max_value
FROM lww WHERE rn = 1 AND op <> 'delete'
GROUP BY event_type
"""


def _fid_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-id rewrite on a live table (≙ ``UpdateGeoMesaRecord``'s fid
    update): keys of every 7th user move to a new domain; the final state
    must equal the LWW oracle with the same rename applied."""
    from geomesa_nifi_spark.lake import rewrite_fids

    # cache=False: this query mutates its table — it must not poison the
    # replay shared by the final-state/time-travel/changelog queries
    table = _replay_table(spark, sf_dir, [0, 1, 2, 3], cache=False)
    ch = _changes(spark, sf_dir)
    mapping = (
        ch.select("url").distinct()
        .filter(F.regexp_extract("url", r"(\d+)$", 1).cast("int") % 7 == 0)
        .select(
            F.col("url").alias("old_fid"),
            F.regexp_replace("url", "^https://u", "https://m").alias("new_fid"),
        )
    )
    rewrite_fids(table, mapping, batch_id="entry-fid-rewrite")
    return _final_state(table)


_FID_REWRITE_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT CASE WHEN regexp_extract(url, '(\\d+)$', 1)::int % 7 = 0
            THEN regexp_replace(url, '^https://u', 'https://m') ELSE url END AS url,
       epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww WHERE rn = 1 AND op <> 'delete'
"""


def _schema_evolution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batches 0-1 lack ``event_type``/``value``; batches 2-3 add them
    (additive evolution).  Early-winner rows end up null-padded."""
    from geomesa_nifi_spark.lake import CompatibilityMode, LakeTable, merge_changes

    ch = _changes(spark, sf_dir)
    base_schema = T.StructType([f for f in _STATE_SCHEMA.fields if f.name not in ("event_type", "value")])
    root = tempfile.mkdtemp(prefix="gns_evo_") + "/pages"
    table = LakeTable.create(
        spark, root, base_schema,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset", num_buckets=16,
    )
    for b in range(4):
        batch = ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b)
        if b < 2:
            batch = batch.drop("event_type", "value")
        merge_changes(table, batch, batch_id=f"evo-{b}", compat_mode=CompatibilityMode.UPDATE)
    return table.scan().select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


_SCHEMA_EVOLUTION_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset,
       CASE WHEN src_offset % 4 >= 2 THEN event_type END AS event_type,
       CASE WHEN src_offset % 4 >= 2 THEN value END AS value
FROM lww WHERE rn = 1 AND op <> 'delete'
"""


def _time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel: the state AS OF the commit that
    applied batch 1 equals replaying only batches 0-1 (monotonic snapshot
    ids, north rule; ≙ Iceberg ``VERSION AS OF``)."""
    table = _replay_table(spark, sf_dir, [0, 1, 2, 3])
    # version = the commit whose summary says batch_id entry-1 (robust to
    # any extra maintenance commits)
    version = next(
        s.version for s in table.history() if s.summary.get("batch_id") == "entry-1"
    )
    return table.scan(version=version).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


_TIME_TRAVEL_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
sub AS (SELECT * FROM ch WHERE src_offset % 4 < 2),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM sub
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww WHERE rn = 1 AND op <> 'delete'
"""


def _point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key lookup on the live table (ModifyWriter read path as a
    bucket+rowgroup-pruned scan, ``FeatureWriters.scala:126-147``)."""
    table = _replay_table(spark, sf_dir, [0, 1, 2, 3])
    keys = [f"https://u.example.org/{i}" for i in range(0, 60, 3)]
    return table.lookup(keys).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


_POINT_LOOKUP_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww
WHERE rn = 1 AND op <> 'delete'
  AND regexp_extract(url, '(\\d+)$', 1)::int % 3 = 0
  AND regexp_extract(url, '(\\d+)$', 1)::int < 60
"""


def _update_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UpdateGeoMesaRecord`` semantics on a live table: partial-column
    update (only provided columns overwrite), NO insert fallback — the
    unmatched key is rejected, not inserted
    (``UpdateGeoMesaRecord.scala:52-230``)."""
    from geomesa_nifi_spark.lake import merge_changes

    table = _replay_table(spark, sf_dir, [0, 1, 2, 3], cache=False)
    upd_ts = F.lit("2100-01-01 00:00:00").cast("timestamp")
    updates = (
        table.scan()
        .filter(F.regexp_extract("url", r"(\d+)$", 1).cast("int") % 5 == 0)
        .select(
            "url",
            upd_ts.alias("warc_ts"),
            F.lit(0).cast("long").alias("src_offset"),
            F.lit(-1.0).alias("value"),
        )
    )
    missing = spark.createDataFrame(
        [("https://u.example.org/999999999",)], "url string"
    ).select(
        "url", upd_ts.alias("warc_ts"), F.lit(0).cast("long").alias("src_offset"),
        F.lit(-1.0).alias("value"),
    )
    merge_changes(
        table,
        updates.unionByName(missing),
        batch_id="entry-partial",
        update_mode="partial",
    )
    return _final_state(table)


_UPDATE_PARTIAL_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url,
       CASE WHEN regexp_extract(url, '(\\d+)$', 1)::int % 5 = 0
            THEN epoch_us(TIMESTAMP '2100-01-01') ELSE epoch_us(warc_ts) END AS warc_us,
       CASE WHEN regexp_extract(url, '(\\d+)$', 1)::int % 5 = 0
            THEN 0 ELSE src_offset END AS src_offset,
       event_type,
       CASE WHEN regexp_extract(url, '(\\d+)$', 1)::int % 5 = 0
            THEN -1.0 ELSE value END AS value
FROM lww WHERE rn = 1 AND op <> 'delete'
"""



def _update_by_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UpdateGeoMesaRecord`` ATTRIBUTE lookup (``AttributeFilter``,
    ``UpdateGeoMesaRecord.scala:248-259``): one update row per lookup value
    overwrites the provided columns on EVERY stored row sharing that value;
    the batch rides the stored rows' LWW keys advanced by one tiebreak."""
    from geomesa_nifi_spark.lake.merge import update_by_attribute

    table = _replay_table(spark, sf_dir, [0, 1, 2, 3], cache=False)
    updates = (
        _events(spark, sf_dir)
        .select("event_type")
        .distinct()
        .filter(F.substring(F.md5("event_type"), 1, 1) < "8")
        .withColumn("value", F.lit(-2.0))
    )
    update_by_attribute(table, updates, lookup_col="event_type", batch_id="entry-uba")
    return _final_state(table)


_UPDATE_BY_ATTR_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url, epoch_us(warc_ts) AS warc_us,
       CASE WHEN substring(md5(event_type), 1, 1) < '8'
            THEN src_offset + 1 ELSE src_offset END AS src_offset,
       event_type,
       CASE WHEN substring(md5(event_type), 1, 1) < '8'
            THEN -2.0 ELSE value END AS value
FROM lww WHERE rn = 1 AND op <> 'delete'
"""



def _zone_map_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate scan through the ledger zone maps (lake/stats.py — the
    engine's analogue of the reference store's attribute index,
    ``UpdateGeoMesaRecord.scala:154-166``): files whose recorded min/max
    excludes the predicate are never opened, and the residual filter makes
    the result exact.  The oracle applies the same predicate to the LWW
    state, so any pruning unsoundness (a file skipped that still held a
    winning row) shows up as a hash mismatch."""
    table = _replay_table(spark, sf_dir, [0, 1, 2, 3])
    preds = [
        ("url", "between", ("https://u.example.org/1", "https://u.example.org/4")),
        ("value", ">=", 0.1),
    ]
    return table.scan(where=preds).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


_ZONE_MAP_SCAN_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww
WHERE rn = 1 AND op <> 'delete'
  AND url BETWEEN 'https://u.example.org/1' AND 'https://u.example.org/4'
  AND value >= 0.1
"""


def _attr_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute index table (lake/index.py — the reference store's
    per-attribute index tables, ``UpdateGeoMesaRecord.scala:154-166``):
    build an inverted event_type→url index from the ledger, then route an
    equality lookup through it.  The index diff is exact, so the result
    must hash-match a plain predicate filter of the LWW state (the
    oracle); the O(1)-bucket read shape is pinned by
    ``tests/test_index.py::test_index_read_is_bucket_pruned``."""
    from geomesa_nifi_spark.lake.index import (
        create_attr_index,
        index_lookup,
        refresh_attr_index,
    )

    table = _replay_table(spark, sf_dir, [1, 3, 0, 2], mode="mor")
    root = tempfile.mkdtemp(prefix="gns_aidx_") + "/idx"
    idx = create_attr_index(table, "event_type", root)
    refresh_attr_index(idx, table)
    return index_lookup(table, idx, ["click", "purchase"]).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


_ATTR_INDEX_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww
WHERE rn = 1 AND op <> 'delete' AND event_type IN ('click', 'purchase')
"""


def _clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered compaction (``compact(cluster_by=[...])``,
    lake/cluster.py — Delta OPTIMIZE-ZORDER-shaped layout rewrite), then an
    attribute-predicate scan over the clustered files: the rewrite must
    preserve the LWW state exactly (the oracle is the same predicate over
    the LWW CTE), while the per-file zone maps now exclude most files —
    the pruning-count side is pinned by ``tests/test_cluster.py``."""
    from geomesa_nifi_spark.lake.merge import compact

    table = _replay_table(spark, sf_dir, [3, 2, 1, 0], mode="mor", cache=False)
    compact(table, cluster_by=["value", "warc_ts"], max_records_per_file=2_000)
    return table.scan(where=[("value", ">=", 0.5)]).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
    )


_CLUSTERED_SCAN_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww
WHERE rn = 1 AND op <> 'delete' AND value >= 0.5
"""


def _stateful_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous stateful LWW operator (``applyInPandasWithState``,
    streaming/stateful.py — the engine's analogue of the reference's
    long-lived Kafka feature cache, ``GetGeoMesaKafkaRecord.scala:
    271-302``), driven end to end as a real Structured Streaming query:
    the change stream replays in 4 micro-batches (src_offset mod 4, file
    source + AvailableNow) with ``tombstone_ttl_ms=None`` (no watermark,
    no late-row filtering), making the emitted changelog a deterministic
    function of the batched input that DuckDB can recompute exactly."""
    import glob
    import os
    import shutil
    import uuid as _uuid

    from geomesa_nifi_spark.streaming.stateful import lww_state_stream

    ch = _changes(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="gns_stateful_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    for b in range(4):
        batch_dir = os.path.join(tmp, f"b{b}")
        ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b).coalesce(1).write.parquet(
            batch_dir
        )
        parts = glob.glob(os.path.join(batch_dir, "part-*.parquet"))
        if not parts:  # residue class empty at this sf: just fewer batches
            shutil.rmtree(batch_dir)
            continue
        dst = os.path.join(src, f"file-{b}.parquet")
        shutil.move(parts[0], dst)
        shutil.rmtree(batch_dir)
        # the file source triggers in modification-time order; pin it
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))

    stream_schema = T.StructType(
        list(_STATE_SCHEMA.fields) + [T.StructField("op", T.StringType())]
    )
    stream = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = lww_state_stream(
        stream,
        key_col="url",
        ts_col="warc_ts",
        tiebreak_col="src_offset",
        op_col="op",
        payload_cols=["event_type", "value"],
        tombstone_ttl_ms=None,
    )
    name = f"gns_stateful_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "url",
        F.col("ts_us").alias("warc_us"),
        F.col("tiebreak").alias("src_offset"),
        "change",
        F.from_json("payload", "event_type string, value double").alias("_p"),
    ).select(
        "url", "warc_us", "src_offset", "change",
        F.col("_p.event_type").alias("event_type"),
        F.col("_p.value").alias("value"),
    )


# The changelog a batched LWW state machine emits: per key per batch, the
# batch winner (greatest (ts, tiebreak)) transitions state iff it beats the
# running maximum of earlier batches' winners; a winning delete emits only
# when the prior state was live; a winning upsert emits insert-vs-update by
# prior liveness.  (ts, tiebreak) totally orders as one HUGEINT since
# src_offset < 2^32.
_STATEFUL_LWW_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
b AS (
  SELECT *, src_offset % 4 AS bno,
         (epoch_us(warc_ts)::HUGEINT * 4294967296 + src_offset) AS ordv
  FROM ch
),
w AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY url, bno ORDER BY warc_ts DESC, src_offset DESC) AS rn
    FROM b
  ) WHERE rn = 1
),
seq AS (
  SELECT *,
    max(ordv) OVER (PARTITION BY url ORDER BY bno
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ord,
    arg_max(op, ordv) OVER (PARTITION BY url ORDER BY bno
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_op
  FROM w
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset,
       CASE WHEN op = 'delete' THEN 'delete'
            WHEN prev_ord IS NOT NULL AND prev_op <> 'delete' THEN 'update'
            ELSE 'insert' END AS change,
       CASE WHEN op = 'delete' THEN NULL ELSE event_type END AS event_type,
       CASE WHEN op = 'delete' THEN NULL ELSE value END AS value
FROM seq
WHERE (prev_ord IS NULL OR ordv > prev_ord)
  AND NOT (op = 'delete' AND (prev_ord IS NULL OR prev_op = 'delete'))
"""


def _append_only_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blind append writer (reference AppendWriter,
    ``FeatureWriters.scala:104-106``): no key lookup, no dedup — appending
    the same batch twice stores every row twice, exactly the reference's
    append-mode contract (key uniqueness is the caller's problem)."""
    from geomesa_nifi_spark.lake import LakeTable, append_only

    ch = _changes(spark, sf_dir).filter(F.pmod(F.col("src_offset"), F.lit(4)) == 0)
    root = tempfile.mkdtemp(prefix="gns_entry_append_") + "/pages"
    table = LakeTable.create(
        spark, root, _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset", num_buckets=16,
    )
    append_only(table, ch, batch_id="append-1")
    append_only(table, ch, batch_id="append-2")
    return _final_state(table)


_APPEND_ONLY_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
b AS (SELECT * FROM ch WHERE src_offset % 4 = 0)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value FROM b
UNION ALL
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value FROM b
"""


def _delete_where_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate delete (``DELETE FROM t WHERE event_type='error'``): the
    reference's attribute-query + remove-all-matches delete, engine-side a
    zone-map-pruned scan of the current matches merged as tombstones
    (lake/merge.py::delete_where).  Final state = LWW winners minus keys
    whose winner row matched the predicate; an older replayed upsert must
    not resurrect a deleted key, which the scrambled re-merge asserts."""
    from geomesa_nifi_spark.lake import delete_where, merge_changes

    table = _replay_table(
        spark, sf_dir, [0, 1, 2, 3], cache=False
    )
    delete_where(table, [("event_type", "=", "error")], batch_id="dw-error")
    # replay one earlier batch again under a new id: every row is older
    # than the stored winner or the tombstone, so the state must not move
    ch = _changes(spark, sf_dir)
    merge_changes(
        table,
        ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == 1),
        batch_id="dw-replay",
    )
    return _final_state(table)


_DELETE_WHERE_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM ch
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww WHERE rn = 1 AND op <> 'delete' AND event_type <> 'error'
"""


def _rollback_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag + rollback (lake/table.py): replay half the stream, tag it,
    apply the remaining batches, then roll back to the tag — the visible
    state must equal the LWW of ONLY the first half, the rollback lands as
    a new commit (history intact), and a post-rollback batch replayed
    under its original id is still skipped (exactly-once survives)."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    ch = _changes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="gns_entry_rb_") + "/pages"
    table = LakeTable.create(
        spark, root, _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset", num_buckets=16,
    )
    for b in (0, 1):
        merge_changes(
            table, ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"rb-{b}",
        )
    table.create_tag("halfway")
    for b in (2, 3):
        merge_changes(
            table, ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"rb-{b}",
        )
    head_before = table.snapshot().version
    table.rollback("halfway")
    assert table.snapshot().version == head_before + 1
    # exactly-once across the rollback: the rolled-back batch id is still
    # committed, so re-delivery must not move the state
    merge_changes(
        table, ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == 2),
        batch_id="rb-2",
    )
    assert table.snapshot().version == head_before + 1
    return _final_state(table)


def _wap_publish_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (lake/table.py branches): half the stream lands
    on main, the other half is staged on an isolated ``audit`` branch with
    the ordinary merge writers, audited, then published — ONE atomic
    metadata-only fast-forward of main.  Asserted along the way: staged
    rows are invisible to main until publish, the publish commit is
    metadata-only (re-references the branch's files, no data rewrite), and
    a staged batch replayed on main after publish is skipped (exactly-once
    crosses the publish).  Final state must equal the full-stream LWW
    oracle — the same end state every other replay shape converges to."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    ch = _changes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="gns_entry_wap_") + "/pages"
    table = LakeTable.create(
        spark, root, _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset", num_buckets=16,
    )
    for b in (0, 1):
        merge_changes(
            table, ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"wap-{b}", mode="mor",
        )
    main_head = table.snapshot().version
    audit = table.create_branch("audit")
    for b in (3, 2):
        merge_changes(
            audit, ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == b),
            batch_id=f"wap-{b}", mode="mor",
        )
    # isolation: the staged commits did not move main
    assert table.snapshot().version == main_head
    pub = table.publish_branch("audit")
    # metadata-only fast-forward: publish re-references the branch head's
    # files verbatim — zero data files written by the publish itself
    assert {f.path for f in pub.files} == {f.path for f in audit.snapshot().files}
    # exactly-once across the publish: a staged batch re-delivered to main
    # under its original id must be skipped
    r = merge_changes(
        table, ch.filter(F.pmod(F.col("src_offset"), F.lit(4)) == 2),
        batch_id="wap-2", mode="mor",
    )
    assert r.skipped and r.metrics.get("reason") == "batch_committed"
    return _final_state(table)


_ROLLBACK_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
half AS (SELECT * FROM ch WHERE src_offset % 4 IN (0, 1)),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM half
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value
FROM lww WHERE rn = 1 AND op <> 'delete'
"""


_DBZ_PAYLOAD = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_us", T.LongType()),
        T.StructField("src_offset", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _debezium_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingest from the Debezium wire format (sources/debezium.py): the
    change stream encoded as JSON envelopes (upserts carry ``after``,
    deletes carry ``before``, temporal fields as epoch micros per
    Debezium's MicroTimestamp convention), decoded back with JVM
    ``from_json`` and replayed through the lake in scrambled batches —
    the end state must equal the native-ingest LWW oracle exactly."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes
    from geomesa_nifi_spark.sources.debezium import (
        debezium_to_changes,
        encode_debezium,
    )

    raw = _changes(spark, sf_dir)
    payload = raw.select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
        "op",
        F.unix_millis("warc_ts").alias("ts_ms"),
        F.col("src_offset").alias("lsn"),
    )
    wire = encode_debezium(payload, ts_ms_col="ts_ms", lsn_col="lsn")
    decoded = debezium_to_changes(wire, _DBZ_PAYLOAD).select(
        "url",
        F.timestamp_micros(F.col("warc_us")).alias("warc_ts"),
        "src_offset",
        "event_type",
        "value",
        "op",
    )
    root = tempfile.mkdtemp(prefix="gns_entry_dbz_") + "/pages"
    table = LakeTable.create(
        spark, root, _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset", num_buckets=16,
    )
    for b in (2, 0, 1):
        merge_changes(
            table,
            decoded.filter(F.pmod(F.col("src_offset"), F.lit(3)) == b),
            batch_id=f"dbz-{b}",
        )
    return _final_state(table)


def _confluent_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingest from the Confluent Schema Registry wire format
    (``sources/confluent.py`` ≙ ``ConfluentKafkaDataStoreService.scala:
    23-42``): the change stream framed as magic 0x00 + 4-byte schema id +
    bare Avro bodies against a dict-backed registry, decoded back through
    the consumer path and replayed through the lake in scrambled batches —
    the end state must equal the native-ingest LWW oracle exactly."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes
    from geomesa_nifi_spark.sources.confluent import InMemorySchemaRegistry
    from geomesa_nifi_spark.streaming.kafka import (
        changes_to_kafka_records,
        kafka_records_to_changes,
    )

    payload = _changes(spark, sf_dir)  # url, warc_ts, src_offset, event_type, value, op
    registry = InMemorySchemaRegistry()
    wire = changes_to_kafka_records(
        payload, key_col="url", value_format="confluent",
        registry=registry, subject="pages-value",
    )
    shaped = wire.select(
        "key",
        "value",
        F.lit("pages").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
    )
    decoded = kafka_records_to_changes(
        shaped, payload.schema, include_lineage=False,
        value_format="confluent", registry=registry,
    )
    root = tempfile.mkdtemp(prefix="gns_entry_cfl_") + "/pages"
    table = LakeTable.create(
        spark, root, _STATE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="src_offset", num_buckets=16,
    )
    for b in (1, 2, 0):
        merge_changes(
            table,
            decoded.filter(F.pmod(F.col("src_offset"), F.lit(3)) == b),
            batch_id=f"cfl-{b}",
        )
    return _final_state(table)


def _changelog_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog egress (store -> records, ``GetGeoMesaKafkaRecord``): the
    change events of exactly one committed batch, read back from the lake's
    merge-on-read delta files."""
    from geomesa_nifi_spark.streaming.changes import table_changes

    table = _replay_table(spark, sf_dir, [1, 3, 0, 2], mode="mor")
    snap = next(
        s for s in table.history() if s.summary.get("batch_id") == "entry-2"
    )
    out = table_changes(table, from_version=snap.parent_version, to_version=snap.version)
    return out.select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
        F.col("_change_type").alias("change_type"),
    )


_CHANGELOG_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
sub AS (SELECT * FROM ch WHERE src_offset % 4 = 2),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM sub
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value,
       CASE WHEN op = 'delete' THEN 'delete' ELSE 'insert_or_update' END AS change_type
FROM lww WHERE rn = 1
"""


def _changes_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store→topic→records egress: one committed batch's changelog encoded
    as GeoAvro-container Kafka messages (``table_changes_to_kafka``, the
    reference's Kafka producer store) and decoded back through the consumer
    path (``kafka_records_to_changes``) — the whole produce/consume pair
    must be the identity, so the decoded rows hash-match the same DuckDB
    LWW changelog oracle the direct read does."""
    from geomesa_nifi_spark.streaming.kafka import (
        kafka_records_to_changes,
        table_changes_to_kafka,
    )

    table = _replay_table(spark, sf_dir, [1, 3, 0, 2], mode="mor")
    snap = next(
        s for s in table.history() if s.summary.get("batch_id") == "entry-2"
    )
    recs, value_schema = table_changes_to_kafka(
        table,
        from_version=snap.parent_version,
        to_version=snap.version,
        value_format="avro",
        records_per_message=100,
        include_lineage=False,
    )
    shaped = recs.select(
        "key",
        "value",
        F.lit("pages").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    back = kafka_records_to_changes(
        shaped, value_schema, include_lineage=False, value_format="avro"
    )
    return back.select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
        F.when(F.col("op") == "delete", "delete")
        .otherwise("insert_or_update")
        .alias("change_type"),
    )


def _visibility_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level visibility (Accumulo-style expressions, converter option
    ``visibilities-col``): LWW state filtered to the caller's auth set
    {user, ops} — label evaluation is driver-side over distinct strings,
    the row filter is a pushdown-able isin."""
    from geomesa_nifi_spark.operators.dedup import lww_dedup
    from geomesa_nifi_spark.operators.visibility import filter_by_auths

    ch = _changes(spark, sf_dir).withColumn(
        "vis",
        F.when(F.col("src_offset") % 3 == 0, "admin")
        .when(F.col("src_offset") % 3 == 1, "user")
        .otherwise("(user|admin)&ops"),
    )
    state = lww_dedup(ch, "url", ["warc_ts", "src_offset"]).filter(F.col("op") != "delete")
    return filter_by_auths(state, {"user", "ops"}).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "event_type",
        "value",
        "vis",
    )


_VISIBILITY_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE}),
v AS (
  SELECT *, CASE WHEN src_offset % 3 = 0 THEN 'admin'
                 WHEN src_offset % 3 = 1 THEN 'user'
                 ELSE '(user|admin)&ops' END AS vis
  FROM ch
),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, src_offset DESC) AS rn
  FROM v
)
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset, event_type, value, vis
FROM lww
WHERE rn = 1 AND op <> 'delete' AND vis IN ('user', '(user|admin)&ops')
"""


def _avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoAvro interchange: events -> Avro object-container files (pure
    binary-spec writer, one file per partition) -> self-describing read-back
    (schema recovered from the file header, no caller schema) — values must
    survive byte-exactly (≙ AvroToPutGeoMesa ingest +
    GeoAvroRecordSetWriterFactory egress)."""
    from geomesa_nifi_spark.functions.avro import read_avro, write_avro

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.round("value", 4).alias("value"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    out = tempfile.mkdtemp(prefix="gns_avro_") + "/files"
    write_avro(ev.repartition(4), out)
    back = read_avro(spark, out)
    return back.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
        "k",
    )


_AVRO_ROUNDTRIP_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, event_type,
       round(value, 4) AS value,
       json_extract_string(props, '$.k')::int AS k
FROM events
"""


def _events_windowed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window change counts (streaming-identical
    expressions run in batch; the watermarked stream variant is exercised
    in tests/test_windowed.py)."""
    from geomesa_nifi_spark.streaming.windowed import domain_activity

    ch = _changes(spark, sf_dir)
    out = domain_activity(ch, window="6 hours", ts_col="warc_ts")
    return out.select(
        F.unix_micros("win_start").alias("win_start_us"),
        "domain",
        "op",
        "n_events",
    )


_WINDOWED_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE})
SELECT epoch_us(time_bucket(INTERVAL '6 hours', warc_ts)) AS win_start_us,
       regexp_extract(url, '^https?://([^/]+)/', 1) AS domain,
       op, count(*) AS n_events
FROM ch GROUP BY 1, 2, 3
"""


def _ingest_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-op accounting (≙ geomesa.ingest.successes/failures attributes)."""
    return (
        _changes(spark, sf_dir)
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n_events"), F.countDistinct("url").alias("n_keys"))
    )


_INGEST_COUNTS_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE})
SELECT op, count(*) AS n_events, count(DISTINCT url) AS n_keys FROM ch GROUP BY op
"""


def _convert_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converter-expression layer: JSON field extraction + casts + try-cast
    (≙ the GeoMesa converter transforms, SURVEY.md §2.2)."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.upper("event_type").alias("event_type_uc"),
        F.to_date("ts").cast("string").alias("event_date"),
        F.col("event_type").try_cast("int").alias("bad_cast"),
    )


_CONVERT_JSON_SQL = """
SELECT event_id,
       json_extract_string(props, '$.k')::int AS k,
       upper(event_type) AS event_type_uc,
       strftime(ts, '%Y-%m-%d') AS event_date,
       try_cast(event_type AS int) AS bad_cast
FROM events
"""

def _convert_xml_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML converter input (≙ the reference's XML converter layer,
    ``mixins/ConvertInputProcessor.scala:81-129``): events rendered as XML
    records, re-extracted with JVM-side xpath + try_cast — the round trip
    must reproduce the source columns exactly."""
    from geomesa_nifi_spark.functions.convert import apply_converter

    ev = _events(spark, sf_dir)
    xml = ev.select(
        F.format_string(
            '<e id="%s"><t>%s</t><u>%s</u></e>',
            F.col("event_id"),
            F.col("event_type"),
            F.col("user_id"),
        ).alias("value")
    )
    cfg = {
        "type": "xml",
        "fields": [
            {"name": "event_id", "xpath": "/e/@id", "cast": "long"},
            {"name": "event_type", "xpath": "/e/t"},
            {"name": "user_id", "xpath": "/e/u", "cast": "long"},
        ],
    }
    return apply_converter(spark, cfg, df=xml)


_CONVERT_XML_SQL = "SELECT event_id, event_type, user_id FROM events"


def _convert_typed_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converter type-system breadth (≙ list/map/UUID/geometry attribute
    types, ``records/SimpleFeatureRecordConverter.scala:387-528``): JSON map
    and list parsing, element extraction, UUID validation, WKT point."""
    from geomesa_nifi_spark.functions.convert import apply_converter

    ev = _events(spark, sf_dir)
    cfg = {
        "fields": [
            {"name": "event_id", "transform": "$event_id"},
            {"name": "k", "transform": "mapValue(jsonMap($props), 'k')::int"},
            {"name": "k_first", "transform": "listItem(list($event_id, $user_id), 0)"},
            {
                "name": "jl",
                "transform": "listItem(jsonList('int', concat('[', toString(mapValue(jsonMap($props), 'k')), ']')), 0)",
            },
            {"name": "pt", "transform": "point($user_id, $event_id)"},
            {"name": "valid_uuid", "transform": "'123E4567-e89b-12d3-a456-426614174000'::uuid"},
            {"name": "bad_uuid", "transform": "toString($event_type)::uuid"},
        ],
        "id-field": "md5(toString($event_id))",
    }
    return apply_converter(spark, cfg, df=ev)


_CONVERT_TYPED_SQL = """
SELECT event_id,
       json_extract_string(props, '$.k')::int AS k,
       event_id AS k_first,
       json_extract_string(props, '$.k')::int AS jl,
       'POINT (' || (user_id::double)::varchar || ' ' || (event_id::double)::varchar || ')' AS pt,
       '123e4567-e89b-12d3-a456-426614174000' AS valid_uuid,
       NULL::varchar AS bad_uuid,
       md5(event_id::varchar) AS "__fid"
FROM events
"""


_SFT_SPEC = (
    "event_id:Long,user_id:Integer,event_type:String,dtg:Date,"
    "*geom:Point:srid=4326;geomesa.index.dtg=dtg"
)


def _convert_sft_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-schema ingest (≙ ``SftArgResolver`` spec resolution,
    ``mixins/FeatureTypeProcessor.scala:70-92,121-128``): a reference SFT
    spec string is resolved to a StructType and the event records are
    conformed to the declared shape — casts driven by the resolved types,
    the declared dtg field picking up the event time, the geometry carried
    as WKT — exactly what ``PutGeoMesa`` does with a configured SftSpec."""
    from geomesa_nifi_spark.functions.sft import resolve_sft

    sft = resolve_sft(_SFT_SPEC, name="events_sft")
    assert sft.dtg_field == "dtg" and sft.default_geom == "geom"
    ev = _events(spark, sf_dir)
    derived = {
        "dtg": F.col("ts"),
        "geom": F.format_string(
            "POINT (%s %s)",
            F.col("user_id").cast("double"),
            F.col("event_id").cast("double"),
        ),
    }
    return ev.select(
        *[
            derived.get(f.name, F.col(f.name)).cast(f.dataType).alias(f.name)
            for f in sft.schema.fields
        ]
    )


_CONVERT_SFT_SQL = """
SELECT event_id,
       user_id::int AS user_id,
       event_type,
       ts AS dtg,
       'POINT (' || (user_id::double)::varchar || ' ' || (event_id::double)::varchar || ')' AS geom
FROM events
"""


# ---------------------------------------------------------------------------
# documents / embeddings operators
# ---------------------------------------------------------------------------


def _doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.textops import text_stats

    return text_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_DOC_TEXT_STATS_SQL = r"""
WITH s AS (
  SELECT doc_id, text,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
         len(regexp_extract_all(lower(text), '\b(der|die|und|den|von|das|mit|ist|nicht|ein)\b')) AS s_de,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|for|was)\b')) AS s_en,
         len(regexp_extract_all(lower(text), '\b(que|el|en|los|del|se|las|por|un|para)\b')) AS s_es,
         len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|en|un|du|une|que)\b')) AS s_fr,
         length(text) AS n,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha
  FROM documents
)
SELECT doc_id, n_tokens,
  CASE WHEN n_tokens = 0 OR greatest(s_de, s_en, s_es, s_fr) < 0.05 * n_tokens THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_pred,
  round(0.4 * (CASE WHEN n > 0 THEN alpha::double / n ELSE 0 END)
      + 0.4 * least((CASE WHEN n_tokens > 0 THEN greatest(s_de, s_en, s_es, s_fr)::double / n_tokens ELSE 0 END) * 5, 1.0)
      + 0.2 * least(n / 500.0, 1.0), 4) AS quality,
  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM s
"""


def _doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.docdedup import exact_duplicates

    return exact_duplicates(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_DOC_EXACT_DUPS_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keeper_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""


def _doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.docdedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), threshold=0.4, n=2
    )


_DOC_NGRAM_JACCARD_SQL = r"""
WITH tok AS (
  SELECT doc_id, [x FOR x IN regexp_split_to_array(lower(text), '[^a-z0-9]+') IF x <> ''] AS w
  FROM documents
),
sh AS (
  SELECT doc_id, list_distinct([array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]) AS s
  FROM tok WHERE len(w) >= 2
),
ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(inter::double / (na + nb - inter), 4) AS jaccard
FROM pairs WHERE round(inter::double / (na + nb - inter), 4) >= 0.4
"""


def _corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.curation import curate

    return curate(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        min_quality=0.5, lang="en", jaccard_threshold=0.4,
    )


def _doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.docdedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), threshold=0.4, k=32, bands=16, n=2
    )


_CORPUS_CURATION_SQL = f"""
WITH stats AS ({_DOC_TEXT_STATS_SQL}),
losers AS (SELECT DISTINCT doc_b AS doc_id FROM ({_DOC_NGRAM_JACCARD_SQL}))
SELECT s.doc_id, s.n_tokens, s.lang_pred, s.quality
FROM stats s
WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)
  AND s.quality >= 0.5 AND s.lang_pred = 'en'
"""


def _doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.docdedup import simhash

    return simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-blocked SimHash near-dup pairs (equi-join candidates, recall 1.0
    by pigeonhole, verified with true Hamming distance)."""
    from geomesa_nifi_spark.operators.docdedup import simhash_near_pairs

    out = simhash_near_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"), max_hamming=4)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


# The md5-based hash family makes the whole SimHash pipeline reproducible in
# DuckDB: token hash = first 12 hex chars of md5(token || seed) as a 48-bit
# int, per-bit ±1 votes, bit set iff votes > 0.
_SIMHASH_SIG_CTE = r"""
tok AS (
  SELECT doc_id,
         [x FOR x IN regexp_split_to_array(lower(text), '[^a-z0-9]+') IF x <> ''] AS toks
  FROM documents
),
hashed AS (
  SELECT doc_id,
         [list_sum([(strpos('0123456789abcdef', substr(md5(t || '7'), i+1, 1)) - 1)::bigint
                    << (4*(11-i)) FOR i IN range(0,12)]) FOR t IN toks] AS hs
  FROM tok WHERE len(toks) > 0
),
sigs AS (
  SELECT doc_id,
         list_sum([CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END
                                       FOR h IN hs]) > 0
                        THEN 1::bigint << b ELSE 0 END
                   FOR b IN range(0,48)])::bigint AS simhash
  FROM hashed
)
"""

_SIMHASH_SQL = f"WITH {_SIMHASH_SIG_CTE} SELECT doc_id, simhash FROM sigs"

_SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_SIG_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::int AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
"""


def _ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.similarity import cosine_topk

    return cosine_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5, n_queries=10)


_ANN_COSINE_SQL = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < 10),
dots AS (
  SELECT query_id, vec_id,
         sum(qe[i.i]::double * embedding[i.i]::double) AS dot,
         sqrt(sum(qe[i.i]::double * qe[i.i]::double)) AS qn,
         sqrt(sum(embedding[i.i]::double * embedding[i.i]::double)) AS en
  FROM q, e, (SELECT unnest(range(1, 65)) AS i) i
  WHERE vec_id <> query_id
  GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id, round(dot / (qn * en), 4) AS sim,
         row_number() OVER (PARTITION BY query_id ORDER BY round(dot / (qn * en), 4) DESC, vec_id) AS rank
  FROM dots
)
SELECT query_id, vec_id, sim, rank::int AS rank FROM ranked WHERE rank <= 5
"""


def _dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.similarity import embedding_near_dups

    return embedding_near_dups(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), threshold=0.4
    )


_EMB_NEAR_DUP_SQL = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         sum(a.embedding[i.i]::double * b.embedding[i.i]::double) AS dot,
         sqrt(sum(a.embedding[i.i]::double * a.embedding[i.i]::double)) AS na,
         sqrt(sum(b.embedding[i.i]::double * b.embedding[i.i]::double)) AS nb
  FROM e a, e b, (SELECT unnest(range(1, 65)) AS i) i
  WHERE a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, round(dot / (na * nb), 4) AS sim
FROM dots WHERE round(dot / (na * nb), 4) >= 0.4
"""


def _ann_rhp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geomesa_nifi_spark.operators.similarity import rhp_ann_topk

    return rhp_ann_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5, n_queries=10)


# DuckDB regenerates the md5-derived ±1 hyperplanes, buckets the corpus the
# same way, and ranks exact cosine within shared buckets — a full oracle of
# the approximate path (identical candidates => identical output).
_ANN_RHP_SQL = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
sig AS (
  SELECT vec_id, embedding,
    list_sum([
      CASE WHEN list_sum([
        embedding[i+1]::double *
        (CASE WHEN (strpos('0123456789abcdef', substr(md5('13:' || p || ':' || i), 1, 1)) - 1) % 2 = 0
              THEN 1.0 ELSE -1.0 END)
        FOR i IN range(0,64)]) > 0
      THEN (1::bigint << p) ELSE 0 END
      FOR p IN range(0,8)])::bigint AS bucket
  FROM e
),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM sig WHERE vec_id < 10),
cands AS (
  SELECT q.query_id, s.vec_id, q.qe, s.embedding
  FROM q JOIN sig s USING (bucket) WHERE s.vec_id <> q.query_id
),
dots AS (
  SELECT query_id, vec_id,
         round(
           list_sum([qe[i]::double * embedding[i]::double FOR i IN range(1,65)])
           / (sqrt(list_sum([qe[i]::double * qe[i]::double FOR i IN range(1,65)]))
              * sqrt(list_sum([embedding[i]::double * embedding[i]::double FOR i IN range(1,65)]))),
           4) AS sim
  FROM cands
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM dots
)
SELECT query_id, vec_id, sim, rank::int AS rank FROM ranked WHERE rank <= 5
"""


_HTML_PREFIX = (
    "<html><head><script>var x = 1;</script><title>skip</title></head>"
    "<body><h1>Crawl &amp; Index</h1><p>the cat and the dog went to the "
)
_HTML_SUFFIX = " house</p><!-- hidden --></body></html>"
_EXTRACTED_PREFIX = "Crawl & Index the cat and the dog went to the "


def _extract_pages_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Html change events through the Arrow extraction UDF stage.

    Pages are synthesized from the events table with known tag structure
    (head/script to drop, entity to unescape, comment to strip), so DuckDB
    can state the exact expected text/lang — a full oracle over the Arrow
    UDF path, not a rows-only check."""
    from geomesa_nifi_spark.functions.extract import extract_pages

    ch = _changes(spark, sf_dir).filter(F.col("op") != "delete")
    pages = ch.withColumn(
        "html",
        F.encode(
            F.concat(F.lit(_HTML_PREFIX), F.col("event_type"), F.lit(_HTML_SUFFIX)),
            "UTF-8",
        ),
    )
    return extract_pages(pages).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        "src_offset",
        "text",
        "lang",
    )


_EXTRACT_PAGES_SQL = f"""
WITH ch AS ({_CHANGES_SQL_CTE})
SELECT url, epoch_us(warc_ts) AS warc_us, src_offset,
       '{_EXTRACTED_PREFIX}' || event_type || ' house' AS text,
       'en' AS lang
FROM ch WHERE op <> 'delete'
"""


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media feature extraction (mapInArrow plumbing).

    The raw ``features`` array is projected to a comma-joined list of the
    exact uint16 lattice values it was derived from (features = raw/65536 is
    exact in float32), so the gate's value hash is well-defined AND DuckDB
    can recompute it from sha256 hex — a full oracle, not rows-only."""
    from geomesa_nifi_spark.functions.multimodal import extract_media_features, synthetic_media

    feats = extract_media_features(synthetic_media(spark, 200))
    sig = F.concat_ws(
        ",",
        F.transform(
            F.col("features"),
            lambda x: F.round(x.cast("double") * 65536).cast("int").cast("string"),
        ),
    )
    return feats.select("media_id", "kind", "n_bytes", "content_sha", sig.alias("features_sig"))


# DuckDB regenerates the synthetic media table (range + md5 payload), hashes
# it with sha256, and decodes the same little-endian uint16 lattice the fake
# feature extractor derives from the digest bytes.
_MULTIMODAL_SQL = """
WITH m AS (
  SELECT range::bigint AS media_id,
         (['image','audio','video'])[(range % 3)::int + 1] AS kind,
         'MEDIA:' || range::varchar || ':' || md5(range::varchar) AS payload
  FROM range(200)
), h AS (
  SELECT media_id, kind, length(payload)::int AS n_bytes, sha256(payload) AS content_sha
  FROM m
)
SELECT media_id, kind, n_bytes, content_sha,
  array_to_string([
    ((strpos('0123456789abcdef', substr(content_sha, 4*i+1, 1))-1)*16
     + (strpos('0123456789abcdef', substr(content_sha, 4*i+2, 1))-1))
    + 256*((strpos('0123456789abcdef', substr(content_sha, 4*i+3, 1))-1)*16
     + (strpos('0123456789abcdef', substr(content_sha, 4*i+4, 1))-1))
    FOR i IN range(0, 16)], ',') AS features_sig
FROM h
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC replay through the lake engine at sf0.001."""
    return _merge_replay(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # CDC core (SURVEY §2.3, §2.5)
        "cdc_lww_state": _lww_state("maxby"),
        "cdc_lww_state_window": _lww_state("window"),
        "cdc_lww_state_salted": _lww_state("salted"),
        "cdc_merge_replay": _merge_replay,
        "cdc_merge_replay_scrambled": _merge_replay_scrambled,
        "cdc_merge_replay_mor": _merge_replay_mor,
        "cdc_merge_replay_rescaled": _merge_replay_rescaled,
        "cdc_merge_replay_rescaled_lazy": _merge_replay_rescaled_lazy,
        "cdc_bootstrap_handoff": _bootstrap_handoff,
        "cdc_read_optimized": _read_optimized,
        "cdc_incremental_mv": _incremental_mv,
        "cdc_incremental_mv_minmax": _incremental_mv_minmax,
        "cdc_fid_rewrite": _fid_rewrite,
        "cdc_schema_evolution": _schema_evolution_replay,
        "cdc_ingest_counts": _ingest_counts,
        "cdc_time_travel": _time_travel,
        "cdc_point_lookup": _point_lookup,
        "cdc_update_partial": _update_partial,
        "cdc_update_by_attr": _update_by_attr,
        "cdc_zone_map_scan": _zone_map_scan,
        "cdc_clustered_scan": _clustered_scan,
        "cdc_attr_index_lookup": _attr_index_lookup,
        "cdc_stateful_lww": _stateful_lww,
        "cdc_append_only": _append_only_q,
        "cdc_debezium_ingest": _debezium_ingest,
        "cdc_confluent_ingest": _confluent_ingest,
        "cdc_delete_where": _delete_where_q,
        "cdc_rollback": _rollback_q,
        "cdc_wap_publish": _wap_publish_q,
        "cdc_changelog": _changelog_read,
        "cdc_changes_kafka": _changes_kafka_roundtrip,
        "cdc_visibility": _visibility_filter,
        "events_windowed_activity": _events_windowed_activity,
        # conversion layer (SURVEY §2.2)
        "convert_json_props": _convert_json_props,
        "convert_xml_records": _convert_xml_records,
        "convert_typed_props": _convert_typed_props,
        "convert_sft_spec": _convert_sft_spec,
        "extract_pages_cdc": _extract_pages_cdc,
        "avro_roundtrip": _avro_roundtrip,
        # training-data pipeline ops
        "doc_text_stats": _doc_text_stats,
        "doc_exact_dups": _doc_exact_dups,
        "doc_ngram_jaccard": _doc_ngram_jaccard,
        "doc_minhash_lsh": _doc_minhash_lsh,
        "doc_simhash": _doc_simhash,
        "doc_simhash_pairs": _doc_simhash_pairs,
        "corpus_curation": _corpus_curation,
        "ann_cosine_topk": _ann_cosine_topk,
        "ann_rhp_topk": _ann_rhp,
        "dedup_embedding_cosine": _dedup_embedding_cosine,
        "multimodal_features": _multimodal_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_lww_state": _LWW_STATE_SQL,
        "cdc_lww_state_window": _LWW_STATE_SQL,
        "cdc_lww_state_salted": _LWW_STATE_SQL,
        "cdc_merge_replay": _LWW_STATE_SQL,
        "cdc_merge_replay_scrambled": _LWW_STATE_SQL,
        "cdc_merge_replay_mor": _LWW_STATE_SQL,
        "cdc_merge_replay_rescaled": _LWW_STATE_SQL,
        "cdc_merge_replay_rescaled_lazy": _LWW_STATE_SQL,
        "cdc_bootstrap_handoff": _LWW_STATE_SQL,
        "cdc_read_optimized": _LWW_STATE_SQL,
        "cdc_incremental_mv": _INCREMENTAL_MV_SQL,
        "cdc_incremental_mv_minmax": _INCREMENTAL_MV_MINMAX_SQL,
        "cdc_fid_rewrite": _FID_REWRITE_SQL,
        "cdc_schema_evolution": _SCHEMA_EVOLUTION_SQL,
        "cdc_ingest_counts": _INGEST_COUNTS_SQL,
        "cdc_time_travel": _TIME_TRAVEL_SQL,
        "cdc_point_lookup": _POINT_LOOKUP_SQL,
        "cdc_update_partial": _UPDATE_PARTIAL_SQL,
        "cdc_update_by_attr": _UPDATE_BY_ATTR_SQL,
        "cdc_zone_map_scan": _ZONE_MAP_SCAN_SQL,
        "cdc_clustered_scan": _CLUSTERED_SCAN_SQL,
        "cdc_attr_index_lookup": _ATTR_INDEX_SQL,
        "cdc_stateful_lww": _STATEFUL_LWW_SQL,
        "cdc_append_only": _APPEND_ONLY_SQL,
        "cdc_debezium_ingest": _LWW_STATE_SQL,
        "cdc_confluent_ingest": _LWW_STATE_SQL,
        "cdc_delete_where": _DELETE_WHERE_SQL,
        "cdc_rollback": _ROLLBACK_SQL,
        "cdc_wap_publish": _LWW_STATE_SQL,
        "cdc_changelog": _CHANGELOG_SQL,
        "cdc_changes_kafka": _CHANGELOG_SQL,
        "cdc_visibility": _VISIBILITY_SQL,
        "avro_roundtrip": _AVRO_ROUNDTRIP_SQL,
        "events_windowed_activity": _WINDOWED_SQL,
        "convert_json_props": _CONVERT_JSON_SQL,
        "convert_xml_records": _CONVERT_XML_SQL,
        "convert_typed_props": _CONVERT_TYPED_SQL,
        "convert_sft_spec": _CONVERT_SFT_SQL,
        "doc_text_stats": _DOC_TEXT_STATS_SQL,
        "doc_exact_dups": _DOC_EXACT_DUPS_SQL,
        "doc_ngram_jaccard": _DOC_NGRAM_JACCARD_SQL,
        # LSH candidates are verified with exact Jaccard and the banding
        # parameters give recall 1.0 on this corpus (checked at sf0.001/0.01/
        # 0.1), so the output equals the exact pair set:
        "doc_minhash_lsh": _DOC_NGRAM_JACCARD_SQL,
        "doc_simhash": _SIMHASH_SQL,
        "doc_simhash_pairs": _SIMHASH_PAIRS_SQL,
        "corpus_curation": _CORPUS_CURATION_SQL,
        "ann_cosine_topk": _ANN_COSINE_SQL,
        "ann_rhp_topk": _ANN_RHP_SQL,
        "dedup_embedding_cosine": _EMB_NEAR_DUP_SQL,
        "multimodal_features": _MULTIMODAL_SQL,
        "extract_pages_cdc": _EXTRACT_PAGES_SQL,
    }

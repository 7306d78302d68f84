"""Streaming stateful LWW: a live keyed state store over the change stream.

The batch engine resolves last-writer-wins per micro-batch and merges into
the lake; this operator maintains the SAME contract *continuously* in a
Structured Streaming query — the engine's analogue of the reference's
long-lived Kafka feature cache (``GetGeoMesaKafkaRecord``'s consumer loop
holds live feature state between polls, ``GetGeoMesaKafkaRecord.scala:
271-302``), built on ``applyInPandasWithState`` (Arrow-batched keyed state,
no per-row Python).

Semantics (identical to ``lake/merge.py``):

* per key, the greatest ``(ts, tiebreak)`` wins — late events lose;
* a winning ``delete`` emits a delete change and leaves a **tombstone** in
  state, so an older upsert replayed after it still loses;
* tombstones are evicted by event-time timeout once the watermark passes
  ``ts + tombstone_ttl`` — the same retention-horizon contract as
  ``compact(drop_tombstones=True)``: the TTL must exceed the maximum
  possible re-delivery lag.

Output is a *changelog*: one row per state transition (insert / update /
delete), suitable for ``writeStream`` into the lake, a Kafka topic, or a
live dashboard.  Keys whose incoming events all lose emit nothing.

Scale shape: state is hash-partitioned by key across executors by the
streaming state store (RocksDB-backed on a real cluster), payloads travel
as one JSON string per key, and each micro-batch group is reduced in
pandas before touching state — O(distinct keys in batch) state ops.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OP_DELETE = "delete"

# state row: winner's order keys + tombstone flag + payload as JSON
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.LongType()),
        T.StructField("tiebreak", T.LongType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("payload", T.StringType()),
    ]
)


def _output_schema(key_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("tiebreak", T.LongType()),
            T.StructField("change", T.StringType()),  # insert | update | delete
            T.StructField("payload", T.StringType()),
        ]
    )


def lww_state_stream(
    changes: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str | None = "src_offset",
    op_col: str = "op",
    payload_cols: list[str] | None = None,
    tombstone_ttl_ms: int | None = 3_600_000,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Wire the stateful LWW operator onto a *streaming* DataFrame.

    Returns the changelog stream (schema: key, ts_us, tiebreak, change,
    payload-JSON).  ``changes`` must be a streaming DataFrame carrying
    ``key_col``, ``ts_col`` (timestamp), optionally ``tiebreak_col`` and
    ``op_col``; all other requested ``payload_cols`` ride along as JSON.

    ``tombstone_ttl_ms=None`` keeps tombstones forever (NoTimeout, no
    watermark): the same retention choice as ``compact(drop_tombstones=
    False)``, and — because no watermark means no engine-side late-row
    filtering — the mode where the changelog is a deterministic function
    of the batched input alone, whatever the event-time disorder (the
    driver-gate configuration).
    """
    if payload_cols is None:
        payload_cols = [
            c for c in changes.columns
            if c not in (key_col, ts_col, tiebreak_col, op_col)
        ]
    out_schema = _output_schema(key_col)

    evict = tombstone_ttl_ms is not None
    source = changes.withWatermark(ts_col, watermark) if evict else changes
    prepared = source.select(
        F.col(key_col).cast("string").alias(key_col),
        # the watermarked attribute itself must survive into the stateful
        # operator's child plan or the analyzer rejects EventTimeTimeout
        F.col(ts_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
        (
            F.col(tiebreak_col).cast("long") if tiebreak_col else F.lit(0).cast("long")
        ).alias("_tiebreak"),
        (
            F.col(op_col) if op_col in changes.columns else F.lit("upsert")
        ).alias("_op"),
        F.to_json(F.struct(*[F.col(c) for c in payload_cols])).alias("_payload"),
    )

    def update_fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # tombstone retention horizon passed: drop the key entirely
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        # batch-local LWW winner (vectorized idxmax over the order pair)
        order = list(zip(rows["_ts_us"].astype("int64"), rows["_tiebreak"].astype("int64")))
        w = max(range(len(order)), key=order.__getitem__)
        b_ts, b_tb = int(rows["_ts_us"].iloc[w]), int(rows["_tiebreak"].iloc[w])
        b_op, b_payload = str(rows["_op"].iloc[w]), rows["_payload"].iloc[w]

        if state.exists:
            s_ts, s_tb, s_deleted, s_payload = state.get
            if (b_ts, b_tb) < (int(s_ts), int(s_tb)):
                # late event loses; nothing to emit.  Re-arm a stored
                # tombstone's eviction deadline defensively: the Scala
                # GroupState contract documents timeouts as reset on every
                # invocation (empirically, pyspark 4.1.2 retains it when no
                # state call is made — covered by
                # test_late_loser_rearms_tombstone_timeout — but the
                # re-arm makes the TTL contract independent of that detail)
                if s_deleted and evict:
                    # Clamp to just past the current watermark: re-arming at
                    # a deadline the watermark has already crossed raises
                    # INVALID_TIMEOUT_TIMESTAMP, which would wedge the
                    # stream on restart-replay.  pyspark 4.1.2 filters
                    # late rows before this operator (probe-verified), so
                    # today a loser can only arrive with ts >= watermark and
                    # the deadline is still ahead — the clamp keeps the
                    # re-arm contract safe if that pre-filter ever changes
                    # (its presence is version-dependent, not documented
                    # API).
                    deadline = int(s_ts) // 1000 + tombstone_ttl_ms
                    wm = state.getCurrentWatermarkMs()
                    state.setTimeoutTimestamp(max(deadline, wm + 1))
                return
            prior_live = not s_deleted
        else:
            prior_live = False

        is_delete = b_op == OP_DELETE
        state.update((b_ts, b_tb, is_delete, None if is_delete else b_payload))
        if is_delete:
            # event-time timeout at ts + ttl: fires once the watermark
            # passes it (GroupStateTimeout.EventTimeTimeout); clamped past
            # the watermark for the same reason as the loser-path re-arm —
            # a winning delete can itself be late per the GLOBAL watermark
            # while still newer than this key's stored state
            if evict:
                deadline = b_ts // 1000 + tombstone_ttl_ms
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(deadline, wm + 1))
            if prior_live:
                yield pd.DataFrame(
                    [[key[0], b_ts, b_tb, "delete", None]],
                    columns=[key_col, "ts_us", "tiebreak", "change", "payload"],
                )
            return
        change = "update" if prior_live else "insert"
        yield pd.DataFrame(
            [[key[0], b_ts, b_tb, change, b_payload]],
            columns=[key_col, "ts_us", "tiebreak", "change", "payload"],
        )

    return (
        prepared.groupBy(key_col)
        .applyInPandasWithState(
            update_fn,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if evict
                else GroupStateTimeout.NoTimeout
            ),
        )
    )

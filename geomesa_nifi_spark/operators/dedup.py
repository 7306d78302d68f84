"""Per-key last-writer-wins dedup — the pre-MERGE reduction.

The reference's ModifyWriter applies duplicate keys sequentially and keeps
the "first match, warn on multiple" semantics (``FeatureWriters.scala:
136-147``).  Under parallel replay that is non-deterministic, so the engine
replaces it with a deterministic LWW reduce on a total order
``(ts_col, tiebreak_col)`` before every MERGE (SURVEY.md §2.5, §4.1).

Three strategies, all returning exactly one row per key:

* ``maxby`` (default): ``groupBy(key).agg(max_by(struct(*cols), order))``.
  ``max_by`` is an algebraic aggregate with a partial-merge phase, so Spark
  combines duplicates map-side *before* the shuffle — a key with 10^6
  duplicate events ships at most one candidate row per map task.  This makes
  hot-key skew a non-issue without any salting, and is the scale-correct
  choice.
* ``window``: ``row_number() over (partition by key order by ... desc)``.
  Semantically identical; shuffles every duplicate row to one partition
  (skew-prone).  Kept for parity testing and because it preserves arbitrary
  expressions more directly.
* ``salted``: explicit two-phase reduce — phase 1 groups by
  ``(key, salt)`` with ``salt = pmod(xxhash64(order cols), k)``, phase 2
  groups the k partials by key.  Deterministic salt (SURVEY §7 hard-part 5).
  Demonstrates the manual skew pattern the north rule asks for; ``maxby``
  subsumes it in practice.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_ROW = "_lww_row"
_ORD = "_lww_ord"
_SALT = "_lww_salt"


def _order_struct(order_cols: Sequence[str]) -> F.Column:
    # Structs compare field by field with null below every value, so a null
    # order component sorts lowest and loses LWW (``window`` matches this
    # with ``desc_nulls_last``).
    return F.struct(*order_cols).alias(_ORD)


def lww_dedup(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    order_cols: Sequence[str] | str,
    strategy: str = "maxby",
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep, per key, the single row with the greatest ``order_cols`` tuple."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    out_cols = df.columns

    if strategy == "window":
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order])
        return (
            df.withColumn(_ROW, F.row_number().over(w))
            .filter(F.col(_ROW) == 1)
            .drop(_ROW)
        )

    if strategy == "maxby":
        agg = df.groupBy(*keys).agg(
            F.max_by(F.struct(*out_cols).alias(_ROW), _order_struct(order)).alias(_ROW)
        )
        return agg.select([F.col(f"{_ROW}.{c}").alias(c) for c in out_cols])

    if strategy == "maxby-columnar":
        # One max_by PER COLUMN instead of one over a packed row struct.
        # Semantically identical to "maxby" ONLY when ``order_cols`` is a
        # total order per key (no two rows of a key share the tuple) —
        # on ties, per-column picks could mix columns from different rows.
        # The lake's merge contract already requires that uniqueness
        # ((ts, tiebreak) totally orders a key's events, else replay
        # results would be batching-dependent), so merge-on-read
        # resolution uses this form.  Why it exists: a packed struct is
        # opaque to Catalyst, so a consumer that reads two columns of a
        # resolved 40-column table still shuffles all 40; with per-column
        # aggregates, unused ones are PRUNED (column pruning reaches the
        # parquet scan), and a count() over resolved state ships only the
        # key + order columns — at 100 TB that is the difference between
        # shuffling kilobytes and shuffling the table.
        ordc = _order_struct(order)
        non_key = [c for c in out_cols if c not in keys]
        agg = df.groupBy(*keys).agg(
            *[F.max_by(F.col(c), ordc).alias(c) for c in non_key]
        )
        return agg.select(*out_cols)

    if strategy == "salted":
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in order]), F.lit(salt_buckets))
        partial = (
            df.withColumn(_SALT, salt)
            .groupBy(*keys, _SALT)
            .agg(F.max_by(F.struct(*out_cols).alias(_ROW), _order_struct(order)).alias(_ROW))
        )
        final = partial.groupBy(*keys).agg(
            F.max_by(
                F.col(_ROW),
                F.struct(*[F.col(f"{_ROW}.{c}") for c in order]),
            ).alias(_ROW)
        )
        return final.select([F.col(f"{_ROW}.{c}").alias(c) for c in out_cols])

    raise ValueError(f"unknown dedup strategy: {strategy}")

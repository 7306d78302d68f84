"""Incremental materialized aggregates — a downstream CDC consumer that
maintains a derived table from a source :class:`LakeTable`'s committed
changes instead of recomputing it.

The reference ships the change stream OUT (``GetGeoMesaKafkaRecord``,
SURVEY.md §3.3) and leaves the consumer unspecified; this module is the
canonical consumer: classic incremental view maintenance (IVM) of
``GROUP BY`` count/sum aggregates, driven by the snapshot ledger.

How a refresh works (versions ``(from_v, to_v]`` of the source):

1. The commits in range are classified driver-side from ledger metadata.
   ``compact`` / ``rescale(_lazy)`` / ``evolve_schema`` / ``create(_branch)``
   rewrite or stamp files without changing any row and are skipped
   outright; every other operation (merge/merge_mor/append, but equally
   rollback and WAP publish) is diffed by file list against its parent.
2. The union of buckets those commits touched bounds the diff: the
   pre-image is ``source.scan(version=from_v, buckets=B)`` and the
   post-image ``source.scan(version=to_v, buckets=B)`` — both bucket-
   pruned reads, never a full-table scan for a CDC-shaped range.  Rows
   that did not change between the versions contribute ``(+1, -1)`` pairs
   that cancel exactly per group, so bucket-level granularity is
   *correct*, just wider than the true changed-key set.
3. ``delta = post ⊎ (-1)·pre`` aggregated by the group columns gives the
   net count/sum change per group; joining it against the view's current
   rows (bucket-pruned by the delta's own keys) yields new absolute
   values, groups reaching count 0 become deletes, and the result merges
   into the view table via the same exactly-once ``merge_changes`` path
   as any other CDC batch (``batch_id = mv:<from_v>-><to_v>``, LWW
   ordered by the refreshed source version).

Supported aggregates: ``count`` (count(*)), ``sum(col)`` (averages
derive as sum/count at read time), and ``min(col)`` / ``max(col)``.
count/sum are self-maintainable (distributive): the delta alone updates
them.  min/max are only SEMI-maintainable under deletes — the refresh
resolves most groups from the delta by case analysis (a new extreme
always wins; an extreme that provably lives outside the touched buckets
stands), and for exactly the groups where a touched bucket held a copy
of the current extreme and the post-image no longer reaches it, it
re-reads those groups from the source (one scan filtered to the
affected group keys, broadcast-joined — bounded by the diff, never by
the table; see ``_EXTREMAL_NOTE`` in ``refresh``).  Float sums
accumulate incrementally and may drift from a fresh recompute by
floating-point reassociation — use integral metrics where bit-exact
parity matters, or ``rebuild()`` periodically.

Because a refresh covers a version range, it need not follow every
source commit: ``run_file_replay(refresh_views=...)`` refreshes its views
on one background thread beside the ingest, folding the commits that
land during a refresh into the next one's range, and drains them to the
source head before it returns.

Retention contract (mirrors ``streaming/changes.py``): a refresh whose
range reaches past snapshots expired by ``expire_snapshots`` raises
:class:`MaterializeRetentionError` — never a silently-wrong view;
``rebuild()`` re-derives the view from the source's current state alone.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.lake.ledger import ROW_PRESERVING_OPS, covered_buckets
from geomesa_nifi_spark.lake.merge import MergeResult, merge_changes
from geomesa_nifi_spark.lake.table import LakeTable

MV_KEY = "_mv_key"
MV_VERSION = "_mv_version"


class MaterializeRetentionError(RuntimeError):
    """The refresh range reaches past the source's retention horizon.

    Raised when snapshots inside ``(from_v, to_v]`` were dropped by
    ``expire_snapshots`` so the incremental diff cannot be reconstructed.
    The view is NOT corrupted — it still reflects its last refreshed
    version; call :func:`rebuild` to fast-forward from the source's
    current state."""


#: orderable source types min/max accepts (the zone-map comparable set)
_ORDERABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.StringType, T.TimestampType, T.DateType,
)


def _metric_field(source_schema: T.StructType, name: str, spec) -> T.StructField:
    kind, col = spec
    if kind == "count":
        return T.StructField(name, T.LongType(), False)
    if kind == "sum":
        dt = source_schema[col].dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return T.StructField(name, T.LongType(), True)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return T.StructField(name, T.DoubleType(), True)
        if isinstance(dt, T.DecimalType):
            return T.StructField(name, T.DecimalType(38, dt.scale), True)
        raise ValueError(f"sum({col}): unsupported type {dt.simpleString()}")
    if kind in ("min", "max"):
        dt = source_schema[col].dataType
        if not isinstance(dt, _ORDERABLE):
            raise ValueError(f"{kind}({col}): unorderable type {dt.simpleString()}")
        return T.StructField(name, dt, True)
    raise ValueError(
        f"unknown aggregate kind '{kind}' (use 'count', 'sum', 'min' or 'max')"
    )


def _parse_metrics(metrics: dict) -> dict[str, tuple[str, str | None]]:
    """``{"n": "count", "tokens": ("sum", "token_count")}`` → canonical."""
    out: dict[str, tuple[str, str | None]] = {}
    for name, spec in metrics.items():
        if spec == "count":
            out[name] = ("count", None)
        elif (
            isinstance(spec, (tuple, list))
            and len(spec) == 2
            and spec[0] in ("sum", "min", "max")
        ):
            out[name] = (spec[0], spec[1])
        else:
            raise ValueError(
                f"metric {name!r}: spec must be 'count' or (sum|min|max, col)"
            )
    if not any(k == "count" for k, _ in out.values()):
        raise ValueError("metrics must include a 'count' entry (group liveness)")
    return out


def _mv_key_expr(group_cols: list[str]) -> F.Column:
    # to_json keeps explicit nulls so (None,) and ("",) key differently;
    # struct field order fixes the serialization
    return F.md5(
        F.to_json(
            F.struct(*[F.col(c) for c in group_cols]),
            {"ignoreNullFields": "false"},
        )
    )


def create_aggregate_view(
    spark: SparkSession,
    root: str,
    source: LakeTable,
    group_cols: list[str],
    metrics: dict,
    num_buckets: int = 32,
    if_not_exists: bool = False,
) -> LakeTable:
    """CREATE the view table (empty, at source version 0).

    ``metrics``: ``{out_col: "count" | ("sum", source_col)}``; exactly the
    aggregates a later ``SELECT group_cols, metrics FROM view`` returns.
    Call :func:`refresh` to bring it up to a source version.
    """
    canon = _parse_metrics(metrics)
    src_schema = source.schema()
    src_names = set(src_schema.fieldNames())
    for c in group_cols:
        if c not in src_names:
            raise ValueError(f"group column '{c}' not in source schema")
    for name, (kind, col) in canon.items():
        if kind != "count" and col not in src_names:
            raise ValueError(f"metric {name}={kind}({col}): column not in source")
    fields = [
        T.StructField(MV_KEY, T.StringType(), False),
        *[src_schema[c] for c in group_cols],
        *[_metric_field(src_schema, n, s) for n, s in canon.items()],
        T.StructField(MV_VERSION, T.LongType(), False),
    ]
    return LakeTable.create(
        spark,
        root,
        T.StructType(fields),
        key_col=MV_KEY,
        ts_col=MV_VERSION,
        num_buckets=num_buckets,
        if_not_exists=if_not_exists,
        properties={
            "mv.source_root": source.root,
            "mv.group_cols": json.dumps(group_cols),
            "mv.metrics": json.dumps({n: list(s) for n, s in canon.items()}),
        },
    )


def _view_config(view: LakeTable) -> tuple[list[str], dict[str, tuple[str, str | None]]]:
    props = view.snapshot().properties
    group_cols = json.loads(props["mv.group_cols"])
    metrics = {n: (s[0], s[1]) for n, s in json.loads(props["mv.metrics"]).items()}
    return group_cols, metrics


def last_refreshed_version(view: LakeTable) -> int:
    """The source version the view currently reflects (0 = never refreshed)."""
    for snap in sorted(view.history(), key=lambda s: s.version, reverse=True):
        v = (snap.summary.get("lineage") or {}).get("mv_source_version")
        if v is not None:
            return int(v)
    return 0


def _map_buckets(buckets: set[int], nb_src: int, nb_dst: int) -> set[int] | None:
    """Translate a bucket set between moduli; None = incommensurable
    (caller falls back to a full scan).  Over-approximation is safe — an
    extra bucket only adds rows whose ± contributions cancel."""
    if nb_src == nb_dst:
        return set(buckets)
    if nb_src % nb_dst == 0:
        return {b % nb_dst for b in buckets}
    if nb_dst % nb_src == 0:
        k = nb_dst // nb_src
        return {b + i * nb_src for b in buckets for i in range(k)}
    return None


def _touched_in_range(
    source: LakeTable, from_v: int, to_v: int
) -> tuple[set[tuple[int, int]], bool]:
    """(nb, bucket) pairs whose rows may differ in ``(from_v, to_v]``, and
    whether any data-changing commit exists in the range.  Raises
    :class:`MaterializeRetentionError` when the range is not fully
    retained in the ledger.

    The range is the PARENT CHAIN from ``to_v`` back to ``from_v`` —
    version numbers are a ledger-global sequence shared by every branch,
    so a numeric walk would visit unrelated branches' commits; the chain
    is exactly the refreshed lineage (and it crosses a branch fork
    correctly when the consumer tracks a branch head)."""
    touched: set[tuple[int, int]] = set()
    any_data = False
    chain: list = []  # (snap, parent) pairs, newest first
    try:
        s = source.snapshot(to_v)
        while s.version != from_v:
            if s.parent_version is None or s.version < from_v:
                raise MaterializeRetentionError(
                    f"source v{from_v} is not an ancestor of v{to_v} "
                    f"(diverged or expired lineage); rebuild() the view"
                )
            p = source.snapshot(s.parent_version)
            chain.append((s, p))
            s = p
    except FileNotFoundError as exc:
        raise MaterializeRetentionError(
            f"a snapshot inside refresh range ({from_v}, {to_v}] was "
            f"expired (expire_snapshots horizon); rebuild() the view"
        ) from exc
    for snap, parent in reversed(chain):
        if snap.summary.get("operation") in ROW_PRESERVING_OPS:
            continue
        any_data = True
        nb = int(snap.properties["num_buckets"])
        parent_paths = {f.path for f in parent.files}
        paths = {f.path for f in snap.files}
        for f in snap.files:
            if f.path not in parent_paths:
                touched.update((nb, b) for b in covered_buckets(f, nb))
        pnb = int(parent.properties["num_buckets"])
        for f in parent.files:
            if f.path not in paths:
                # a CoW merge can retire a bucket's only file (all rows
                # deleted) without adding a replacement
                touched.update((pnb, b) for b in covered_buckets(f, pnb))
    return touched, any_data


def _split_metrics(metrics) -> tuple[dict, dict]:
    """(additive count/sum, extremal min/max) partitions of the spec."""
    additive = {n: s for n, s in metrics.items() if s[0] in ("count", "sum")}
    extremal = {n: s for n, s in metrics.items() if s[0] in ("min", "max")}
    return additive, extremal


def _contributions(
    df: DataFrame, weight: int, group_cols: list[str], metrics
) -> DataFrame:
    """Signed contribution rows for the pre(-1)/post(+1) union: additive
    metrics carry their weighted value; extremal metrics carry the raw
    source value plus the side marker ``_w`` so the single delta
    aggregation can compute per-side min/max without a second shuffle."""
    additive, extremal = _split_metrics(metrics)
    cols = [F.col(c) for c in group_cols]
    mcols = []
    for name, (kind, col) in additive.items():
        if kind == "count":
            mcols.append(F.lit(weight).cast("long").alias(name))
        else:
            mcols.append((F.col(col) * F.lit(weight)).alias(name))
    for name, (_kind, col) in extremal.items():
        mcols.append(F.col(col).alias(f"_v_{name}"))
    if extremal:
        mcols.append(F.lit(weight).alias("_w"))
    return df.select(*cols, *mcols)


def diff_bucket_sets(
    source: LakeTable, from_v: int, to_v: int
) -> tuple[set[int] | None, set[int] | None]:
    """Bucket sets for an exact pre/post diff of versions ``(from_v, to_v]``
    — ``(pre_buckets, post_buckets)``; ``(None, None)`` means full scans.

    Cancellation of unchanged rows requires the pre and post scans to
    cover EXACTLY the same key set.  Bucket sets under different moduli
    cover different key supersets (a shrink mapping widens one side
    only), so: canonicalize every touched bucket to a residue of the
    COARSER of the two endpoint moduli, then expand those residues to
    each endpoint — both scans then cover precisely
    {k : hash(k) mod coarse ∈ residues}.  Anything incommensurable
    (an eager rescale in range) degrades BOTH sides to a full scan.
    Raises :class:`MaterializeRetentionError` if the range was expired.
    Shared by the aggregate-view refresh and the attribute-index refresh
    (``lake/index.py``) — both are exact-diff CDC consumers."""
    touched, any_data = _touched_in_range(source, from_v, to_v)
    if not any_data:
        # metadata-only traffic (compactions, rescales): empty diff
        touched = set()
    nb_from = int(source.snapshot(from_v).properties["num_buckets"])
    nb_to = int(source.snapshot(to_v).properties["num_buckets"])
    if nb_from % nb_to == 0 or nb_to % nb_from == 0:
        coarse = min(nb_from, nb_to)
        residues: set[int] | None = set()
        for nb, b in touched:
            m = _map_buckets({b}, nb, coarse)
            if m is None:
                residues = None
                break
            residues |= m
    else:
        residues = None
    if residues is None:
        return None, None
    return _map_buckets(residues, coarse, nb_from), _map_buckets(residues, coarse, nb_to)


def refresh(
    view: LakeTable,
    source: LakeTable,
    to_version: int | None = None,
) -> MergeResult:
    """Advance the view to ``source`` version ``to_version`` (default: its
    latest), reading only the buckets the intervening commits touched.
    Exactly-once: the view commit's batch id encodes the version range, so
    a replayed refresh skips; concurrent refreshes race on the view's
    optimistic commit like any writer."""
    group_cols, metrics = _view_config(view)
    from_v = last_refreshed_version(view)
    to_v = source.snapshot().version if to_version is None else int(to_version)
    if to_v < from_v:
        raise ValueError(f"view is at source v{from_v}, cannot refresh back to v{to_v}")
    if to_v == from_v:
        return MergeResult(snapshot=None, skipped=True, metrics={"reason": "up_to_date"})

    pre_b, post_b = diff_bucket_sets(source, from_v, to_v)

    if (pre_b is not None and not pre_b) and (post_b is not None and not post_b):
        # no data-changing commit in range: empty delta, but still commit
        # the version fast-forward below via an empty source frame
        delta = None
    else:
        pre = source.scan(version=from_v, buckets=sorted(pre_b) if pre_b is not None else None)
        post = source.scan(version=to_v, buckets=sorted(post_b) if post_b is not None else None)
        # schema evolution edge: a view may group/sum on a column ADDED
        # after from_v — snapshots before the evolution lack it entirely;
        # pad with typed nulls (exactly the value evolved reads give old
        # rows) so the diff stays well-formed
        src_schema = source.schema()
        needed = set(group_cols) | {c for (_k, c) in metrics.values() if c}

        def _pad(df: DataFrame) -> DataFrame:
            for c in sorted(needed - set(df.columns)):
                df = df.withColumn(c, F.lit(None).cast(src_schema[c].dataType))
            return df

        pre, post = _pad(pre), _pad(post)
        additive, extremal = _split_metrics(metrics)
        contrib = _contributions(post, +1, group_cols, metrics).unionByName(
            _contributions(pre, -1, group_cols, metrics)
        )
        aggs = []
        for name in additive:
            aggs.append(F.coalesce(F.sum(name), F.lit(0)).alias(f"_d_{name}"))
        for name, (kind, _col) in extremal.items():
            side = F.min if kind == "min" else F.max
            # per-side extremes inside the touched buckets: the case
            # analysis below needs both images, one shuffle computes both
            aggs.append(side(F.when(F.col("_w") == 1, F.col(f"_v_{name}"))).alias(f"_post_{name}"))
            aggs.append(side(F.when(F.col("_w") == -1, F.col(f"_v_{name}"))).alias(f"_pre_{name}"))
        delta = contrib.groupBy(*group_cols).agg(*aggs)
        # groups whose tracked aggregates are identical pre/post are
        # untouched (cancelled pairs / value-neutral rewrites) — for
        # extremal metrics "identical within the touched buckets + an
        # unchanged rest of the table" implies the view row is unchanged
        nonzero = None
        for name in additive:
            c = F.col(f"_d_{name}") != 0
            nonzero = c if nonzero is None else (nonzero | c)
        for name in extremal:
            c = ~F.col(f"_pre_{name}").eqNullSafe(F.col(f"_post_{name}"))
            nonzero = c if nonzero is None else (nonzero | c)
        # the delta feeds two consumers (the bucket collect below and the
        # merge source) — materialize it once; it is aggregate-sized
        # (≤ #touched groups), never batch-sized
        delta = (
            delta.filter(nonzero)
            .withColumn(MV_KEY, _mv_key_expr(group_cols))
            .persist()
        )

    batch_id = f"mv:{from_v}->{to_v}"
    # the view buckets the delta touches (collect ≤ num_buckets ints,
    # driver-safe): one job both prunes the view read below and probes for
    # an empty delta (no buckets)
    vbuckets = [] if delta is None else sorted(
        r["_b"]
        for r in delta.select(view.bucket_expr(key=F.col(MV_KEY)).alias("_b"))
        .distinct()
        .collect()
    )
    if not vbuckets:
        if delta is not None:
            delta.unpersist()
        src = view.spark.createDataFrame([], view.schema())
        # merge skips empty batches without committing; fall back to a
        # zero-row append commit carrying the lineage marker
        from geomesa_nifi_spark.lake.merge import append_only

        return append_only(
            view, src, batch_id=batch_id,
            lineage={"mv_source_version": to_v, "mv_mode": "fast_forward"},
        )

    # current view rows for the touched groups: bucket-pruned by the
    # delta's own keys
    additive, extremal = _split_metrics(metrics)
    cur = view.scan(buckets=vbuckets).select(
        MV_KEY, *[F.col(n).alias(f"_old_{n}") for n in metrics]
    )
    joined = delta.join(cur, on=MV_KEY, how="left")

    count_name = next(n for n, (k, _) in metrics.items() if k == "count")
    view_schema = view.schema()
    old_count = F.coalesce(F.col(f"_old_{count_name}"), F.lit(0))
    new_count = old_count + F.col(f"_d_{count_name}")
    is_new = F.col(f"_old_{count_name}").isNull()

    new_cols: list[F.Column] = [F.col(MV_KEY)]
    new_cols += [F.col(c) for c in group_cols]
    for name in additive:
        dt = view_schema[name].dataType
        new_cols.append(
            (F.coalesce(F.col(f"_old_{name}"), F.lit(0)) + F.col(f"_d_{name}"))
            .cast(dt)
            .alias(name)
        )
    # _EXTREMAL_NOTE — min/max case analysis per group (min shown; max is
    # the mirror).  pre/post = the extreme inside the TOUCHED buckets'
    # pre/post image; old = the view's current (global) extreme.
    #   new group            -> post (all its rows are in the post image)
    #   pre null or pre>old  -> the global extreme lives OUTSIDE the
    #                           touched buckets and still stands:
    #                           least(old, post)
    #   post <= old          -> a new-or-equal extreme in the post image
    #                           beats anything outside: post
    #   otherwise            -> a touched bucket held a copy of the global
    #                           extreme (pre == old; pre < old is a
    #                           defensive impossibility) and the post
    #                           image no longer reaches it — the rest of
    #                           the table may hold anything in
    #                           (old, post): RE-READ the group.
    rr_flags: list[F.Column] = []
    for name, (kind, _col) in extremal.items():
        pre_x, post_x = F.col(f"_pre_{name}"), F.col(f"_post_{name}")
        old_x = F.col(f"_old_{name}")
        better = (lambda a, b: a < b) if kind == "min" else (lambda a, b: a > b)
        fold = F.least if kind == "min" else F.greatest
        rr = (
            (~is_new)
            & pre_x.isNotNull()
            & ~better(old_x, pre_x)          # pre <= old (min) / pre >= old (max)
            & (post_x.isNull() | better(old_x, post_x))  # post misses old
            & (new_count > 0)                # vanished groups delete anyway
        )
        rr_flags.append(rr)
        new_cols.append(
            F.when(is_new, post_x)
            .when(pre_x.isNull() | better(old_x, pre_x), fold(old_x, post_x))
            .otherwise(post_x)
            .cast(view_schema[name].dataType)
            .alias(name)
        )
    new_cols.append(F.lit(to_v).cast("long").alias(MV_VERSION))
    new_cols.append(
        F.when(new_count <= 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op")
    )
    rr_any = F.lit(False)
    for rr in rr_flags:
        rr_any = rr_any | rr
    rows = joined.select(*new_cols, rr_any.alias("_rr"))
    out_names = (
        [MV_KEY] + list(group_cols) + list(additive) + list(extremal)
        + [MV_VERSION, "op"]
    )

    reread_groups = 0
    persisted = None
    if extremal:
        # bounded re-read: exactly the groups whose extreme was (possibly)
        # removed.  One source scan at to_v restricted to those groups by
        # a BROADCAST join on the group-key hash (the flagged-key frame is
        # aggregate-sized, never collected row-wise to the driver) — cost
        # scales with the affected groups' row share, never with the
        # diff-free rest of the table, and zone maps on grouped columns
        # still prune the scan.
        persisted = rows.persist()
        rr_keys = persisted.filter("_rr").select(MV_KEY)
        reread_groups = rr_keys.count()
        if reread_groups:
            src_now = (
                source.scan(version=to_v)
                .withColumn(MV_KEY, _mv_key_expr(group_cols))
                .join(F.broadcast(rr_keys), on=MV_KEY, how="inner")
            )
            re_aggs = []
            for name, (kind, col) in extremal.items():
                side = F.min if kind == "min" else F.max
                re_aggs.append(side(F.col(col)).alias(f"_re_{name}"))
            re = src_now.groupBy(MV_KEY).agg(*re_aggs)
            rows = persisted.join(F.broadcast(re), on=MV_KEY, how="left")
            fixed = {
                name: (
                    F.when(F.col("_rr"), F.col(f"_re_{name}"))
                    .otherwise(F.col(name))
                    .cast(view_schema[name].dataType)
                    .alias(name)
                )
                for name in extremal
            }
            rows = rows.select(*[fixed.get(c, F.col(c)) for c in out_names])
        else:
            rows = persisted.select(*[F.col(c) for c in out_names])
    else:
        rows = rows.select(*[F.col(c) for c in out_names])
    try:
        return merge_changes(
            view,
            rows,
            batch_id=batch_id,
            lineage={
                "mv_source_version": to_v,
                "mv_mode": "incremental",
                **({"mv_reread_groups": reread_groups} if extremal else {}),
            },
        )
    finally:
        delta.unpersist()
        if persisted is not None:
            persisted.unpersist()


def rebuild(view: LakeTable, source: LakeTable) -> MergeResult:
    """Recompute the view from the source's CURRENT state alone — the
    recovery path when :func:`refresh` raises
    :class:`MaterializeRetentionError`, and the periodic float-drift
    reset.  One full source aggregate; groups that vanished since the last
    refresh are deleted via an anti-join against the view's own keys."""
    group_cols, metrics = _view_config(view)
    to_v = source.snapshot().version
    full = source.scan()
    aggs = []
    for name, (kind, col) in metrics.items():
        if kind == "count":
            aggs.append(F.count(F.lit(1)).cast("long").alias(name))
        elif kind == "sum":
            aggs.append(F.sum(col).alias(name))
        else:
            aggs.append((F.min if kind == "min" else F.max)(col).alias(name))
    fresh = (
        full.groupBy(*group_cols)
        .agg(*aggs)
        .withColumn(MV_KEY, _mv_key_expr(group_cols))
    )
    gone = (
        view.scan()
        .select(MV_KEY, *group_cols)
        .join(fresh.select(MV_KEY), on=MV_KEY, how="left_anti")
    )
    view_schema = view.schema()
    upserts = fresh.select(
        MV_KEY,
        *group_cols,
        *[F.col(n).cast(view_schema[n].dataType).alias(n) for n in metrics],
        F.lit(to_v).cast("long").alias(MV_VERSION),
        F.lit("upsert").alias("op"),
    )
    deletes = gone.select(
        MV_KEY,
        *group_cols,
        *[F.lit(None).cast(view_schema[n].dataType).alias(n) for n in metrics],
        F.lit(to_v).cast("long").alias(MV_VERSION),
        F.lit("delete").alias("op"),
    )
    return merge_changes(
        view,
        upserts.unionByName(deletes),
        batch_id=f"mv:rebuild->{to_v}",
        lineage={"mv_source_version": to_v, "mv_mode": "rebuild"},
    )

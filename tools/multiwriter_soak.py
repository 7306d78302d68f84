"""Cross-PROCESS concurrency soak: two independent writer processes (each
its own JVM) interleave CoW merges, MoR merges and compactions on ONE
shared lake table, while a third MAINTENANCE process runs the ops surface
against the same table on an interval.

The in-process tests (``tests/test_concurrency.py``) drive the conflict
paths deterministically but share a single JVM/filesystem handle, so they
cannot catch O_EXCL / rename / fsync races between real processes.  This
harness runs the race for real:

* writer A replays the even batches merge-on-read (with auto-compaction),
* writer B replays the odd batches copy-on-write,
* the main process fires a ``rescale(lazy=True)`` 16->32 once a few data
  commits exist (writers must redo in-flight merges onto the new modulus;
  readers must handle mixed-modulus files),
* the maintenance process loops until the writers finish:
  - ``expire_snapshots`` + ``vacuum`` (short grace, exercising REAL
    deletion while writers stage files — the grace window is the only
    thing standing between vacuum and a torn commit),
  - ``migrate_layout`` paying down the rescale debt in bounded commits
    that race the writers' optimistic ledger,
  - incremental refresh of an aggregate view (count/sum/min/max — the
    extremal path re-reads groups under concurrent deletes) and of an
    attribute index, both exactly-once consumers of the live ledger.

Pass criteria printed at the end:
* final table state == independent LWW oracle over the full stream,
* every batch id committed exactly once (no lost commits),
* attribute-index lookup == predicate scan for sampled values,
* materialized view == from-scratch recompute of the final state,
* migrate_layout converges to zero rescale debt.

Usage: python tools/multiwriter_soak.py [n_events] [n_batches]
       (round-5 record: 800000 16)
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("offset", T.LongType()),
    ]
)

#: vacuum grace inside the soak: long enough to cover any writer's
#: stage-to-commit window (sub-second here), short enough that expired
#: snapshots' files actually get deleted DURING the soak
SOAK_VACUUM_GRACE_S = 45.0


def _writer(argv: list[str]) -> None:
    """Child process: replay my share of the batches against the shared table."""
    changes_dir, table_root, name, mode, n_batches, parity = (
        argv[0], argv[1], argv[2], argv[3], int(argv[4]), int(argv[5]),
    )
    from geomesa_nifi_spark.lake import LakeTable, merge_changes
    from geomesa_nifi_spark.session import get_spark

    spark = get_spark(f"mw-{name}", master="local[8]", shuffle_partitions=8)
    table = LakeTable(spark, table_root)
    ch = spark.read.parquet(changes_dir)
    done = 0
    for b in range(n_batches):
        if b % 2 != parity:
            continue
        batch = ch.filter(F.pmod(F.col("offset"), F.lit(n_batches)) == b)
        kw = {"mode": mode}
        if mode == "mor":
            kw["auto_compact"] = True
            # stretch the MoR writer's schedule across the CoW writer's
            # JVM-warmup lag so the two genuinely interleave (the race is
            # the point of this harness)
            time.sleep(1.5)
        r = merge_changes(table, batch, batch_id=f"mw-{b}", collect_metrics=False, **kw)
        done += 1
        print(f"WRITER {name} batch {b} v{r.snapshot.version if r.snapshot else '-'}",
              flush=True)
    print(f"WRITER {name} DONE {done}", flush=True)
    spark.stop()


def _maintenance(argv: list[str]) -> None:
    """Child process: the ops loop (rescale, expiry+vacuum, migrate,
    MV/index refresh) until the stop file appears."""
    table_root, mv_root, aidx_root, stop_file = argv
    from geomesa_nifi_spark.lake import (
        CommitConflict,
        LakeTable,
        MaterializeRetentionError,
        migrate_layout,
        rebuild,
        refresh,
        refresh_attr_index,
    )
    from geomesa_nifi_spark.session import get_spark

    spark = get_spark("mw-M", master="local[4]", shuffle_partitions=4)
    table = LakeTable(spark, table_root)
    view = LakeTable(spark, mv_root)
    aidx = LakeTable(spark, aidx_root)
    rounds = vacuumed = migrated = refreshed = 0
    while not os.path.exists(stop_file):
        rounds += 1
        try:
            # writers commit continuously, so keep_last=30 leaves the
            # refresh consumers a deep retention margin while still
            # giving vacuum real work
            table.expire_snapshots(keep_last=30)
            removed = table.vacuum(min_age_s=SOAK_VACUUM_GRACE_S)
            vacuumed += len(removed)
            migrate_layout(table, groups_per_commit=4)
            migrated += 1
            try:
                refresh(view, table)
            except MaterializeRetentionError:
                rebuild(view, table)
                print("MAINT mv retention -> rebuild", flush=True)
            refresh_attr_index(aidx, table)
            refreshed += 1
        except CommitConflict:
            # lost an optimistic race to a writer — next round retries
            print("MAINT commit conflict (retrying next round)", flush=True)
        time.sleep(2.0)
    print(f"MAINT DONE rounds={rounds} files_vacuumed={vacuumed} "
          f"migrate_passes={migrated} refreshes={refreshed}",
          flush=True)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--writer":
        _writer(sys.argv[2:])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--maintenance":
        _maintenance(sys.argv[2:])
        return

    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from geomesa_nifi_spark.lake import (
        LakeTable,
        MaterializeRetentionError,
        create_aggregate_view,
        create_attr_index,
        index_lookup,
        migrate_layout,
        rebuild,
        refresh,
        refresh_attr_index,
    )
    from geomesa_nifi_spark.operators.dedup import lww_dedup
    from geomesa_nifi_spark.session import get_spark
    from geomesa_nifi_spark.sources.changegen import change_stream

    spark = get_spark("mw-main", master="local[8]", shuffle_partitions=8)
    work = tempfile.mkdtemp(prefix="gns_mw_")
    changes_dir = os.path.join(work, "changes")
    change_stream(spark, n_events, n_keys=n_events // 5, seed=7, payload="text").drop(
        "partition"
    ).write.parquet(changes_dir)
    table_root = os.path.join(work, "pages")
    table = LakeTable.create(
        spark, table_root, SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=16,
        properties={"mor.compact.deltas": "2"},  # compact often: more conflicts
    )
    # the maintenance consumers: an aggregate view with extremal metrics
    # (min/max re-read path under concurrent deletes) and a value index
    mv_root = os.path.join(work, "mv")
    create_aggregate_view(
        spark, mv_root, table,
        group_cols=["lang"],
        metrics={"n": "count", "sum_off": ("sum", "offset"),
                 "min_off": ("min", "offset"), "max_off": ("max", "offset")},
        num_buckets=4,
    )
    aidx_root = os.path.join(work, "aidx")
    create_attr_index(table, "text", aidx_root)
    stop_file = os.path.join(work, "STOP")

    here = os.path.abspath(__file__)
    t0 = time.monotonic()
    maint = subprocess.Popen(
        [sys.executable, here, "--maintenance", table_root, mv_root,
         aidx_root, stop_file],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    procs = [
        subprocess.Popen(
            [sys.executable, here, "--writer", changes_dir, table_root,
             name, mode, str(n_batches), str(parity)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for name, mode, parity in (("A", "mor", 0), ("B", "cow", 1))
    ]
    # fire the lazy rescale FROM HERE, deterministically mid-stream: the
    # main process is otherwise idle while the writers run, so it can wait
    # until real data commits exist (old-modulus files on disk = true
    # migration debt) and then grow 16->32 while all three children race it
    from geomesa_nifi_spark.lake import CommitConflict

    rescaled = False
    poll_deadline = time.time() + 900
    while time.time() < poll_deadline and not rescaled:
        if all(p.poll() is not None for p in procs):
            break  # writers already finished (tiny run): rescale below
        try:
            if table.snapshot().version >= 4:
                snap = table.rescale(32, lazy=True)
                rescaled = True
                print(f"MAIN lazy-rescale 16->32 at v{snap.version}", flush=True)
        except CommitConflict:
            pass  # raced a writer commit: retry next poll
        time.sleep(1.0)
    for p in procs:
        out, err = p.communicate(timeout=1800)
        sys.stdout.write(out)
        if p.returncode != 0:
            tail = "\n".join(
                ln for ln in err.splitlines()
                if "WARN" not in ln and not ln.startswith("[Stage")
            )[-3000:]
            with open(stop_file, "w") as fh:
                fh.write("writers failed")
            maint.communicate(timeout=300)
            print(f"FAIL: writer exited {p.returncode}\n{tail}")
            sys.exit(1)
    if not rescaled:
        table.rescale(32, lazy=True)
        print("MAIN lazy-rescale fired post-writers (run too short to race)",
              flush=True)
    with open(stop_file, "w") as fh:
        fh.write("writers done")
    mout, merr = maint.communicate(timeout=600)
    sys.stdout.write(mout)
    if maint.returncode != 0:
        tail = "\n".join(
            ln for ln in merr.splitlines()
            if "WARN" not in ln and not ln.startswith("[Stage")
        )[-3000:]
        print(f"FAIL: maintenance exited {maint.returncode}\n{tail}")
        sys.exit(1)
    elapsed = time.monotonic() - t0

    ch = spark.read.parquet(changes_dir)
    oracle_df = (
        lww_dedup(ch, "url", ["warc_ts", "offset"], strategy="maxby")
        .filter(F.col("op") != "delete")
    )
    expected = oracle_df.count()
    got = table.scan().count()
    committed = table.committed_batch_ids()
    missing = [b for b in range(n_batches) if f"mw-{b}" not in committed]
    ok_state = got == expected
    ok_batches = not missing
    print(f"state: {got} rows vs oracle {expected} -> "
          f"{'MATCH' if ok_state else 'MISMATCH'}")
    print(f"batches committed: {n_batches - len(missing)}/{n_batches}"
          + (f" MISSING {missing}" if missing else ""))

    # migrate to convergence, then: no debt, state unchanged
    migrate_layout(table)
    debt = sum(
        1 for f in table.snapshot().files
        if (f.modulus or table.num_buckets) != table.num_buckets
    )
    ok_debt = debt == 0 and table.num_buckets == 32
    print(f"rescale: num_buckets={table.num_buckets}, residual debt files={debt} -> "
          f"{'CLEARED' if ok_debt else 'REMAINING'}")
    ok_state2 = table.scan().count() == expected
    print(f"state after full migrate: {'MATCH' if ok_state2 else 'MISMATCH'}")

    # MV: final refresh, then compare to a from-scratch recompute
    view = LakeTable(spark, mv_root)
    try:
        refresh(view, table)
    except MaterializeRetentionError:
        rebuild(view, table)
    mv_got = {
        r["lang"]: (r["n"], r["sum_off"], r["min_off"], r["max_off"])
        for r in view.scan().select("lang", "n", "sum_off", "min_off", "max_off").collect()
    }
    mv_want = {
        r["lang"]: (r["n"], r["sum_off"], r["min_off"], r["max_off"])
        for r in table.scan().groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"), F.sum("offset").alias("sum_off"),
            F.min("offset").alias("min_off"), F.max("offset").alias("max_off"),
        ).collect()
    }
    ok_mv = mv_got == mv_want
    print(f"materialized view ({len(mv_got)} groups): "
          f"{'MATCH' if ok_mv else 'MISMATCH ' + repr((mv_got, mv_want))}")

    # attribute index: final refresh, lookup == scan for sampled values
    aidx = LakeTable(spark, aidx_root)
    refresh_attr_index(aidx, table)
    vals = [r[0] for r in table.scan().select("text")
            .where(F.col("text").isNotNull()).limit(3).collect()]
    n_idx = index_lookup(table, aidx, vals).count()
    n_scan = table.scan(where=[("text", "in", vals)]).count()
    ok_idx = n_idx == n_scan
    print(f"attr index lookup: {n_idx} rows vs scan {n_scan} -> "
          f"{'MATCH' if ok_idx else 'MISMATCH'}")

    print(f"ledger version {table.snapshot().version}, wall {elapsed:.1f}s")
    ok = all([ok_state, ok_batches, ok_debt, ok_state2, ok_mv, ok_idx])
    print("PASS" if ok else "FAIL")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

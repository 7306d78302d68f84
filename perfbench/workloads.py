"""The two CDC-ingest workloads and their DuckDB oracle.

Each workload generates its change stream from the seed, then runs
*passes*: a pass prepares a fresh table (untimed) and applies the stream
to it in closed loop (each batch is pulled after the previous one commits,
the engine's ``Trigger.AvailableNow`` pull model), so every pass does the
same work.
The benchmark calls the package only through its public functions, and
through their modules (``merge.merge_changes``, not a local name), so the
traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.functions.extract import extract_pages, extract_text_bytes
from geomesa_nifi_spark.lake import bootstrap, materialize, merge
from geomesa_nifi_spark.lake.table import LakeTable
from geomesa_nifi_spark.operators.dedup import lww_dedup
from geomesa_nifi_spark.sources.changegen import change_stream, write_replay_files
from geomesa_nifi_spark.streaming import lineage, pipeline

import helpers

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("offset", T.LongType()),
    ]
)
LOOKUP_KEYS = 100
EXTRACT_SAMPLE = 20


def _extract_winners(df):
    return extract_pages(df).drop("html")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


class Oracle:
    """Last-writer-wins final state of a change stream, computed by DuckDB
    straight from the generated parquet: per url the event with the
    greatest ``(warc_ts, offset)``, deletes removed."""

    def __init__(self, parquet_glob: str, html_glob: str | None = None):
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 2")
        self._con.execute(
            f"""CREATE TABLE winners AS
            SELECT url, epoch_us(warc_ts) AS warc_us, "offset", lang, "text", op
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, "offset" DESC) AS rn
                  FROM read_parquet('{parquet_glob}'))
            WHERE rn = 1"""
        )
        self.rows = self._con.execute(
            "SELECT url, warc_us, \"offset\", lang, \"text\" FROM winners WHERE op <> 'delete'"
        ).fetchall()
        self.by_url = {r[0]: r for r in self.rows}
        self.count, self.hash = helpers.table_hash(self.rows)
        self.count_en = sum(1 for r in self.rows if r[3] == "en")
        self.urls = [
            r[0] for r in self._con.execute("SELECT url FROM winners ORDER BY url").fetchall()
        ]
        self._html_glob = html_glob

    def winning_html(self, urls: list[str]) -> dict[str, bytes]:
        """The html payload of each url's winning event (independent of
        the text columns: read from the html stream itself)."""
        got = self._con.execute(
            f"""SELECT url, html FROM (
                SELECT url, html, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, "offset" DESC) AS rn
                FROM read_parquet('{self._html_glob}') WHERE list_contains(?, url))
            WHERE rn = 1""",
            [urls],
        ).fetchall()
        return {u: h for u, h in got}

    def view_groups(self) -> set[tuple]:
        return set(
            self._con.execute(
                """SELECT lang, count(*), sum("offset") FROM winners
                WHERE op <> 'delete' GROUP BY lang"""
            ).fetchall()
        )

    def close(self) -> None:
        self._con.close()


def table_rows(table: LakeTable, keys: list[str] | None = None) -> list[tuple]:
    df = table.lookup(keys) if keys is not None else table.scan()
    return [
        tuple(r)
        for r in df.select(
            "url", F.unix_micros("warc_ts").alias("warc_us"), "offset", "lang", "text"
        ).collect()
    ]


class Workload:
    """One workload: inputs, a warm-up, a pass, and its checks."""

    name = ""
    num_buckets = 8
    table_props: dict[str, str] = {}
    #: input generations per run (their median is set-up time)
    generate_reps = 3
    #: measured passes per untraced run
    passes = 1
    #: consumer mixes issued after each pass
    read_mixes = 7

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.input_dir = os.path.join(work, "input")
        self.oracle: Oracle | None = None
        self.lookup_keys: list[str] = []

    # -- set-up --------------------------------------------------------------

    def generate(self) -> None:
        """Write the seeded inputs (``generate_reps`` times per run, so
        their time is a median)."""
        raise NotImplementedError

    def warm_up(self, root: str) -> None:
        """One untimed pass before the measured ones, so they run with
        warmer JIT-compiled code, Python workers and page cache (a cold
        first pass runs 25-35% slower; after a one-batch warm-up the
        pipeline's three measured passes still sped up by 20% from the
        first to the last)."""
        self.run_pass(self.prepare(root, "warm"))

    def build_oracle(self) -> None:
        """Benchmark-side preparation outside set-up: the oracle and the
        seeded lookup keys (drawn from every url, deleted ones included)."""
        self.oracle = self.make_oracle()
        urls = self.oracle.urls
        self.lookup_keys = random.Random(self.seed).sample(urls, min(LOOKUP_KEYS, len(urls)))

    def make_oracle(self) -> Oracle:
        raise NotImplementedError

    def new_table(self, root: str) -> LakeTable:
        return LakeTable.create(
            self.spark, root, PAGES_SCHEMA, key_col="url", ts_col="warc_ts",
            tiebreak_col="offset", num_buckets=self.num_buckets,
            properties=dict(self.table_props),
        )

    # -- the measured pass ---------------------------------------------------

    def prepare(self, root: str, tag: str) -> dict:
        """The untimed start of a pass (set-up, not measured): a fresh
        table under ``root``, pre-populated as the workload needs.
        Returns the pass state :meth:`run_pass` takes; its ``tables`` are
        every table the pass writes."""
        table = self.new_table(os.path.join(root, "table"))
        return {"root": root, "tag": tag, "table": table, "tables": [table]}

    def run_pass(self, state: dict) -> dict:
        """The timed part of a pass: apply the stream to the prepared
        table.  Returns
        ``table``, ``tables`` (every table written), ``events``, ``batch_s``
        (per-batch apply times, indexed by batch) and ``batches`` (the
        number of write operations)."""
        raise NotImplementedError

    def finish_pass(self, result: dict) -> None:
        """Post-pass bookkeeping outside the timed window."""

    def written_bytes(self, state: dict) -> int:
        """Bytes of every file under the pass's tables (data and ledger)."""
        return sum(dir_bytes(t.root) for t in state["tables"])

    def isolated_batches(self) -> list[tuple[object, int, bool]]:
        """``(frame, events, has_html)`` per batch, for the traced run's
        isolated dedup and extraction calls."""
        return []

    # -- reads and checks ----------------------------------------------------

    def read_mix(self, table: LakeTable) -> tuple[list[float], list[str]]:
        """The consumer mix: resolved count, point lookup of the seeded
        keys, predicate scan.  Returns per-query seconds and one message
        per query whose answer disagrees with the oracle."""
        o = self.oracle
        t0 = time.perf_counter()
        n_all = table.scan().count()
        t1 = time.perf_counter()
        looked = table_rows(table, self.lookup_keys)
        t2 = time.perf_counter()
        n_en = table.scan(where=[("lang", "=", "en")]).count()
        t3 = time.perf_counter()
        expected = [o.by_url[k] for k in self.lookup_keys if k in o.by_url]
        errors = []
        if n_all != o.count:
            errors.append(f"scan().count() {n_all} != oracle {o.count}")
        got, want = helpers.table_hash(looked), helpers.table_hash(expected)
        if got != want:
            errors.append(f"lookup of {len(self.lookup_keys)} keys {got} != oracle {want}")
        if n_en != o.count_en:
            errors.append(f"scan(where lang = en).count() {n_en} != oracle {o.count_en}")
        return [t1 - t0, t2 - t1, t3 - t2], errors

    def check(self, result: dict) -> list[str]:
        """Final state of a pass against the oracle; returns mismatches."""
        rows = table_rows(result["table"])
        got = helpers.table_hash(rows)
        want = (self.oracle.count, self.oracle.hash)
        errors = []
        if got != want:
            errors.append(f"final state {got} != oracle {want}")
        return errors


class PipelineHtmlMor(Workload):
    """``bootstrap_load`` of a pre-extracted text snapshot (the first half
    of the stream; the table's untimed pre-population), then the timed
    raw-html tail through ``handoff_filter`` and
    ``merge_changes(mode="mor", post_dedup_transform=extract_pages)`` in
    large batches, with compaction when due.

    A tail pass takes about 7 s, shorter than the stretches (20-60 s) in
    which other tenants of a shared host slow every phase of a run, so a
    run measures three passes and reports medians over them; the inputs
    are generated once, and set-up time is a median over the passes'
    bootstraps instead."""

    name = "pipeline_html_mor"
    generate_reps = 1
    passes = 3
    read_mixes = 3
    n_events = 20_000
    n_tail_batches = 5
    #: the tail re-delivers this many events the snapshot already holds
    overlap = 1_000
    #: compaction is due after the last tail batch
    table_props = {"mor.compact.deltas": "5"}
    #: the page weight bench.py records as production-shaped (250-600
    #: words, ~1.5-3 KB of body text per page)
    words = {"words_min": 250, "words_span": 350}

    def generate(self) -> None:
        # the text payload is what extraction of the html payload yields
        # (same seed and page shape): the snapshot is pre-extracted text,
        # the oracle reads it too, and check() samples that claim against
        # extract_text_bytes
        for payload in ("html", "text"):
            change_stream(
                self.spark, self.n_events, n_keys=self.n_events // 5, seed=self.seed,
                payload=payload, **self.words,
            ).drop("partition").write.mode("overwrite").parquet(
                os.path.join(self.input_dir, payload)
            )

    def make_oracle(self) -> Oracle:
        return Oracle(
            os.path.join(self.input_dir, "text", "*.parquet"),
            html_glob=os.path.join(self.input_dir, "html", "*.parquet"),
        )

    def _frames(self):
        """(snapshot frame, snapshot events, [(tail batch frame, events)]):
        the snapshot is the first half of the text stream; the html tail
        re-delivers ``overlap`` of its events and then runs to the end."""
        text = self.spark.read.parquet(os.path.join(self.input_dir, "text"))
        html = self.spark.read.parquet(os.path.join(self.input_dir, "html"))
        n = self.n_events
        half = n // 2
        snap = text.filter(F.col("offset") < half)
        lo = half - self.overlap
        size = (n - lo) // self.n_tail_batches
        tail = []
        for b in range(self.n_tail_batches):
            hi = lo + size if b < self.n_tail_batches - 1 else n
            tail.append((html.filter((F.col("offset") >= lo) & (F.col("offset") < hi)), hi - lo))
            lo = hi
        return snap, half, tail

    def prepare(self, root: str, tag: str) -> dict:
        state = super().prepare(root, tag)
        snap, half, _ = self._frames()
        bootstrap.bootstrap_load(
            state["table"], snap, batch_id=f"{tag}-boot", offset_hwm=half - 1, op_col="op"
        )
        return state

    def run_pass(self, state: dict) -> dict:
        table, tag = state["table"], state["tag"]
        _, _, tail = self._frames()
        out = {"table": table, "tables": state["tables"], "events": 0, "batch_s": [],
               "batches": 0}
        for b, (batch, n) in enumerate(tail):
            t0 = time.perf_counter()
            merge.merge_changes(
                table, bootstrap.handoff_filter(table, batch, "offset"),
                batch_id=f"{tag}-b{b}", mode="mor", post_dedup_transform=_extract_winners,
            )
            out["batch_s"].append(time.perf_counter() - t0)
            out["batches"] += 1
            out["events"] += n
        return out

    def isolated_batches(self):
        snap, half, tail = self._frames()
        return [(snap, half, False)] + [(df, n, True) for df, n in tail]

    def check(self, result: dict) -> list[str]:
        errors = super().check(result)
        rng = random.Random(self.seed + 1)
        live = sorted(self.oracle.by_url)
        sample = rng.sample(live, min(EXTRACT_SAMPLE, len(live)))
        html = self.oracle.winning_html(sample)
        got = {r[0]: r[4] for r in table_rows(result["table"], sample)}
        for url in sample:
            if got.get(url) != extract_text_bytes(html.get(url)):
                errors.append(f"extracted text of {url} differs from extract_text_bytes")
        return errors


class StreamSmallMorMv(Workload):
    """``run_file_replay(write_mode="mor", refresh_views=[one aggregate
    view])`` over small offset-contiguous chunk files: per-commit fixed
    costs (streaming, lineage, ledger, compaction, view refresh).

    A pass first replays the ``warm_chunks`` oldest chunks into a fresh
    table and view (untimed: the table's pre-population, which also warms
    the stream path), then drops the other chunks into the source
    directory and resumes the same query from its checkpoint: that second
    ``run_file_replay`` call is the timed window."""

    name = "stream_small_mor_mv"
    warm_chunks = 3
    n_chunks = 10
    events_per_chunk = 400
    num_buckets = 4
    #: compaction is due after every 4th delta, so the timed window
    #: (commits 4-10) holds two compactions at the same commits on every run
    table_props = {"mor.compact.deltas": "4"}

    @property
    def chunks_dir(self) -> str:
        return os.path.join(self.input_dir, "chunks")

    def generate(self) -> None:
        n = self.n_chunks * self.events_per_chunk
        write_replay_files(
            change_stream(self.spark, n, n_keys=n // 5, seed=self.seed, payload="text"),
            self.chunks_dir, self.n_chunks,
        )

    def make_oracle(self) -> Oracle:
        return Oracle(os.path.join(self.chunks_dir, "*.parquet"))

    def warm_up(self, root: str) -> None:
        """Nothing: each pass warms up in its own untimed prefix
        (:meth:`prepare`)."""

    def _drop_chunks(self, source: str, names: list[str]) -> None:
        """Copy chunk files into the replay source, with modification
        times one second apart in chunk order (the file source replays
        the oldest first)."""
        base = time.time()
        for name in names:
            dst = os.path.join(source, name)
            shutil.copy(os.path.join(self.chunks_dir, name), dst)
            k = int(name.split("-")[1].split(".")[0])
            os.utime(dst, (base + k, base + k))

    def _replay(self, state: dict):
        root = state["root"]
        return pipeline.run_file_replay(
            self.spark, state["table"], state["source"], os.path.join(root, "checkpoint"),
            pipeline_id=state["tag"], write_mode="mor", extract=False,
            refresh_views=[state["view"]],
        )

    def prepare(self, root: str, tag: str) -> dict:
        state = super().prepare(root, tag)
        state["view"] = materialize.create_aggregate_view(
            self.spark, os.path.join(root, "view"), state["table"], ["lang"],
            {"n": "count", "offset_sum": ("sum", "offset")},
            num_buckets=self.num_buckets,
        )
        state["tables"].append(state["view"])
        state["source"] = os.path.join(root, "source")
        os.makedirs(state["source"])
        names = sorted(n for n in os.listdir(self.chunks_dir) if n.endswith(".parquet"))
        self._drop_chunks(state["source"], names[:self.warm_chunks])
        warm = self._replay(state)
        state["warm_commits"] = warm.batches
        self.read_mix(state["table"])  # warms the read path; answers unchecked
        self._drop_chunks(state["source"], names[self.warm_chunks:])
        return state

    def run_pass(self, state: dict) -> dict:
        stats = self._replay(state)
        return {"table": state["table"], "view": state["view"], "tables": state["tables"],
                "events": stats.rows, "batches": stats.batches,
                "warm_commits": state["warm_commits"]}

    @staticmethod
    def commit_intervals(table: LakeTable, skip: int) -> list[float]:
        """Seconds between consecutive batch commits after the first
        ``skip``, from the ledger's lineage records (``created_ms``)."""
        ms = [
            r["created_ms"] for r in lineage.lineage_records(table)
            if r["operation"] == "merge_mor"
        ][skip:]
        return [(b - a) / 1000.0 for a, b in zip(ms, ms[1:])]

    def finish_pass(self, result: dict) -> None:
        result["batch_s"] = self.commit_intervals(result["table"], result["warm_commits"])

    def check(self, result: dict) -> list[str]:
        errors = super().check(result)
        got = {
            tuple(r) for r in result["view"].scan().select("lang", "n", "offset_sum").collect()
        }
        want = self.oracle.view_groups()
        if got != want:
            errors.append(f"view {sorted(got)} != oracle group-by {sorted(want)}")
        return errors


WORKLOADS = {w.name: w for w in (PipelineHtmlMor, StreamSmallMorMv)}


def isolated_dedup_extract(spark, tracer, frames) -> None:
    """Time LWW dedup and html extraction as isolated calls on the pass's
    batches (inside ``merge_changes`` both run lazily within the write
    job, so their share cannot be split from it there)."""
    for i, (df, events, has_html) in enumerate(frames):
        winners = lww_dedup(df, "url", ["warc_ts", "offset"]).persist()
        try:
            with tracer.span("operators.dedup") as rec:
                winners.write.format("noop").mode("overwrite").save()
            rec["rows_in"] = events
            rec["rows_out"] = winners.count()
            if has_html:
                obs = Observation(f"extract_rows_{i}")
                with tracer.span("functions.extract") as rec:
                    (
                        extract_pages(winners).observe(obs, F.count(F.lit(1)).alias("n"))
                        .write.format("noop").mode("overwrite").save()
                    )
                rec["rows"] = int(obs.get["n"])
        finally:
            winners.unpersist()

"""Deterministic synthetic CDC change stream.

Produces the F2 ``changes`` fixture shape (FIXTURES.md):

    op:string  url:string  warc_ts:timestamp  html:binary  offset:long  partition:int

Every column is a pure expression of ``spark.range(n)`` and the seed —
``xxhash64`` is the PRNG — so generation is:

  * deterministic across runs, sessions and partitionings (no
    ``rand()``/``Date.now`` anywhere);
  * embarrassingly parallel and codegen'd: 10^8 events generate at memory
    bandwidth, which is what lets the benchmark measure MERGE throughput
    instead of generator throughput;
  * skewed on purpose: key popularity follows ``floor(K * u^skew)`` (a
    power-law head), and hot keys concentrate in hot domains, exercising
    the skew handling the north rule calls for.

The html payload embeds a deterministic text body (per-language vocab with
real stopwords, so language id has signal) inside head/style/script
boilerplate that the extraction stage must strip; round-tripping
``extract_text_bytes(html) == text`` byte-identically is asserted in tests.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z

# Per-language vocab: language stopwords (detection signal) + neutral
# fillers, padded to a common size so one pmod indexes any of them.
_FILLERS = [
    "data", "page", "info", "report", "item", "value", "total", "index",
    "note", "list", "table", "entry", "code", "line", "form", "card",
]
VOCABS: dict[str, list[str]] = {
    "en": "the and of to in is that it for was on are as with his they at be this have".split() + _FILLERS,
    "de": "der die und in den von zu das mit sich des auf für ist im dem nicht ein eine als".split() + _FILLERS,
    "fr": "le de la et les des en un du une que est pour qui dans par sur au plus pas".split() + _FILLERS,
    "es": "de la que el en y a los del se las por un para con no una su al lo".split() + _FILLERS,
}
_VOCAB_SIZE = min(len(v) for v in VOCABS.values())
# Weight English heavier, like a web crawl.
_LANG_SLOTS = ["en", "en", "en", "de", "fr", "es"]


def _unit(*cols: Column) -> Column:
    """Deterministic uniform [0, 1) from a hash of the inputs."""
    return (F.pmod(F.xxhash64(*cols), F.lit(1 << 30)) / F.lit(float(1 << 30)))


# --- vectorized word synthesis (optimization round 6) -----------------------
#
# The body text is ``n_words`` vocabulary draws per event, one
# ``xxhash64(id, seed, 7, i)`` per word.  As a ``transform(sequence(...))``
# lambda that chain runs INTERPRETED (higher-order functions never enter
# whole-stage codegen), and at 2M events x ~425 words it was the single
# most expensive stage of benchmark materialization (~1000 s-core).  The
# batch kernel below reproduces the hash chain bit-exactly in numpy
# (XXH64 8-byte and 4-byte paths, matching Spark's XxHash64Function — the
# same spec ``functions/xxhash.py`` pins driver-side) and gathers/joins
# the words with Arrow — ~15x faster, byte-identical output
# (tests/test_extract.py::test_generator_vectorized_text_matches_jvm).

def _np_consts():
    import numpy as np

    u = np.uint64
    return {
        "P1": u(0x9E3779B185EBCA87), "P2": u(0xC2B2AE3D27D4EB4F),
        "P3": u(0x165667B19E3779F9), "P4": u(0x85EBCA77C2B2AE63),
        "P5": u(0x27D4EB2F165667C5),
        "c4": u(4), "c8": u(8),
        "r23": u(23), "r41": u(41), "r27": u(27), "r37": u(37),
        "r31": u(31), "r33": u(33), "r29": u(29), "r32": u(32),
    }


def _xxh_avalanche(h, C):
    h = h ^ (h >> C["r33"])
    h = h * C["P2"]
    h = h ^ (h >> C["r29"])
    h = h * C["P3"]
    h = h ^ (h >> C["r32"])
    return h


def _xxh_long(v, seed, C):
    """Vectorized XXH64 of an 8-byte little-endian long == Spark's
    ``XxHash64Function.hashLong`` == ``xxh64(v.to_bytes(8,'le'), seed)``."""
    h = seed + C["P5"] + C["c8"]
    t = v * C["P2"]
    t = ((t << C["r31"]) | (t >> C["r33"])) * C["P1"]
    h = h ^ t
    h = ((h << C["r27"]) | (h >> C["r37"])) * C["P1"] + C["P4"]
    return _xxh_avalanche(h, C)


def _xxh_int(v, seed, C):
    """Vectorized XXH64 of a 4-byte little-endian int (hashInt path)."""
    h = seed + C["P5"] + C["c4"]
    h = h ^ (v * C["P1"])
    h = ((h << C["r23"]) | (h >> C["r41"])) * C["P2"] + C["P3"]
    return _xxh_avalanche(h, C)


def _text_kernel(ids, lang_idx, n_words, seed: int):
    """text column for one batch: per row, ``n_words`` vocab draws indexed
    by ``pmod(xxhash64(id, seed, 7, j), V)``, joined with spaces — the
    exact value of the JVM expression in ``_jvm_text_expr``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    C = _np_consts()
    # uint64 arithmetic wraps mod 2^64 by design (that IS the hash);
    # numpy warns on *scalar* overflow even though the result is exact
    _suppress = np.errstate(over="ignore")
    _suppress.__enter__()
    n = len(ids)
    nw = n_words.astype(np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nw, out=offsets[1:])
    total = int(offsets[-1])
    row_of = np.repeat(np.arange(n, dtype=np.int64), nw)
    j = (np.arange(total, dtype=np.int64) - offsets[row_of]).astype(np.uint64)
    # chain: h=42; hashLong(id); hashInt(seed); hashInt(7); hashInt(j)
    h = _xxh_long(ids.astype(np.int64).view(np.uint64)[row_of], np.uint64(42), C)
    h = _xxh_int(np.uint64(seed), h, C)
    h = _xxh_int(np.uint64(7), h, C)
    h = _xxh_int(j, h, C)
    idx = h.view(np.int64) % _VOCAB_SIZE  # numpy % == pmod for int64
    code = lang_idx.astype(np.int64)[row_of] * _VOCAB_SIZE + idx
    flat_vocab = pa.array(
        [VOCABS[lang][w] for lang in _LANG_SLOTS for w in range(_VOCAB_SIZE)]
    )
    words = flat_vocab.take(pa.array(code))
    lst = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), words)
    _suppress.__exit__(None, None, None)
    return pc.binary_join(lst, " ")


def _jvm_text_expr(key_id: Column, seed: int, words_min: int, words_span: int) -> Column:
    """The original pure-expression formulation — kept as the semantic
    reference (equality with the kernel is pinned in tests) and as the
    streaming-safe fallback via GNS_GEN_JVM=1."""
    sid = F.lit(seed)
    lang_idx = F.pmod(F.xxhash64(key_id, sid, F.lit(5)), F.lit(len(_LANG_SLOTS))).cast("int")
    vocab_arrays = F.array(
        *[F.array(*[F.lit(w) for w in VOCABS[lang][:_VOCAB_SIZE]]) for lang in _LANG_SLOTS]
    )
    vocab = F.element_at(vocab_arrays, lang_idx + 1)
    n_words = (
        F.lit(words_min)
        + F.pmod(F.xxhash64(F.col("id"), sid, F.lit(6)), F.lit(words_span))
    ).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda i: F.element_at(
            vocab,
            (F.pmod(F.xxhash64(F.col("id"), sid, F.lit(7), i), F.lit(_VOCAB_SIZE)) + 1).cast("int"),
        ),
    )
    return F.concat_ws(" ", words)


def change_stream(
    spark: SparkSession,
    n_events: int,
    n_keys: int | None = None,
    seed: int = 42,
    skew: float = 2.5,
    p_delete: float = 0.05,
    p_insert: float = 0.15,
    n_domains: int = 50,
    n_source_partitions: int = 8,
    disorder_seconds: int = 120,
    words_min: int = 8,
    words_span: int = 48,
    payload: str = "html",
) -> DataFrame:
    """Build the deterministic change-event DataFrame (lazy; nothing runs).

    ``payload='html'`` emits the raw binary html column (the extraction
    stage's input, F2 shape).  ``payload='text'`` emits the already-extracted
    ``text``/``lang`` columns instead — byte-identical to what extraction
    would produce, but generated JVM-side; used by benchmarks that measure
    MERGE throughput in isolation.

    ``seed`` must lie in ``[0, 2**31)``: the text kernel hashes it as a
    32-bit int, which is what ``F.lit(seed)`` is on the JVM path only in
    that range (above it the literal is a long and the two paths diverge).
    """
    if not 0 <= seed < 2**31:
        raise ValueError(f"seed must be in [0, 2**31), got {seed}")
    if n_keys is None:
        n_keys = max(n_events // 4, 16)

    df = spark.range(n_events)
    sid = F.lit(seed)

    def h(salt: int) -> Column:
        return F.xxhash64(F.col("id"), sid, F.lit(salt))

    # Power-law key popularity: u^skew piles probability mass onto low ids.
    key_id = F.least(
        F.floor(F.lit(n_keys) * F.pow(_unit(h(1)), F.lit(skew))).cast("long"),
        F.lit(n_keys - 1),
    )
    # Hot keys live in hot domains (stable per key, itself power-law).
    domain = F.least(
        F.floor(F.lit(n_domains) * F.pow(_unit(F.xxhash64(key_id, sid, F.lit(2))), F.lit(skew))).cast("long"),
        F.lit(n_domains - 1),
    )
    url = F.concat(
        F.lit("https://d"), domain, F.lit(".example.org/p/"), key_id
    )

    u_op = _unit(h(3))
    op = (
        F.when(u_op < F.lit(p_delete), F.lit("delete"))
        .when(u_op < F.lit(p_delete + p_insert), F.lit("insert"))
        .otherwise(F.lit("update"))
    )

    # Event time: monotone in offset with bounded local disorder, so late
    # events exist (LWW must handle them) but a batch ordered by offset is
    # approximately time-ordered — like a real binlog tail.
    jitter = F.pmod(h(4), F.lit(2 * disorder_seconds)) - F.lit(disorder_seconds)
    warc_ts = F.timestamp_seconds(F.lit(BASE_EPOCH) + F.col("id") + jitter)

    # Stable language per key; deterministic text per event.  The text
    # column comes from the vectorized kernel by default (see the module
    # notes above); GNS_GEN_JVM=1 selects the original pure-expression
    # path — both produce byte-identical rows.
    lang_idx = F.pmod(F.xxhash64(key_id, sid, F.lit(5)), F.lit(len(_LANG_SLOTS))).cast("int")
    n_words = (F.lit(words_min) + F.pmod(h(6), F.lit(words_span))).cast("int")
    partition = F.pmod(F.xxhash64(url, sid), F.lit(n_source_partitions)).cast("int")

    if os.environ.get("GNS_GEN_JVM") == "1":
        textful = df.select(
            F.col("id"),
            _jvm_text_expr(key_id, seed, words_min, words_span).alias("_text"),
        )
    else:
        # Narrow Python boundary (guide: pass only the columns the
        # function needs): 12 bytes per row in, (id, text) out; every
        # other column is a pure expression of ``id`` and is re-derived
        # JVM-side below — codegen hashes, negligible next to the text.
        mid = df.select(
            F.col("id"), lang_idx.alias("_lidx"), n_words.alias("_nw")
        )
        out_schema = T.StructType(
            [T.StructField("id", T.LongType(), False),
             T.StructField("_text", T.StringType())]
        )

        def gen_text(batches):
            import pyarrow as pa

            for b in batches:
                text = _text_kernel(
                    b.column(0).to_numpy(zero_copy_only=False),
                    b.column(1).to_numpy(zero_copy_only=False),
                    b.column(2).to_numpy(zero_copy_only=False),
                    seed,
                )
                yield pa.RecordBatch.from_arrays(
                    [b.column(0), text], ["id", "_text"]
                )

        textful = mid.mapInArrow(gen_text, out_schema)

    base = textful.select(
        op.alias("op"),
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.col("id").alias("offset"),
        partition.alias("partition"),
        key_id.alias("_kid"),
        lang_idx.alias("_lidx"),
        F.col("_text"),
    )

    is_delete = F.col("op") == "delete"
    if payload == "text":
        lang = F.element_at(
            F.array(*[F.lit(lang_name) for lang_name in _LANG_SLOTS]),
            F.col("_lidx") + 1,
        )
        return base.select(
            "op",
            "url",
            "warc_ts",
            F.when(is_delete, F.lit(None).cast("string"))
            .otherwise(F.col("_text")).alias("text"),
            F.when(is_delete, F.lit(None).cast("string")).otherwise(lang).alias("lang"),
            "offset",
            "partition",
        )

    html = F.when(is_delete, F.lit(None).cast("binary")).otherwise(
        F.encode(
            F.concat(
                F.lit("<html><head><title>Page "), F.col("_kid"),
                F.lit('</title><style>p{margin:0}</style></head><body><p class="c">'),
                F.col("_text"),
                F.lit('</p><script>var tracked = "no";</script></body></html>'),
            ),
            "UTF-8",
        )
    )

    return base.select(
        "op",
        "url",
        "warc_ts",
        html.alias("html"),
        "offset",
        "partition",
    )


def write_replay_files(
    df: DataFrame, out_dir: str, n_files: int
) -> list[str]:
    """Materialize the stream as ``n_files`` offset-contiguous parquet files
    (``chunk-00000.parquet`` ...), the replay unit for file-source streaming
    and for batch benchmarks.  Chunk k holds the k-th offset range of equal
    width, measured from the stream's own min/max — so a TAIL stream (a
    slice whose offsets neither start at 0 nor are dense, e.g. the post-
    bootstrap half plus an overlap window) chunks correctly too.  Every
    staged chunk is moved, never skipped: a chunk landing outside
    ``range(n_files)`` would silently drop data."""
    import os

    lo, hi, rows = df.agg(
        F.min("offset"), F.max("offset"), F.count(F.lit(1))
    ).first()
    if rows == 0:
        os.makedirs(out_dir, exist_ok=True)
        return []
    size = max(1, (int(hi) - int(lo) + n_files) // n_files)
    chunk = ((F.col("offset") - F.lit(int(lo))) / F.lit(size)).cast("int")
    staged = df.withColumn("_chunk", chunk).repartition(F.col("_chunk"))
    staged.write.partitionBy("_chunk").mode("overwrite").parquet(out_dir + ".staging")
    paths = []
    os.makedirs(out_dir, exist_ok=True)
    chunk_dirs = sorted(
        d for d in os.listdir(out_dir + ".staging") if d.startswith("_chunk=")
    )
    for k, name in enumerate(sorted(chunk_dirs, key=lambda d: int(d.split("=")[1]))):
        src_dir = os.path.join(out_dir + ".staging", name)
        parts = sorted(p for p in os.listdir(src_dir) if p.endswith(".parquet"))
        assert len(parts) == 1, f"expected one file per chunk, got {parts}"
        dst = os.path.join(out_dir, f"chunk-{k:05d}.parquet")
        os.replace(os.path.join(src_dir, parts[0]), dst)
        paths.append(dst)
    return paths

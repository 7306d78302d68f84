"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale shapes (the point of each variant at 100 TB):

* exact: one hash-groupBy on a 32-char fingerprint — map-side combined,
  shuffle carries (fingerprint, partial min/count) only.
* n-gram Jaccard: exact pairwise similarity via an inverted-index self-join
  on shingles.  Quadratic in the worst case — the *verifier*, not the
  candidate generator, at scale.
* MinHash+LSH: the scale path.  Signatures are k min-hashes (one groupBy),
  banding turns "similar" into "equal" so candidate generation is an
  equi-join on (band, band_hash) — linear-ish, skew handled by AQE.
  Candidates are then verified with exact Jaccard.
* SimHash: 48-bit signed-projection sketch; near-dup = small Hamming
  distance (bit_count(a ^ b)), cheap to index/block on.

Every sketch is one relational recipe: explode the tokens (or their
n-gram windows), apply built-in expressions per row, and fold with a single
``groupBy`` aggregate — all whole-stage codegen, no higher-order-function
lambdas (those are ``CodegenFallback`` and run interpreted per element).
In-bucket candidate pairs come from an equi-self-join on the bucket
columns (``bucket_pairs``); the signature is a ``groupBy`` whose exchange
both join sides reuse, so it is computed once.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"


def tokens_col(text):
    return F.array_remove(F.split(F.lower(text), TOKEN_SPLIT), "")


def _windows(tokens, n: int):
    """Every run of ``n`` consecutive tokens as an ``array<struct>`` of n
    fields: ``arrays_zip`` over n shifted slices of one span.  Documents
    with fewer than ``n`` tokens get a zero span, hence an empty array (no
    slice ever starts at 0); a null text gives null, which explodes to no
    rows."""
    span = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(tokens, i + 1, span) for i in range(n)])


def _gram(window: str):
    """The n-gram string of an exploded ``_windows`` struct column."""
    return F.concat_ws(" ", f"{window}.*")


def bit_mask(conds):
    """A long with bit ``b`` set iff ``conds[b]`` holds (a sketch's sign
    bits recomposed; fewer than 63 conditions keep it positive)."""
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    return reduce(
        operator.add, [F.shiftleft(F.when(c, one).otherwise(zero), b) for b, c in enumerate(conds)]
    )


def bucket_pairs(index: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """In-bucket pairs of an inverted index: equi-self-join on the bucket
    ``keys`` with ``a.<id_col> < b.<id_col>``; both sides' columns stay
    reachable as ``a.*`` / ``b.*``.  A pair sharing several buckets appears
    once per shared bucket — callers ``distinct`` what they keep."""
    a, b = index.alias("a"), index.alias("b")
    on = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in keys:
        on = (F.col(f"a.{k}") == F.col(f"b.{k}")) & on
    return a.join(b, on)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by normalized-content fingerprint; keep the smallest id as the
    canonical representative (deterministic)."""
    from geomesa_nifi_spark.operators.textops import normalized_fingerprint

    return (
        df.select(F.col(id_col), normalized_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _shingle_index(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    # tokens hold no spaces, so distinct windows are exactly distinct grams
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(_windows(tokens_col(F.col(text_col)), n)).alias("_ws"),
        )
        .select("doc_id", F.size("_ws").alias("n_sh"), F.explode("_ws").alias("_w"))
        .select("doc_id", "n_sh", _gram("_w").alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard over word-n-gram shingle sets, via inverted-index
    self-join (pairs that share no shingle never materialize)."""
    ex = _shingle_index(df, text_col, id_col, n)
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("a.n_sh").alias("na"),
            F.first("b.n_sh").alias("nb"),
        )
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return pairs.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    ).filter(F.round(jac, 4) >= threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    k: int = 32,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """LSH banding: docs agreeing on any band become candidates; candidates
    are verified with exact Jaccard (cheap recall, exact precision).

    Physical shape: the code states one ``groupBy(doc_id)`` carrying the k
    permutation ``min``s and the ``collect_set`` of shingle hashes, but
    column pruning splits it by reader.  Banding reads only the ``min``s
    and verification only the hash set, so the executed plan holds a
    ``HashAggregate`` of the ``min``s and an ``ObjectHashAggregate`` of
    ``collect_set(h)``, each over its own scan → explode → xxhash64 and its
    own ``Exchange hashpartitioning(doc_id)``.  Exchange reuse shares each
    one among its readers: banding posexplodes the signature into a (band,
    band_hash) index whose ``bucket_pairs`` self-join reads the one
    ``min`` exchange on both sides, and verification joins each candidate
    to its two hash sets through one shared exchange of the
    ``collect_set`` (a broadcast at the gate corpora's sizes).
    Signatures use the ``xxhash64(concat_ws shingle, seed)`` /
    ``xxhash64(h, j)`` family; verification intersects 64-bit shingle
    *hash* sets instead of shingle strings — Jaccard over the hashed sets
    equals string-set Jaccard unless xxhash64 collides inside a document
    pair (checked collision-free on the gate corpora; at web scale a
    collision perturbs one pair's jaccard by ~1/|set|).  Map-side partial
    aggregation keeps the shuffle at one partial row per doc per task."""
    rows = k // bands
    ex = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_windows(tokens_col(F.col(text_col)), n)).alias("_w"),
        )
        # one hash per shingle occurrence; dedup happens in the aggregate
        .select("doc_id", F.xxhash64(_gram("_w"), F.lit(seed)).alias("h"))
    )
    per_doc = ex.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("h"), F.lit(j))).alias(f"_s{j}") for j in range(k)],
        F.collect_set("h").alias("_hs"),
    )
    band_arr = F.array(
        *[
            F.xxhash64(*[F.col(f"_s{b * rows + r}") for r in range(rows)], F.lit(b))
            for b in range(bands)
        ]
    )
    banded = per_doc.select("doc_id", F.posexplode(band_arr).alias("band", "band_hash"))
    cands = (
        bucket_pairs(banded, ["band", "band_hash"], "doc_id")
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verify ONLY the candidates: join each pair to its two shingle-hash
    # sets and intersect in-memory (array_intersect over longs — regular
    # codegen, no lambda), instead of re-running the whole-corpus
    # inverted-index join — candidates are O(near-dups), so this is linear
    # in the LSH output, not quadratic in the corpus.
    sa = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("_hs").alias("sa"))
    sb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("_hs").alias("sb"))
    joined = cands.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        joined.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 48  # < 63 keeps the recomposed signature in a positive long


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """SimHash over tokens: per bit, sum of ±1 votes from each token's hash;
    bit set iff the vote is positive.  Tokens explode and are hashed once
    each; one ``groupBy(doc_id)`` sums the 48 bit votes.  Documents without
    tokens produce no row.

    The 48-bit token hash is the first 12 hex chars of md5(token || seed) —
    byte-identical reproducible in any engine with md5 (the DuckDB oracle
    recomputes it)."""
    hashed = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("_t")
    ).select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.concat(F.col("_t"), F.lit(str(seed)))), 1, 12), 16, 10
        ).cast("long").alias("h"),
    )
    votes = [
        F.sum(F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
        for b in range(SIMHASH_BITS)
    ]
    return hashed.groupBy("doc_id").agg(bit_mask([v > 0 for v in votes]).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, band-blocked.

    Pigeonhole blocking: the 48 signature bits are split into
    ``max_hamming + 1`` chunks — any pair within ``max_hamming`` differing
    bits must agree exactly on at least one chunk, so candidates come from an
    **equi-join** on (chunk index, chunk value) with guaranteed recall 1.0,
    then get verified with the true bit_count(xor).  Replaces the all-pairs
    cartesian join: at web scale candidate volume is driven by bucket
    collisions, not N^2."""
    if max_hamming >= SIMHASH_BITS:
        raise ValueError(f"max_hamming must be < {SIMHASH_BITS}")
    sigs = simhash(df, text_col=text_col, id_col=id_col, seed=seed)
    # floor width so every chunk holds >= 1 real signature bit: a zero-width
    # tail chunk would match ALL pairs and silently degrade to the cartesian
    width = max(1, SIMHASH_BITS // (max_hamming + 1))
    n_chunks = (SIMHASH_BITS + width - 1) // width  # >= max_hamming + 1
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit((1 << width) - 1))
            for c in range(n_chunks)
        ]
    )
    index = sigs.select("doc_id", "simhash", F.posexplode(chunks).alias("chunk", "cval"))
    # signatures ride in the index rows, so the Hamming verify needs no
    # further join
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        bucket_pairs(index, ["chunk", "cval"], "doc_id")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )

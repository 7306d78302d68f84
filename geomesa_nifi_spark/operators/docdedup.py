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

Everything is built-in expressions (xxhash64 as the hash family — codegen,
no Python).  Shingling uses ``F.slice`` over the token array inside
``transform(sequence(...))`` — no explode until the inverted index needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"


def tokens_col(text, min_len: int = 1):
    arr = F.split(F.lower(text), TOKEN_SPLIT)
    return F.filter(arr, lambda x: F.length(x) >= min_len)


def shingles_col(tokens, n: int):
    """Distinct word n-grams as strings; empty array when too short.

    The short-doc guard must short-circuit the ``sequence`` itself:
    ``sequence(1, 0)`` DESCENDS to ``[1, 0]`` and the ``slice`` at start 0
    throws — a latent crash for any document with fewer than ``n`` tokens
    (impossible on the fixture corpora, fatal on a real crawl)."""
    count = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.array_distinct(
        F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))
    )


def bucket_pair_structs(ids):
    """Ordered in-bucket pair expansion for LSH candidate generation:
    ``array<struct(a, b)>`` with ``a < b`` from an array of keys (or of
    structs whose FIRST field is the ordering key — struct comparison is
    lexicographic by field order).  Used after a
    ``groupBy(bucket).agg(collect_set(...))`` so the expensive signature
    subtree is computed ONCE — the classic banding self-join evaluates it
    once per join side (measured ~2x of several operators' cost)."""
    return F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda a: F.transform(
                    ids, lambda b: F.struct(a.alias("a"), b.alias("b"))
                ),
            )
        ),
        lambda p: p["a"] < p["b"],
    )


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
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        shingles_col(tokens_col(F.col(text_col)), n).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    return sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
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


def _gram_strings(tokens, n: int):
    """Word n-gram strings WITHOUT ``array_distinct`` — every downstream
    consumer here is set-shaped (``min`` over permutation hashes is
    duplicate-blind; the verify sets go through ``collect_set``), so the
    per-row distinct pass, measured as the single most expensive node of
    the old chain, bought nothing.  For the declared n=2 case the grams
    come from ONE ``zip_with`` over two array slices (two slices per ROW)
    instead of a ``slice`` + ``concat_ws`` per SHINGLE — higher-order
    lambdas run interpreted (no whole-stage codegen), so shrinking the
    per-element tree from ~20 interpreted nodes to ~3 is a direct win."""
    if n == 2:
        span = F.greatest(F.size(tokens) - F.lit(1), F.lit(0))
        return F.zip_with(
            F.slice(tokens, 1, span),
            F.slice(tokens, 2, span),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    count = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    # sequence(1, 0) descends — guard like shingles_col does
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    k: int = 32,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
    seed: int = 42,
) -> DataFrame:
    """LSH banding: docs agreeing on any band become candidates; candidates
    are verified with exact Jaccard when ``verify`` (the production shape:
    cheap recall, exact precision).

    Physical shape (optimization round 6): shingle hashes explode into a
    ``groupBy(doc_id)`` carrying the k permutation ``min``s AND the
    ``collect_set`` of shingle hashes — ONE whole-stage-codegen aggregate
    replaces the old per-row array tree (k interpreted ``transform``
    passes; higher-order lambdas never enter codegen) and feeds banding
    and verification from the same exchange (AQE reuses it).  The
    signature values are bit-identical to the old formulation (same
    ``xxhash64(concat_ws shingle, seed)`` / ``xxhash64(h, j)`` family), so
    the candidate set is unchanged; verification intersects 64-bit shingle
    *hash* sets instead of shingle strings — Jaccard over the hashed sets
    equals string-set Jaccard unless xxhash64 collides inside a document
    pair (checked collision-free on the gate corpora; at web scale a
    collision perturbs one pair's jaccard by ~1/|set|).  Map-side partial
    aggregation keeps the shuffle at one partial row per doc per task, so
    the relational shape scales like the array shape did."""
    rows = k // bands
    ex = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_gram_strings(tokens_col(F.col(text_col)), n)).alias("_g"),
        )
        # one hash per shingle occurrence; dedup happens in the aggregate
        .select("doc_id", F.xxhash64(F.col("_g"), F.lit(seed)).alias("h"))
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
    # Pairs come from grouping each (band, bucket) and expanding in-bucket
    # combinations with array transforms — ONE pass over the signature
    # subtree and one shuffle.  The classic self-join spelling reads
    # `banded` twice, which re-runs the whole signature computation per
    # side (measured: it doubled the operator's cost).
    cands = (
        banded.groupBy("band", "band_hash")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(bucket_pair_structs(F.col("ids"))).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )
    if not verify:
        return cands
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
    hash_family: str = "md5",
) -> DataFrame:
    """SimHash over tokens: per bit, sum of ±1 votes from each token's hash;
    bit set iff the vote is positive.  Pure aggregate — no explode needed:
    votes are computed per-document over the token array.

    ``hash_family="md5"`` (default) derives the 48-bit token hash from the
    first 12 hex chars of md5(token || seed) — byte-identical reproducible in
    any engine with md5 (the DuckDB oracle recomputes it).  ``"xxhash64"`` is
    the cheaper JVM-only family for production throughput."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") > 0)

    if hash_family == "md5":
        def _hash(t):
            return F.conv(
                F.substring(F.md5(F.concat(t, F.lit(str(seed)))), 1, 12), 16, 10
            ).cast("long")
    elif hash_family == "xxhash64":
        def _hash(t):
            return F.xxhash64(t, F.lit(seed))
    else:
        raise ValueError(f"hash_family must be 'md5' or 'xxhash64', got {hash_family!r}")

    # hash each token ONCE, then run the 48 bit-vote aggregates over the
    # precomputed array (48 passes over longs, not 48 md5 evaluations/token)
    hashed = toks.withColumn("hs", F.transform(F.col("toks"), _hash))

    def _vote(b: int):
        # closure factory: a default-arg lambda would change the UDF arity
        return lambda acc, x: acc + F.when(
            F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_votes = [
        F.aggregate(F.col("hs"), F.lit(0), _vote(b)) for b in range(SIMHASH_BITS)
    ]
    sig = None
    for b, vote in enumerate(bit_votes):
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig + term
    return hashed.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 8, **kw) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, band-blocked.

    Pigeonhole blocking: the 48 signature bits are split into
    ``max_hamming + 1`` chunks — any pair within ``max_hamming`` differing
    bits must agree exactly on at least one chunk, so candidates come from an
    **equi-join** on (chunk index, chunk value) with guaranteed recall 1.0,
    then get verified with the true bit_count(xor).  Replaces the all-pairs
    cartesian join: at web scale candidate volume is driven by bucket
    collisions, not N^2."""
    sigs = simhash(df, **kw)
    if max_hamming >= SIMHASH_BITS:
        raise ValueError(f"max_hamming must be < {SIMHASH_BITS}")
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
    # In-bucket pair expansion via groupBy + array transforms — ONE pass
    # over the signature subtree; the self-join spelling computed the 48
    # bit-vote aggregates twice (once per side).  Signatures ride in the
    # bucket structs so the Hamming verify needs no further join.
    buckets = (
        index.groupBy("chunk", "cval")
        .agg(F.collect_set(F.struct("doc_id", "simhash")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    dist = F.bit_count(F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash")))
    return (
        buckets.select(F.explode(bucket_pair_structs(F.col("ids"))).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )

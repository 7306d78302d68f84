"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — exact brute force: broadcast the (small) query set
  against the corpus, dot products via ``zip_with``/``aggregate`` (JVM
  expressions, no Python), rank with a window.  The correctness baseline.
* ``rhp_ann_topk`` — the scale path: random-hyperplane LSH.  Deterministic
  ±1 hyperplanes derived from md5 bucket the corpus; only same-bucket
  pairs get exact scoring.  At 10^9 vectors the bucket join replaces the
  O(Q×N) cross product.

RHP buckets follow the package's one sketch recipe (``rhp_buckets``):
posexplode the vector, join the broadcast plane-sign table, and fold the
projections with ``groupBy`` sums; in-bucket pairs come from
``docdedup.bucket_pairs``.  ``_dot`` is the only higher-order function
left: it is exact pair scoring, not a sketch, and Spark has no built-in
array dot product.

Ranking is by (rounded sim desc, vec_id asc) so results are stable across
engines and float summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_nifi_spark.operators.docdedup import bit_mask, bucket_pairs


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` ids."""
    corpus = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    queries = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    # Queries are tiny by construction: broadcast them so the corpus never
    # shuffles — the scan streams once through a BroadcastNestedLoopJoin.
    j = corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    sim = F.round(_dot(F.col("qvec"), F.col("vec")) / (_norm(F.col("qvec")) * _norm(F.col("vec"))), round_to)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        j.select("query_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def plane_signs(planes: int, dim: int, seed: int = 13) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign(p, i) = +1 iff the first hex digit
    of md5("seed:p:i") is even.  md5 (not xxhash64) so any engine with an md5
    function regenerates identical planes — the DuckDB oracle recomputes
    them in SQL."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for p in range(planes)
    ]


def rhp_buckets(
    corpus: DataFrame, planes: int, dim: int, tables: int = 1, seed: int = 13
) -> DataFrame:
    """LSH buckets ``(vec_id, tbl, bucket)`` of a ``(vec_id, vec)`` corpus:
    per table ``t``, the sign bits of ``planes`` deterministic ±1
    hyperplanes seeded ``seed + 1000 * t``.

    The vector posexplodes and joins a broadcast ``(tbl, i, s0..s{planes-1})``
    sign table built driver-side (tables x dim rows); one
    ``groupBy(vec_id, tbl)`` takes each projection as ``sum(x * s<p>)`` and
    sets bit ``p`` iff it is positive.  A vector's rows reach its groups in
    ``i`` order inside one task, so each double sum is the left-to-right
    fold over the vector."""
    signs = [plane_signs(planes, dim, seed + 1000 * t) for t in range(tables)]
    table = corpus.sparkSession.createDataFrame(
        [(t, i, *[signs[t][p][i] for p in range(planes)]) for t in range(tables) for i in range(dim)],
        ", ".join(["tbl int", "i int"] + [f"s{p} double" for p in range(planes)]),
    )
    projs = [F.sum(F.col("x") * F.col(f"s{p}")) for p in range(planes)]
    return (
        corpus.select("vec_id", F.posexplode("vec").alias("i", "x"))
        .join(F.broadcast(table), "i")
        .groupBy("vec_id", "tbl")
        .agg(bit_mask([proj > 0 for proj in projs]).alias("bucket"))
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    bucketed: bool = True,
    planes: int = 3,
    tables: int = 48,
    dim: int = 64,
    seed: int = 13,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine >= t).

    ``bucketed=True`` (default): multi-table RHP-LSH candidate generation —
    ``tables`` independent ``planes``-bit signatures; two vectors are a
    candidate pair iff they share a bucket in ANY table (OR-amplification),
    generated by an **equi-join** on (table, bucket) and then verified with
    exact cosine.  No cartesian/nested-loop join anywhere in the plan, so the
    shape survives a 10^9-vector corpus; per-pair recall at cosine t is
    1-(1-(1-acos(t)/pi)^planes)^tables — (3, 48) gives ~1-1e-6 at t=0.4,
    verified exact-equal against the brute-force pair set on the test corpora
    at sf0.001/0.01/0.1.  On clustered real-world corpora (higher effective
    thresholds) raise ``planes`` / lower ``tables`` to cut candidate volume.

    ``bucketed=False``: exact all-pairs — the small-N verifier/baseline
    (O(N^2): never run corpus-wide at scale).
    """
    corpus = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    sim_of = lambda va, vb: F.round(_dot(va, vb) / (_norm(va) * _norm(vb)), round_to)  # noqa: E731
    if not bucketed:
        a = corpus.select(F.col("vec_id").alias("a_vec_id"), F.col("vec").alias("a_vec"))
        b = corpus.select(F.col("vec_id").alias("b_vec_id"), F.col("vec").alias("b_vec"))
        j = a.join(b, F.col("a_vec_id") < F.col("b_vec_id"))
        sim = sim_of(F.col("a_vec"), F.col("b_vec"))
        return j.select(
            F.col("a_vec_id").alias("vec_a"),
            F.col("b_vec_id").alias("vec_b"),
            sim.alias("sim"),
        ).filter(F.col("sim") >= threshold)

    index = rhp_buckets(corpus, planes, dim, tables, seed)
    cands = (
        bucket_pairs(index, ["tbl", "bucket"], "vec_id")
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # Verify only the candidates: fetch both vectors by equi-join and score.
    va = corpus.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("a_vec"))
    vb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("b_vec"))
    joined = cands.join(va, "vec_a").join(vb, "vec_b")
    sim = sim_of(F.col("a_vec"), F.col("b_vec"))
    return joined.select("vec_a", "vec_b", sim.alias("sim")).filter(F.col("sim") >= threshold)


def rhp_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates = same RHP bucket, then exact cosine."""
    corpus = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    corpus = corpus.join(rhp_buckets(corpus, planes, dim).select("vec_id", "bucket"), "vec_id")
    queries = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), F.col("bucket")
    )
    j = corpus.join(F.broadcast(queries), ["bucket"]).filter(F.col("vec_id") != F.col("query_id"))
    sim = F.round(_dot(F.col("qvec"), F.col("vec")) / (_norm(F.col("qvec")) * _norm(F.col("vec"))), round_to)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        j.select("query_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )

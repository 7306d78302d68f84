"""Training-data operators: text stats, dedup family, similarity, multimodal."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from geomesa_nifi_spark.functions.multimodal import (
    FEATURE_DIM,
    extract_media_features,
    synthetic_media,
)
from geomesa_nifi_spark.operators.dedup import lww_dedup
from geomesa_nifi_spark.operators.docdedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from geomesa_nifi_spark.operators.similarity import cosine_topk, rhp_ann_topk
from geomesa_nifi_spark.operators.textops import text_stats


def docs_df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(rows)])


@pytest.mark.parametrize("strategy", ["maxby", "window", "salted", "maxby-columnar"])
def test_lww_null_order_component_loses(spark, strategy):
    """A null order component sorts lowest: the row carrying it loses LWW,
    whatever the other component holds."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", None, 9, "lose"), ("a", t0, 1, "win"),      # null ts
        ("b", t0, None, "lose"), ("b", t0, 0, "win"),     # null tiebreak
        ("c", None, 1, "lose"), ("c", None, 2, "win"),    # both ts null
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, tb long, v string")
    got = lww_dedup(df, "k", ["ts", "tb"], strategy=strategy).collect()
    assert {r["k"]: r["v"] for r in got} == {"a": "win", "b": "win", "c": "win"}


def test_exact_duplicates(spark):
    df = docs_df(spark, [
        "The cat sat on the mat",
        "the cat  sat on the MAT!!",   # same after normalization
        "a completely different document",
    ])
    out = exact_duplicates(df).collect()
    groups = {r.fingerprint: (r.keeper_id, r.n_docs) for r in out}
    assert sorted(n for _, n in groups.values()) == [1, 2]
    dup = [v for v in groups.values() if v[1] == 2][0]
    assert dup[0] == 0  # smallest id kept


def test_ngram_jaccard_and_minhash_agree(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    far = "one two three four five six seven eight nine ten"
    df = docs_df(spark, [base, near, far])
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(df, 0.4, 2).collect()}
    assert set(exact) == {(0, 1)}
    assert 0.7 < exact[(0, 1)] < 1.0
    lsh = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(df, 0.4, 32, 16, 2).collect()}
    assert lsh == exact  # verified candidates == exact pairs


def test_gram_strings_match_shingles_col_as_sets(spark):
    """The r6 relational MinHash chain drops ``array_distinct`` from gram
    generation (min-aggregation and ``collect_set`` are duplicate-blind)
    and uses a ``zip_with`` fast path for n=2: as SETS the grams must equal
    the old ``shingles_col`` output for every n."""
    from pyspark.sql import functions as F

    from geomesa_nifi_spark.operators.docdedup import (
        _gram_strings,
        shingles_col,
        tokens_col,
    )

    texts = [
        "alpha beta gamma delta epsilon",
        "repeat repeat repeat repeat",
        "one",
        "",
        "x y x y x y",
    ]
    df = docs_df(spark, texts)
    for n in (2, 3):
        rows = df.select(
            F.sort_array(F.array_distinct(_gram_strings(tokens_col(F.col("text")), n))).alias("new"),
            F.sort_array(shingles_col(tokens_col(F.col("text")), n)).alias("old"),
        ).collect()
        for r in rows:
            assert r.new == r.old, (n, r)


def test_minhash_scales_with_duplicate_heavy_docs(spark):
    """Duplicate shingles must not change the verified pair set (the
    aggregate dedups via collect_set; min ignores duplicates)."""
    a = "the cat sat on the mat " * 20  # heavy internal repetition
    b = "the cat sat on the mat and slept " * 20
    far = "completely different words entirely here now"
    df = docs_df(spark, [a, b, far])
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(df, 0.3, 2).collect()}
    lsh = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(df, 0.3, 32, 16, 2).collect()}
    assert lsh == exact and (0, 1) in lsh


def test_simhash_properties(spark):
    from geomesa_nifi_spark.plans.checks import assert_not_in_plan

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("kappa", "lambda")
    far = "one two three four five six seven eight nine ten " * 4
    df = docs_df(spark, [base, near, far])
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert all(s >= 0 for s in sigs.values())  # fits in positive long
    near_df = simhash_near_pairs(df, max_hamming=12)
    # candidates come from the chunk equi-join, never an all-pairs join
    assert_not_in_plan(near_df, "CartesianProduct", "BroadcastNestedLoopJoin")
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in near_df.collect()}
    assert (0, 1) in pairs  # near-dup within hamming budget
    assert (0, 2) not in pairs and (1, 2) not in pairs
    # both hash families keep the near/far separation; xxhash64 is the
    # JVM-only fast path, md5 the oracle-reproducible default
    xx = {(r.doc_a, r.doc_b) for r in
          simhash_near_pairs(df, max_hamming=12, hash_family="xxhash64").collect()}
    assert (0, 1) in xx and (0, 2) not in xx


def test_simhash_band_blocking_recall(spark):
    """Pigeonhole guarantee: band-blocked pairs == brute-force pairs."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = simhash(docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                dist.alias("hamming"))
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    blocked = {(r.doc_a, r.doc_b) for r in simhash_near_pairs(docs, max_hamming=6).collect()}
    assert blocked == brute


def test_text_stats_shape(spark):
    df = docs_df(spark, ["the cat and the dog went to the house", ""])
    out = {r.doc_id: r for r in text_stats(df).collect()}
    assert out[0].lang_pred == "en"
    assert out[0].n_tokens == 9
    assert 0.0 <= out[0].quality <= 1.0
    assert out[1].lang_pred == "und" and out[1].n_tokens == 0
    assert len(out[0].fingerprint) == 32


def test_cosine_topk_and_rhp(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = cosine_topk(emb, k=5, n_queries=5)
    rows = exact.collect()
    assert len(rows) == 25
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        sims = [r.sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q for r in rs)
    # ANN results are a subset relation: every ANN hit's sim must be <= the
    # exact top-1 and the hit must exist in the corpus ranking
    ann = rhp_ann_topk(emb, k=5, n_queries=5)
    ann_rows = ann.collect()
    exact_best = {q: max(r.sim for r in rs) for q, rs in by_q.items()}
    for r in ann_rows:
        assert r.sim <= exact_best[r.query_id] + 1e-9


def test_embedding_near_dups(spark):
    from geomesa_nifi_spark.operators.similarity import embedding_near_dups
    from geomesa_nifi_spark.plans.checks import assert_not_in_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = embedding_near_dups(emb, threshold=0.4, bucketed=False)
    rows = exact.collect()
    assert all(r.vec_a < r.vec_b and r.sim >= 0.4 for r in rows)
    # the default (bucketed multi-table LSH) must find the exact pair set on
    # this corpus AND never plan a cartesian/nested-loop join
    lsh = embedding_near_dups(emb, threshold=0.4)
    assert_not_in_plan(lsh, "CartesianProduct", "BroadcastNestedLoopJoin")
    approx = {(r.vec_a, r.vec_b) for r in lsh.collect()}
    assert approx == {(r.vec_a, r.vec_b) for r in rows}


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, 50)
    out = extract_media_features(media)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == FEATURE_DIM
        assert all(0.0 <= f < 1.0 for f in r.features)
        assert len(r.content_sha) == 64 and r.n_bytes > 0
    # determinism across runs
    again = {r.media_id: r.features for r in extract_media_features(media).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_corpus_curation(spark):
    from geomesa_nifi_spark.operators.curation import curate, near_dup_losers

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    losers = {r.doc_id for r in near_dup_losers(docs).collect()}
    # the scale-safe default (minhash candidates) removes the same documents
    # as the exact quadratic pair join on this corpus
    exact_losers = {r.doc_id for r in near_dup_losers(docs, dedup="exact").collect()}
    assert losers == exact_losers
    out = curate(docs, min_quality=0.3, lang=None)
    rows = out.collect()
    assert rows
    kept = {r.doc_id for r in rows}
    assert kept.isdisjoint(losers)  # no near-dup loser survives
    assert all(r.quality >= 0.3 for r in rows)

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


def test_ngram_windows_match_python_reference(spark):
    """Word n-grams from the shifted-slice ``arrays_zip`` windows equal a
    pure-Python n-gram reference for every n: in order with repeats (the
    MinHash input) and as distinct sets with their size (the Jaccard
    index), including documents too short to hold one gram."""
    import re

    from geomesa_nifi_spark.operators.docdedup import (
        TOKEN_SPLIT,
        _gram,
        _shingle_index,
        _windows,
        tokens_col,
    )

    texts = [
        "alpha beta gamma delta epsilon",
        "repeat repeat repeat repeat",
        "one",
        "",
        None,
        "x y x y x y",
        "...Leading, and trailing!!",
        "two words",
        "a b c d",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def ref(text, n):
        toks = [t for t in re.split(TOKEN_SPLIT, (text or "").lower()) if t]
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    for n in (1, 2, 3, 5):
        grams = {}
        rows = df.select(
            "doc_id", F.posexplode(_windows(tokens_col(F.col("text")), n)).alias("pos", "_w")
        ).select("doc_id", "pos", _gram("_w").alias("g")).collect()
        for r in sorted(rows):
            grams.setdefault(r.doc_id, []).append(r.g)
        index = {}
        for r in _shingle_index(df, "text", "doc_id", n).collect():
            n_sh, sh = index.setdefault(r.doc_id, (r.n_sh, set()))
            assert r.n_sh == n_sh
            sh.add(r.shingle)
        for doc_id, text in enumerate(texts):
            want = ref(text, n)
            assert grams.get(doc_id, []) == want, (n, text)
            n_sh, sh = index.get(doc_id, (0, set()))
            assert sh == set(want) and n_sh == len(sh), (n, text)


def test_rhp_buckets_match_python_reference(spark):
    """RHP buckets equal a pure-Python reference — ``plane_signs`` and a
    left-to-right float sum per projection — bit for bit: the grouped
    ``sum`` folds each vector's products in element order."""
    from geomesa_nifi_spark.operators.similarity import plane_signs, rhp_buckets

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    vecs = {r.vec_id: r.vec for r in corpus.collect()}
    for planes, tables in ((8, 1), (3, 48)):
        want = {}
        for t in range(tables):
            signs = plane_signs(planes, 64, 13 + 1000 * t)
            for vec_id, vec in vecs.items():
                bucket = 0
                for p, row in enumerate(signs):
                    proj = 0.0
                    for x, sign in zip(vec, row):
                        proj += x * sign
                    bucket += (proj > 0) << p
                want[(vec_id, t)] = bucket
        got = {(r.vec_id, r.tbl): r.bucket for r in rhp_buckets(corpus, planes, 64, tables).collect()}
        assert got == want, (planes, tables)


def test_sketches_are_relational(spark):
    """Every sketch is explode -> built-in expressions -> groupBy: the only
    higher-order functions in ``operators/`` are ``similarity._dot``'s
    (exact cosine scoring, not a sketch).  In-bucket pairs are an
    equi-self-join that reuses the signature's exchange on both sides and
    never plans an all-pairs join."""
    import ast
    import pathlib
    import re

    import geomesa_nifi_spark.operators as ops
    from geomesa_nifi_spark.plans.checks import assert_not_in_plan, plan_str

    hof = {"transform", "filter", "aggregate", "zip_with", "exists", "forall"}
    found = set()
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        for top in ast.parse(path.read_text()).body:
            where = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr in hof
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "F"
                ):
                    found.add((path.name, where))
    assert found == {("similarity.py", "_dot")}, found

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # the second join side reads the signature aggregate's partial
    # (min / sum) exchange back instead of recomputing it
    for df, partial in (
        (minhash_lsh_pairs(docs), "min"),
        (simhash_near_pairs(docs, max_hamming=4), "sum"),
    ):
        assert_not_in_plan(df, "CartesianProduct", "BroadcastNestedLoopJoin")
        df.collect()
        plan = plan_str(df, "simple")  # the AQE final plan, after execution
        assert re.search(rf"ReusedExchange \[doc_id#\d+L, {partial}#", plan), plan


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
    # the scale-safe minhash candidates remove the same documents as the
    # exact quadratic pair join on this corpus
    exact_losers = {
        r.doc_b for r in ngram_jaccard_pairs(docs, 0.4, 2).select("doc_b").distinct().collect()
    }
    assert losers == exact_losers
    out = curate(docs, min_quality=0.3, lang=None)
    rows = out.collect()
    assert rows
    kept = {r.doc_id for r in rows}
    assert kept.isdisjoint(losers)  # no near-dup loser survives
    assert all(r.quality >= 0.3 for r in rows)

"""Corpus curation: the composed training-data endpoint.

Chains the pipeline a pretraining-data curator actually runs over a crawled
corpus: text statistics (tokens, language, quality) -> near-duplicate
removal (keep the smallest doc_id of each similar pair) -> quality/language
gates.  Every stage is a JVM-expression operator from this package, so the
whole flow stays in one Catalyst plan: stats compute in the scan projection,
the dedup anti-join's build strategy is left to AQE (broadcast when the
loser set is small, shuffled when it is a material fraction of the corpus),
and the filters push down as far as the stats allow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_nifi_spark.operators.docdedup import minhash_lsh_pairs
from geomesa_nifi_spark.operators.textops import text_stats


def near_dup_losers(df: DataFrame, threshold: float = 0.4, n: int = 2) -> DataFrame:
    """One row per document eliminated by near-dup pairing (the larger id
    of each pair loses — deterministic, keeps the earliest-crawled).

    Pairs come from banded MinHash-LSH candidates verified with exact
    Jaccard — candidate generation is an equi-join, linear-ish in the
    corpus, the only shape that survives web scale.  The exact quadratic
    pair set (``ngram_jaccard_pairs``) is its small-corpus reference."""
    pairs = minhash_lsh_pairs(df, threshold=threshold, n=n)
    return pairs.select(F.col("doc_b").alias("doc_id")).distinct()


def curate(
    df: DataFrame,
    min_quality: float = 0.5,
    lang: str | None = "en",
    jaccard_threshold: float = 0.4,
) -> DataFrame:
    """Documents that survive dedup + quality + language gates."""
    stats = text_stats(df)
    losers = near_dup_losers(df, threshold=jaccard_threshold)
    # NO broadcast hint on the loser set: on a real crawl near-dup losers
    # can be 30-50% of the corpus, and a forced broadcast OOMs the
    # executors.  AQE broadcasts small loser sets on its own (runtime
    # stats), and falls back to a shuffled anti-join when they are big —
    # the only shape that survives web scale.
    kept = stats.join(losers, "doc_id", "left_anti")
    kept = kept.filter(F.col("quality") >= min_quality)
    if lang is not None:
        kept = kept.filter(F.col("lang_pred") == lang)
    return kept.select("doc_id", "n_tokens", "lang_pred", "quality")

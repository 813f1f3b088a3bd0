"""Cache-lifecycle contract tests (round-3 verdict #1): every operator
that persists an internal intermediate must hand its caller a release
handle, and releasing must leave the session's CacheManager empty.

The assertion inspects Spark's CacheManager (which tracks every
DataFrame-level persist) rather than ``getPersistentRDDs`` because
``localCheckpoint`` — used intentionally by the closure loop, with
RDD-level cleanup owned by the ContextCleaner — registers RDD-level
persists that are NOT caller-visible caches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_reconciliation_spark.lifecycle import cached_deps, release_cached


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean_cache(spark):
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


@pytest.fixture
def docs(spark):
    rows = [
        (i, f"document number {i} with shared vocabulary token_{i % 3}", "en")
        for i in range(30)
    ] + [(100 + i, "identical duplicated body text here", "en") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_minhash_release(spark, clean_cache, docs):
    from data_reconciliation_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs)
    pairs.count()
    assert not _cache_empty(spark)  # band-key table is cached while in use
    release_cached(pairs)
    assert _cache_empty(spark)
    # result stays valid after release (recomputes)
    assert pairs.count() >= 0


def test_simhash_release(spark, clean_cache, docs):
    from data_reconciliation_spark.operators.dedup import simhash_pairs

    pairs = simhash_pairs(docs, max_hamming=6, n_chunks=8)
    pairs.count()
    assert not _cache_empty(spark)
    release_cached(pairs)
    assert _cache_empty(spark)


def test_ngram_release_and_deprecated_default_block(spark, clean_cache, docs):
    from data_reconciliation_spark.operators.dedup import ngram_jaccard_pairs

    # explicit block_col: no warning
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.5, block_col=F.lit(1), max_block_size=10
    )
    pairs.count()
    assert not _cache_empty(spark)
    release_cached(pairs)
    assert _cache_empty(spark)

    # implicit length-bucket blocking: deprecated round 3, hard error
    # round 5 (round-4 verdict #8) with a migration message
    with pytest.raises(ValueError, match="block_col is required"):
        ngram_jaccard_pairs(docs, threshold=0.5)


def test_block_score_pipeline_release(spark, clean_cache):
    from data_reconciliation_spark.operators.scoring import block_score_pipeline
    from data_reconciliation_spark.testgen import generate_pages

    pages = generate_pages(spark, n_rows=120, n_entities=30, seed=7)
    scored = block_score_pipeline(pages)
    scored.count()
    # per-page payload + block table are cached while in use
    assert len(cached_deps(scored)) >= 2
    assert not _cache_empty(spark)
    release_cached(scored)
    assert _cache_empty(spark)


def test_link_release(spark, clean_cache):
    from data_reconciliation_spark.plans.pipeline import link
    from data_reconciliation_spark.testgen import generate_pages

    pages = generate_pages(spark, n_rows=120, n_entities=30, seed=7)
    res = link(pages)
    n_labeled = res.clusters.count()
    assert n_labeled == 120
    assert not _cache_empty(spark)
    res.release()
    assert _cache_empty(spark)
    # clusters reads the localCheckpoint-ed label table — still valid
    assert res.clusters.count() == 120


def test_reconcile_lazy_metrics_no_cache(spark, clean_cache):
    from data_reconciliation_spark.operators.reconcile import (
        reconcile,
        reconcile_exceptions,
        reconcile_metrics,
    )

    df_old = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    df_new = spark.createDataFrame([(1, "a"), (2, "x"), (4, "d")], "id long, v string")
    # neither single-output entry point ever creates a cache
    metrics = reconcile_metrics(df_old, df_new, ["id"], {"fields": {}})
    assert _cache_empty(spark)
    exceptions = reconcile_exceptions(df_old, df_new, ["id"], {"fields": {}})
    got = {(r["id"], r["field"]) for r in exceptions.collect()}
    assert (2, "v") in got
    assert _cache_empty(spark)

    # identical metrics and exception rows to the cached path
    eager = reconcile(df_old, df_new, ["id"], {"fields": {}})
    try:
        assert {
            (r["id"], r["field"]) for r in eager.exceptions.collect()
        } == got
        assert (metrics.match_pct, metrics.n_both) == (eager.match_pct, 2)
    finally:
        eager.release()
    assert _cache_empty(spark)

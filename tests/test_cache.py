"""Persisted query intermediates live until the code that runs the
action clears the cache: the frame a persisting query returns reads
its cached blocks, and ``spark.catalog.clearCache()`` releases them
all."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, plan_reads_cache

#: registry queries whose construction persists an intermediate (a
#: survey of the full registry at sf0.001)
PERSISTING = (
    "curate_corpus", "curate_corpus_best", "decontam_bloom_report",
    "decontam_minhash_report", "dedup_cluster_stats",
    "dedup_embedding_pairs", "dedup_embedding_pairs_lsh", "dedup_groups",
    "dedup_minhash_pairs", "dedup_ngram_pairs", "dedup_prefix_pairs",
    "dedup_simhash_pairs", "dedup_survivors", "dedup_winnow_pairs",
    "doc_cdc_chunk_dedup", "doc_chunk_share_pairs", "dsir_selection",
    "incremental_neardup_report", "leakage_safe_splits",
    "media_audio_fp_pairs", "media_image_dhash_pairs",
    "mixture_on_predicted_lang", "pack_curated_corpus",
    "source_drift_tv", "vocab_overlap_hll_sketch",
)

@pytest.mark.parametrize("name", PERSISTING)
def test_query_keeps_every_tracked_frame_cached(spark, name):
    """The frames a query persisted are still cached when ``spark_fn``
    returns, and the returned frame reads them; clearing the cache
    after the action releases every block the query persisted (RDDs
    an earlier test left to the garbage collector are not its own)."""
    from mapreducewordcount_spark.queries import all_queries

    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keySet())
    df = all_queries()[name].spark_fn(spark, SF_SMOKE)
    assert not cache_manager.isEmpty(), f"{name} persists nothing"
    assert plan_reads_cache(df), f"{name}: the plan reads no persisted frame"
    df.write.mode("overwrite").format("noop").save()
    assert not jsc.getPersistentRDDs().isEmpty()
    spark.catalog.clearCache()
    assert cache_manager.isEmpty()
    left = set(jsc.getPersistentRDDs().keySet()) - before
    assert not left, f"{name} leaves persisted RDDs {sorted(left)}"

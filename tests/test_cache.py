"""One tracked-persist registry (``cache.py``) for every persisting
operator and query: an entry point's release must never sweep a frame
that the query being built still needs."""

from __future__ import annotations

import pytest

from mapreducewordcount_spark import cache
from tests.conftest import SF_SMOKE

#: registry queries whose construction persists through
#: ``cache.persist_tracked`` (a survey of the full registry at sf0.001)
PERSISTING = (
    "curate_corpus", "curate_corpus_best", "decontam_bloom_report",
    "decontam_minhash_report", "dedup_cluster_stats",
    "dedup_embedding_pairs", "dedup_groups", "dedup_minhash_pairs",
    "dedup_ngram_pairs", "dedup_prefix_pairs", "dedup_simhash_pairs",
    "dedup_survivors", "dedup_winnow_pairs", "dsir_selection",
    "incremental_neardup_report", "leakage_safe_splits",
    "media_audio_fp_pairs", "media_image_dhash_pairs",
    "mixture_on_predicted_lang", "pack_curated_corpus",
    "part_pair_affinity", "source_drift_tv", "vocab_overlap_hll",
    "vocab_overlap_hll_sketch",
)


@pytest.fixture()
def recorded(monkeypatch):
    """Every frame registered through ``persist_tracked`` during the
    test, including frames a later release already swept."""
    seen = []

    class Recording(list):
        def append(self, df):
            seen.append(df)
            super().append(df)

    monkeypatch.setattr(cache, "_TRACKED", Recording())
    yield seen
    cache.release_query_cache()


@pytest.mark.parametrize("name", PERSISTING)
def test_query_keeps_every_tracked_frame_cached(spark, recorded, name):
    """When ``spark_fn`` returns, every frame any of the query's
    operators persisted is still cached."""
    from mapreducewordcount_spark.queries import all_queries
    from mapreducewordcount_spark.sources.tables import reset_session_memos

    cache.release_query_cache()
    # an artifact memo hit would skip the model fit that persists
    reset_session_memos()
    all_queries()[name].spark_fn(spark, SF_SMOKE)
    assert recorded, f"{name} no longer persists through cache.py"
    released = [i for i, df in enumerate(recorded)
                if not df.storageLevel.useMemory]
    assert not released, f"{name}: tracked frames {released} were released"

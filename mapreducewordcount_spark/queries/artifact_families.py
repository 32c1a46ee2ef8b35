"""The oracle-artifact families: one entry per directory under
``artifacts/sig_oracle``.

Each family maps to the model builder whose frame its query consumes
in-plan, the corpus-key function that addresses the artifact for a
given sf_dir, and the sort columns that pin a byte-stable file.
Signature families also name their (id, signature) columns and are
committed in the ``materialize_signatures`` layout; the rest use
``materialize_frame``'s. ``tools/refresh_artifacts.py`` is the one
path that writes or checks these artifacts; no query does.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from mapreducewordcount_spark.queries import analytics3, pipeline5, pipeline6
from mapreducewordcount_spark.queries import dedup_queries as dq
from mapreducewordcount_spark.queries import pipeline2 as p2
from mapreducewordcount_spark.queries import pipeline3 as p3
from mapreducewordcount_spark.queries import pipeline8 as p8
from mapreducewordcount_spark.queries import pipeline10 as p10
from mapreducewordcount_spark.sources import sig_artifacts as sa
from mapreducewordcount_spark.sources.tables import load_table


class ArtifactFamily(NamedTuple):
    #: (spark, sf_dir) -> the model frame the family's queries consume
    build: Callable[[SparkSession, str], DataFrame]
    #: (spark, sf_dir) -> the corpus key addressing the artifact
    key: Callable[[SparkSession, str], tuple[int, int]]
    sort_cols: tuple[str, ...]
    #: (id, signature) columns of a signature family; None for a frame
    sig_cols: tuple[str, str] | None = None


def _key_of(table: str, key_fn):
    return lambda spark, sf_dir: key_fn(load_table(spark, sf_dir, table))


DOCS = _key_of("documents", sa.corpus_key)
EMB = _key_of("embeddings", sa.embeddings_corpus_key)
LINEITEM = _key_of("lineitem", sa.lineitem_corpus_key)


def _part(pair_builder, i: int):
    return lambda spark, sf_dir: pair_builder(spark, sf_dir)[i]


ARTIFACT_FAMILIES: dict[str, ArtifactFamily] = {
    "dedup_simhash_pairs": ArtifactFamily(
        dq.simhash_model, DOCS, ("id",), ("doc_id", "simhash")),
    "media_image_dhash_pairs": ArtifactFamily(
        p3.image_dhash_model, DOCS, ("id",), ("media_id", "dhash")),
    "media_audio_fp_pairs": ArtifactFamily(
        p3.audio_fp_model, DOCS, ("id",), ("media_id", "fingerprint")),
    "dedup_embedding_pairs_lsh": ArtifactFamily(
        dq.lsh_band_model, EMB, ("id", "band")),
    "ann_lsh_topk": ArtifactFamily(dq.lsh_band_model, EMB, ("id", "band")),
    "ann_ivf_topk_assign": ArtifactFamily(
        _part(dq.ivf_topk_model, 0), EMB, ("id",)),
    "ann_ivf_topk_routed": ArtifactFamily(
        _part(dq.ivf_topk_model, 1), EMB, ("query_id", "list_id")),
    "ann_pq_topk_shortlist": ArtifactFamily(
        dq.pq_shortlist_model, EMB, ("query_id", "neighbor_id")),
    "ann_ivfpq_topk_shortlist": ArtifactFamily(
        dq.ivfpq_shortlist_model, EMB, ("query_id", "neighbor_id")),
    "ivfpq_recall_shortlists": ArtifactFamily(
        dq.ivfpq_recall_model, EMB, ("n_probe", "query_id", "neighbor_id")),
    "ivfpq_append_assign": ArtifactFamily(
        dq.ivfpq_append_model, EMB, ("vec_id",)),
    "semantic_dedup_embeddings": ArtifactFamily(
        p2.semantic_assignment_model, EMB, ("id",)),
    "embedding_cluster_stats_assign": ArtifactFamily(
        _part(p2.kmeans_model, 0), EMB, ("vec_id",)),
    "embedding_cluster_stats_cent": ArtifactFamily(
        _part(p2.kmeans_model, 1), EMB, ("cluster_id",)),
    "doc_compression_ratio": ArtifactFamily(
        p2.zlib_size_model, DOCS, ("doc_id",)),
    "doc_bpe_tokens": ArtifactFamily(p2.bpe_vocab_model, DOCS, ("word",)),
    "sketch_hll_report": ArtifactFamily(
        analytics3.hll_model, LINEITEM, ("l_returnflag",)),
    "dsir_selection": ArtifactFamily(
        pipeline5.dsir_weight_model, DOCS, ("bucket",)),
    "doc_cdc_chunks": ArtifactFamily(
        pipeline6.cdc_chunk_model, DOCS, ("doc_id", "chunk_idx")),
    "doc_language_ngram": ArtifactFamily(
        p8.langid_holdout_model, DOCS, ("lang", "bucket")),
    "mixture_on_predicted_lang": ArtifactFamily(
        p8.langid_fullfit_model, DOCS, ("lang", "bucket")),
    "mixture_ipf_grid": ArtifactFamily(
        p10.ipf_grid_model, DOCS, ("source", "lang")),
}

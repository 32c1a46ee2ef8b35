"""Registry contract: the driver-gate window (first ~50 entries) is a
curated coverage decision — pin it so refactors can't silently
displace queries out of their round's gate slots."""

from __future__ import annotations

from mapreducewordcount_spark.queries import all_queries

def test_gate_window_rotation_round14():
    names = list(all_queries())
    window = set(names[:50])
    # VERDICT r13 next#8: the 23-query r10-last-green cohort leads
    # unconditionally (the only rows older than r11 in the cumulative
    # driver record; includes part_name_features, the r13 spill)
    assert names[:23] == [
        "part_name_features", "part_name_fuzzy_pairs",
        "q10_returned_customers", "q11_important_parts",
        "q12_ship_priority", "q13_order_count_dist",
        "q14_promo_revenue", "q15_top_supplier",
        "q16_part_supplier_counts", "q17_small_qty_revenue",
        "q18_large_orders", "q19_disjunctive",
        "q20_excess_share_suppliers", "q21_late_suppliers",
        "q22_idle_customers", "q9_type_profit",
        "segment_price_quantiles", "semantic_decontam_report",
        "sketch_cms_words", "sketch_hll_report", "source_quota_cap",
        "supplier_part_pagerank", "wc_top20"]
    # then the oldest 27 of the r11-last-green cohort in name order
    r11_cohort_head = {
        "ann_cosine_topk", "ann_ivfpq_topk", "basket_cap_report",
        "boilerplate_lines", "c4_line_dedup", "dedup_exact",
        "dedup_groups", "dedup_minhash_pairs", "doc_char_entropy",
        "doc_language_ngram", "doc_winnow_fingerprints"}
    assert r11_cohort_head <= window
    assert len(window) == 50
    # freshly green in r12/r13 -> correctly rotated OUT this round,
    # along with the r15 leads (the remaining 23 r11 rows)
    for q in ("big_spender_segments", "events_sessions",
              "media_audio_fp_pairs", "ivfpq_append_report",
              "doc_stratified_reservoir", "leakage_safe_splits",
              "sketch_stats", "q1_pricing_summary",
              "dedup_cluster_stats", "semantic_dedup_embeddings",
              "wc_word_count", "vocab_overlap_hll",
              "mixture_ipf_grid", "epoch_shuffle_order",
              "weighted_sample_docs"):
        assert q not in window, q


def test_registry_is_complete_and_unique():
    qs = all_queries()
    assert len(qs) >= 86
    # every spec is callable and carries a non-empty oracle
    for name, spec in qs.items():
        assert callable(spec.spark_fn), name
        assert isinstance(spec.oracle_sql, str) and spec.oracle_sql.strip(), \
            name

#!/usr/bin/env python
"""Generate PLANS.md: the physical plan of every headline query with the
scale-relevant properties extracted (exchanges, pushed filters, broadcast
joins, codegen spans, partial aggregation). Run after changing any
operator:

    python tools/plan_audit.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.01"

AUDITED = [
    "q1_pricing_summary",
    "rollup_average_xff",
    "rollup_cascade",
    "join_star_q3ish",
    "join_asof",
    "join_asof_bucketed",
    "join_bucketed_colocated",
    "join_salted_skew",
    "window_moving_avg_time",
    "window_session_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_fuzzy_pairs",
    "dedup_substring_spans",
    "sim_topk_bruteforce",
    "sim_topk_ivf_trained",
    "sim_topk_ivf_single_tree",
    "sim_topk_lsh_multi",
    "emb_quantize_int8",
    "emb_int8_topk",
    "emb_int8_ivf_topk",
    "sample_train_test_split",
    "sample_source_quota",
    "dedup_components",
    "decontam_ngram_overlap",
    "pack_sequences",
    "profile_documents",
    "text_bm25_topk",
    "profile_histogram",
    "sample_stratified",
    "anomaly_zscore",
    "text_quality",
    "text_pii_redact",
    "text_repetition",
    "filter_quality_gates",
    "pipeline_corpus_end_to_end",
    "mm_features",
    "whisper_write_roundtrip",
    # round-6 entries
    "sample_mixture_tokens",
    "dedup_semantic",
    "graph_pagerank_trade",
    "emb_pq_topk",
    "emb_pq_ivf_topk",
    "stream_session_replay",
    "ts_seasonal_decompose",
    "ts_holt_forecast",
    "join_star_q5ish",
    "join_asof_forward",
    "text_tfidf_topk",
    "ts_metric_correlation",
    "sample_weighted_topk",
    "sketch_distinct_rollup",
    "quality_expectations",
    # round-6-native entries
    "sketch_quantile_rollup",
    "sketch_topk_rollup",
    "incr_agg_orders",
    "stream_sketch_replay",
    "text_unigram_tokenize",
    "join_star_q10ish",
    "join_star_q7ish",
    "join_q17ish_correlated_agg",
    "text_quality_classifier",
    "text_readability",
    "stream_ewma_replay",
    "merge_partitioned_manifest",
    "join_q18ish_having_semi",
    "window_ntile_quartiles",
    "layout_zorder_prune",
    "mm_image_features",
    "mm_audio_stats",
    # round-7 entries
    "sketch_kll_rollup",
    "merge_schema_evolution",
    "mm_tiff_image_features",
    "graphite_n_percentile",
    "sketch_kmv_setops",
    "stream_kmv_replay",
    "layout_bloom_prune",
    "merge_compact_state",
    "incr_join_view",
    "merge_change_feed",
    "mmr_diversified_topk",
    "cohort_retention_daily",
    "ts_linear_trend",
    # round-7 second wave
    "join_q2ish_min_cost",
    "join_q4ish_exists_late",
    "join_q13ish_count_dist",
    "join_q19ish_disjunctive",
    "join_q21ish_waiting",
    "join_q22ish_scalar_avg",
    "text_collocations_lift",
    "ts_changepoint_cusum",
    "path_transition_matrix",
    "anomaly_robust_mad",
    "graph_triangle_count",
    "stream_changepoint_replay",
    "graph_label_propagation",
    "join_point_in_time",
    "profile_equidepth_bins",
    "sample_negative_items",
    "rec_item_cf_topk",
    "window_pct_rank_dist",
    # round-7 third wave (TPC-H completion)
    "join_q6ish_filter_agg",
    "join_q8ish_market_share",
    "join_q9ish_profit",
    "join_q11ish_value_frac",
    "join_q12ish_priority_case",
    "join_q14ish_promo_share",
    "join_q15ish_top_supplier",
    "join_q16ish_supplier_cnt",
    "join_q20ish_nested_agg",
    "ts_rolling_correlation",
    "stream_topk_replay",
    # round-8 entries
    "mmr_diversified_ann",
    "graphite_integral_by_interval",
    "dedup_fuzzy_passjoin",
    "graphite_hitcount",
    "graphite_interpolate",
    "sample_quality_temperature",
    "ts_holtwinters_forecast",
    # round-9 entries
    "graphite_percentile_of_series",
    "text_lang_id_trained",
    # round-10 entries (stream_cms_replay explains a drained sink —
    # its batch plan is sketch_cms_estimate's, already audited)
    "text_rag_chunks",
    "sketch_cms_estimate",
    "graph_bfs_distances",
    "ts_autocorrelation",
    "graph_kcore",
    "window_gaps_islands",
    "text_rake_keywords",
    "profile_benford",
    # round-11 entries (text_bpe_bytes' audited plan is the COUNTS half —
    # training runs eagerly before the plan exists, its per-iteration
    # shape is learn_merges', pinned in tests/test_plans.py)
    "text_repetition_profile",
    "text_bpe_bytes",
    "graphite_series_by_tag",
    "sketch_bloom_membership",
    "decontam_bloom_flags",
    # round-11 window-frame fix: the gap-fill plan is pinned so the
    # reversed-order running frames stay visible in the audit
    "resample_gapfill",
    # round-12 entries (mm_phash/audio/video_neardup explain the
    # post-checkpoint pair tables — the banded-join shapes are pinned by
    # tests/test_plans.py's perceptual-hash audits instead)
    "dedup_paragraph_exact",
    "text_url_domain_key",
    "graphite_group_by_tags",
    "dedup_duplicate_spans",
    "sample_domain_quota",
    "decontam_semantic_flags",
    # round-12b entries (stream_hll_replay's plan is the per-batch
    # hll_shard_sketches + rollup shapes below; emb_kmeans_int8 and
    # text_wordpiece_ids run driver loops, so the audited plan is their
    # final assign/encode stage)
    "text_c4_line_filter",
    "text_html_strip",
    "text_winnow_fingerprints",
    "sketch_hll_rollup",
    "emb_kmeans_int8",
    "text_wordpiece_ids",
    "ingest_orc_roundtrip",
    "pipeline_web_end_to_end",
    "emb_rp_topk",
    "text_kn_trigram_score",
    "text_span_corruption",
    "emb_pca_top_component",
    "emb_abtt_topk",
    "dedup_winnow_pairs",
    "ingest_xml_roundtrip",
    "emb_hard_negatives",
    "sample_group_split",
    "text_fim_transform",
    # round-13 entries
    "text_compression_ratio",
    "dedup_duplicate_spans_bytes",
    "pipeline_multimodal_curation",
    # round-13b entries
    "dedup_semdedup",
    "text_dsir_weights",
    "text_dsir_resample",
    "text_token_entropy",
    "sample_temperature_lang",
    "layout_partition_prune",
    "pipeline_curation_end_to_end",
]


def summarize(plan: str) -> list[str]:
    lines = plan.splitlines()
    notes = []
    n_exchange = len([ln for ln in lines if re.match(r"\(\d+\) Exchange$", ln.strip())])
    notes.append(f"exchanges: {n_exchange}")
    bj = len([ln for ln in lines if "BroadcastHashJoin" in ln or "BroadcastNestedLoopJoin" in ln])
    if bj:
        notes.append(f"broadcast joins: {bj}")
    smj = len([ln for ln in lines if re.search(r"\(\d+\) SortMergeJoin", ln)])
    if smj:
        notes.append(f"sort-merge joins: {smj}")
    pushed = [ln.strip() for ln in lines if "PushedFilters" in ln and "[]" not in ln]
    if pushed:
        notes.append(f"pushed filters: {len(pushed)} scan(s)")
    partial = len([ln for ln in lines if "partial_" in ln])
    if partial:
        notes.append(f"partial aggregation: yes ({partial} fn lines)")
    wscg = len(set(re.findall(r"codegen id : (\d+)", plan)))
    if wscg:
        notes.append(f"whole-stage codegen spans: {wscg}")
    if "TakeOrderedAndProject" in plan:
        notes.append("top-k: TakeOrderedAndProject (no global sort)")
    if "SPARK_PARTITION_ID" in plan:
        notes.append("two-stage local/global rank")
    return notes


def main() -> None:
    from whisper_pandas_spark.plans.inspect import formatted_plan
    from whisper_pandas_spark.registry import QUERIES
    from whisper_pandas_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", master="local[8]", shuffle_partitions=8)
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py` at sf_dir={SF_DIR}.",
        "Each plan is the Catalyst `formatted` explain; the bullet list is",
        "auto-extracted scale evidence (shuffle count, pushdown, broadcast,",
        "partial aggregation, codegen). Regenerate after operator changes.",
        "",
    ]
    # The dedup registry wrappers eagerly checkpoint their (small) result
    # to release signature caches, which collapses their *visible* plan to
    # a checkpoint scan — audit the underlying operator pipelines instead.
    def _lazy_dedup(kind: str):
        from whisper_pandas_spark.operators.dedup import (
            lsh_pairs,
            minhash_signature_arrow,
            ngram_jaccard_pairs,
            simhash_pairs,
        )
        from whisper_pandas_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_DIR)
        if kind == "minhash":
            sig = minhash_signature_arrow(docs, "doc_id", "text", 12)
            return lsh_pairs(sig, 4, 3, 0.8)
        if kind == "simhash":
            return simhash_pairs(docs, "doc_id", "text", 3)
        return ngram_jaccard_pairs(docs, "doc_id", "text", "lang", 0.6)

    LAZY = {
        "dedup_minhash_lsh": lambda: _lazy_dedup("minhash"),
        "dedup_simhash_pairs": lambda: _lazy_dedup("simhash"),
        "dedup_ngram_jaccard": lambda: _lazy_dedup("ngram"),
    }

    for name in AUDITED:
        if name in LAZY:
            plan = formatted_plan(LAZY[name]())
        elif name in QUERIES:
            plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        else:
            continue
        out.append(f"## {name}")
        out.append("")
        for n in summarize(plan):
            out.append(f"- {n}")
        out.append("")
        out.append("```")
        # keep only the tree + the scan/exchange/join/aggregate detail blocks
        out.append(plan.strip())
        out.append("```")
        out.append("")
    Path(__file__).resolve().parents[1].joinpath("PLANS.md").write_text(
        "\n".join(out)
    )
    print(f"wrote PLANS.md ({len(out)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()

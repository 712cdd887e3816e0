"""Dump formatted physical plans of the headline queries to PLANS.md.

Evidence artifact for plan-shape review: shows PushedFilters / ReadSchema
pruning at the scans, broadcast vs shuffle joins, and WholeStageCodegen
spans for each bench query.  Regenerate after plan-affecting changes:

    python scripts/dump_plans.py [sf_dir] [query ...]

Named queries rewrite only their own sections, in place; with none, the
whole file is rewritten.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from radohydro_spark import get_spark

HEADLINE = [
    "precip_basin_timeseries",
    "tpch_q1_pricing",
    "tpch_q5_regional_revenue",
    "tpch_q9_product_profit",
    "tpch_q21_waiting_supplier",
    "window_running_total",
    "events_sessionize",
    "text_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh_pairs",
    "similarity_cosine_topk",
    "skew_salted_revenue",
    "tpch_q11_part_value",
    "text_tfidf_top_terms",
    "events_scd2_type_history",
    "dedup_embedding_cosine",
    "corpus_curation_pipeline",
    # round-5 additions
    "similarity_pq_adc_topk",
    "events_pagerank",
    "precip_gap_fill",
    "sample_stratified_cap",
    "text_normalize_clean",
    "events_variant_extract",
    "precip_nearest_basin",
    "dq_orders_constraints",
    "orders_snapshot_diff",
    "events_incremental_rollup",
    "sample_weighted_docs",
    "text_unigram_logprob",
    "join_lateral_topn",
    "events_orders_cogroup",
    "similarity_ann_multiprobe",
    "pyds_grid_source",
    # round-6 additions
    "precip_api_index",
    "orders_cdc_apply",
    "events_concurrency_sweep",
    "embedding_random_projection",
    "stats_histogram_orders",
    "text_url_parse",
    "similarity_recall_eval",
    "media_decode_jpeg",
    "graph_triangle_count",
    "events_markov_transitions",
    "stats_correlation",
    "dq_psi_drift",
    "dq_zscore_outliers",
    "text_inverted_index",
    "join_fuzzy_blocked",
    "media_resize_real",
    "media_video_mjpeg",
    "orders_rfm_segments",
    "stats_skyline_2d",
    "text_bigram_logprob",
    "graph_bfs_hops",
    "geo_geohash_bins",
    "events_interval_overlap",
    # round-7 additions
    "precip_regnie_scale",
    "orders_market_basket",
    "storage_table_changes",
    "dq_mad_outliers",
    "corpus_quality_mixture",
    "window_range_frame",
    "join_bloom_prefilter",
    "dedup_semantic",
    "text_bpe_first_merges",
    "embedding_feature_scaling",
    "similarity_index_persist",
    # round-9 additions
    "sample_group_kfold",
    "dedup_lsh_index_persist",
    "text_ngram_containment",
    "stats_pca_top_component",
    "window_distinct_running",
    # round-10 additions
    "text_tfidf_cosine_pairs",
    "events_interval_coalesce",
    "stats_weighted_median",
    "stats_heavy_hitters",
    "text_duplicate_spans",
    "graph_kcore",
    "dedup_jaccard_prefix",
    "events_funnel",
    "events_retention",
    "sample_bottom_k",
    "dq_table_fingerprint",
    "stats_quantiles_distributed",
    "sample_max_coverage",
    "events_twap",
    # round-11 additions (mmr_select and the LSH index lifecycle queries
    # are driver-loop/sink-effect shaped — their final frames are local
    # relations, so the informative plans are the per-round/probe stages
    # documented in their operator docstrings; the three below have
    # single-DAG plans worth pinning)
    "dedup_jaccard_prefix_zipf",
    "dedup_overlap_pairs",
    "text_bm25_topk",
    "search_rrf_fusion",
    "stats_label_centroids",
    "corpus_mixture_plan",
    "dedup_sorted_neighborhood",
    # round-12 addition: the overlap join's design-regime twin
    "dedup_overlap_pairs_zipf",
    # round-12 second wave: winnowing selection (one-shuffle window +
    # partitioning-reuse dedup), the MOSS pair join, DSIR importance
    # weights (broadcast lr dimension join), graded contamination
    # coverage (broadcast semi-join)
    "text_winnow_fingerprints",
    "dedup_winnow_pairs",
    "sample_dsir_weights",
    "text_contamination_coverage",
    "sample_stratified_bottom_k",
    "similarity_ivfpq_topk",
    "spatial_overlay_general",
    "text_pmi_collocations",
    # text_bpe_train's final frame is a local relation (collected merge
    # rows) — the informative plans are the per-round jobs documented in
    # bpe_train_merges' docstring
    # round-13 additions: the paragraph-dedup window+reassembly shape,
    # the zero-shuffle BPE encode projection, the perplexity-bucket
    # scoring pipeline, the cluster-balanced WindowGroupLimit sampler,
    # and the sqrt-exact temperature apportionment
    "dedup_paragraphs",
    "text_bpe_encode",
    "text_perplexity_buckets",
    "sample_cluster_balanced",
    "corpus_temperature_mixture",
    "dq_ks_drift",
    # r14: the two ranged-cumulation consumers (no single-partition sort
    # on value-domain cumulatives) and the bounded-shuffle CMS
    "dq_auc_returns",
    "sketch_count_min",
    # r14 second batch: windowless TVD drift, broadcast-probe Bloom,
    # TakeOrdered KMV bottom-k, B-rows-per-task bootstrap fan
    "dq_tvd_drift",
    "sketch_bloom_filter",
    "sketch_kmv_overlap",
    "stats_bootstrap_ci",
    # r14 third batch: single-Window EWMA and the two further
    # ranged-cumulation consumers (W1 integral, Lorenz/Gini).  The
    # streaming drift monitor drains to a memory table (its final frame
    # is a local scan, like the other stream queries — the informative
    # stateful-agg plan is documented in stream_category_drift)
    "orders_ewma_daily",
    "dq_wasserstein_drift",
    "stats_gini_revenue",
    "stats_bootstrap_ci_by",
    "dq_calibration_bins",
    "dq_cusum_changepoint",
    # r15: the per-group drift twins — ONE group-key exchange shared by
    # the totals window (tvd) / cumulative+totals windows (ks) and the
    # final aggregate.  (events_stream_count_min drains to a memory
    # table like the other stream queries; its stateful plan is
    # documented in stream_count_min's docstring.)
    "dq_tvd_drift_by",
    "dq_ks_drift_by",
    # r16: the suite-completing per-group twins — psi/calibration on
    # the broadcast-extent-grid pattern (extent agg + broadcast join +
    # ONE counter-sized (group, bucket) aggregate; no row shuffles on
    # the group key), cusum on the group-partitioned window pattern.
    # (events_stream_kmv drains to a memory table; its stateful plan
    # is documented in stream_kmv's docstring.)
    "dq_psi_drift_by",
    "dq_calibration_bins_by",
    "dq_cusum_by",
    # r16 fifth wave: chi2/JSD per-group diagrams (one union-tagged
    # count aggregate + one group-key totals window), corr_by (ONE
    # map-side-combinable moments aggregate, zero windows), the
    # per-group KMV sketch (mapInPandas prune + candidate distinct +
    # bounded per-group window) and exact grouped heavy hitters.
    "dq_chi2_drift_by",
    "dq_jsd_drift_by",
    "stats_corr_by",
    "sketch_kmv_estimate_by",
    "sketch_heavy_hitters_by",
    # r16 sixth wave: the entropy/MI counter-window diagrams, the
    # reference-decile PSI (domain-counter cumulative window -> 1-row
    # broadcast edge struct -> map-side bucket; no row shuffles on a
    # key), the Welch t-test (ONE union-tagged moments aggregate), the
    # schema diff (two single-agg profile scans + |columns|-row join),
    # the Heaps vocabulary curve (token-domain min aggregate), the
    # nearest as-of join (dual window scans on ONE key exchange) and
    # 3-round deterministic LPA (per-round vote agg + argmin window).
    "stats_entropy_by",
    "stats_mutual_info",
    "stats_mutual_info_by",
    "dq_psi_quantile_bins",
    "dq_benford_digits",
    "stats_ttest_by",
    "dq_schema_drift",
    "text_vocab_growth",
    "events_asof_nearest",
    "graph_label_propagation",
    # r16 seventh wave: the Q-Q drift table (one union-tagged
    # domain-counter exchange shared by both sides' cumulative
    # windows) and the long-tail min-support screen (count agg +
    # group-totals counter window + the shared ppm law).
    "dq_qq_table",
    "dq_rare_categories",
]


def _section(spark, qs, name: str, sf_dir: str) -> list[str]:
    df = qs[name](spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return [f"## {name}", "", "```", buf.getvalue().rstrip(), "```", ""]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    path = os.path.join(ROOT, "PLANS.md")
    spark = get_spark("plans")
    qs = entrymod.queries()
    if names:
        text = open(path).read()
        for name in names:
            head = f"## {name}\n"
            start = text.index(head)
            end = text.find("\n## ", start + len(head))
            end = len(text) if end < 0 else end + 1
            text = text[:start] + "\n".join(_section(spark, qs, name, sf_dir) + [""]) + text[end:]
        with open(path, "w") as f:
            f.write(text)
        print(f"rewrote {len(names)} PLANS.md sections")
        return
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}`. Things to check per plan:",
        "scans carry `PushedFilters`/narrow `ReadSchema`; dimension joins are",
        "`BroadcastHashJoin`; aggregates appear partial+final; `WholeStageCodegen`",
        "spans cover the row-at-a-time stretches; no `CartesianProduct` anywhere.",
        "",
    ]
    for name in HEADLINE:
        out += _section(spark, qs, name, sf_dir)
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()

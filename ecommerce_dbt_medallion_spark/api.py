"""Public inventory: queries() and oracle_sql() assembled from the model
modules. ``__spark_entry__.py`` re-exports these for the driver.

Money columns are decimal(18,2) inside the engine (exact arithmetic) and
cast to double at the API boundary so Spark and DuckDB result schemas
match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.models import bronze, silver, gold
from ecommerce_dbt_medallion_spark.models import cdf as mcdf
from ecommerce_dbt_medallion_spark.models import events as ev
from ecommerce_dbt_medallion_spark.models import stats as mstats
from ecommerce_dbt_medallion_spark.models import analytics as ana
from ecommerce_dbt_medallion_spark.oracle import assemble, oracle_sql_medallion
from ecommerce_dbt_medallion_spark.ops import basket as opbasket
from ecommerce_dbt_medallion_spark.ops import bpe as opbpe
from ecommerce_dbt_medallion_spark.ops import chunking as opchunk
from ecommerce_dbt_medallion_spark.ops import classify as opcls
from ecommerce_dbt_medallion_spark.ops import cluster as opcluster
from ecommerce_dbt_medallion_spark.ops import colloc as opcolloc
from ecommerce_dbt_medallion_spark.ops import curation as opcur
from ecommerce_dbt_medallion_spark.ops import dedup as opdedup
from ecommerce_dbt_medallion_spark.ops import fuzzy as opfuzzy
from ecommerce_dbt_medallion_spark.ops import graph as opgraph
from ecommerce_dbt_medallion_spark.ops import index as opindex
from ecommerce_dbt_medallion_spark.ops import lm as oplm
from ecommerce_dbt_medallion_spark.ops import ranking as oprank
from ecommerce_dbt_medallion_spark.ops import similarity as opsim
from ecommerce_dbt_medallion_spark.ops import multimodal as opmm
from ecommerce_dbt_medallion_spark.ops import quantize as opquant
from ecommerce_dbt_medallion_spark.ops import sampling as opsample
from ecommerce_dbt_medallion_spark.ops import scrub as opscrub
from ecommerce_dbt_medallion_spark.ops import sketch as opsketch
from ecommerce_dbt_medallion_spark.ops import substring as opsub
from ecommerce_dbt_medallion_spark.ops import text as optext
from ecommerce_dbt_medallion_spark.ops import vocab as opvocab
from ecommerce_dbt_medallion_spark.quality import checks as dq
from ecommerce_dbt_medallion_spark.quality import freshness as dqfresh
from ecommerce_dbt_medallion_spark.streaming import ann_index_stream as strm_annidx
from ecommerce_dbt_medallion_spark.streaming import enrich_stream as strm_enrich
from ecommerce_dbt_medallion_spark.streaming import ingest_stream as strm_ingest
from ecommerce_dbt_medallion_spark.streaming import events_stream as strm
from ecommerce_dbt_medallion_spark.streaming import join_stream as strm_join
from ecommerce_dbt_medallion_spark.streaming import sessionize_stream as strm_sessions
from ecommerce_dbt_medallion_spark.streaming import sketch_stream as strm_sketch

QueryFn = Callable[[SparkSession, str], DataFrame]


def _money_to_double(fn: QueryFn, cols: list[str]) -> QueryFn:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        for c in cols:
            df = df.withColumn(c, F.col(c).cast("double"))
        return df

    return wrapped


# The driver's CORRECTNESS gate checks the FIRST 50 entries of queries().
# DRIVER_WINDOW is that window, explicit and exactly DRIVER_WINDOW_SIZE
# long (enforced by queries() and tests/test_sources.py — round 4
# accidentally shipped 51 keys ahead of the marker, silently dropping
# key #51 from the gate).
#
# Round-6 rotation: every key in round 5's window was driver-certified
# green on CURRENT code (CORRECTNESS_r05.json, post-NTZ-normalizer).
# The other 38 keys' latest driver row is round 4 — BEFORE the
# sources/registry.normalize_event_ts rewrite — so they rotate in now
# to re-certify on the current load path (five of them consume events
# through it: event_daily_stats, event_funnel, event_path_topk,
# active_users_rolling, multimodal_frame_sample's loader sibling).
# The remaining 12 slots keep the highest-value medallion/DQ keys
# continuously certified.
#
# Round-6c amendment: the 4 round-6b keys added after the window
# filled (corpus_mix_weights, semantic_dedup_clusters,
# sketch_user_overlap, funnel_windowed) take the slots of the 4
# medallion marts that were driver-certified green in r5 — a
# never-certified key outranks a one-round-old green one. The
# displaced marts (silver_payments, gold_customer_summary,
# gold_order_metrics, gold_revenue_analysis) rotate back in round 7.
#
# Round-7 rotation (this window): every key certified in rounds 5/6
# has a green latest driver row, so the 39 never-driver-certified keys
# go first — the 35 round-6c/6d additions (local 3-SF hash parity only
# until now) plus the 4 new round-7 keys (zorder prune, streaming
# dedup ingest, schema evolution, restore read) — then the 11
# displaced-green-r5 bronze/silver/DQ/mart keys fill the 50.
# dq_failed_rows, event_sessionization and the bucketed mart (all
# r5-green) ceded their slots to the new keys and stay r5-latest;
# they rejoin in round 8.
#
# Round-8 rotation (this window): the 39 keys whose latest driver row
# is r5 (CORRECTNESS_r05 minus the 11 re-certified in r7: bronze×3,
# silver×3, dq_generic/singular, 3 gold marts) take the first 39
# slots, then the 11 oldest r6-certified keys fill the 50.
#
# Round-9 note (write the next window from this): after round 8, the
# oldest-certified keys are the remaining r6 block (range_join_promo_
# revenue, sales_rollup, top_parts_per_region, payment_method_pivot,
# revenue_anomaly_zscore, customer_ltv_running, revenue_date_spine,
# funnel_windowed, sketch_user_overlap, corpus_mix_weights,
# semantic_dedup_clusters, corpus_stratified_sample,
# corpus_sample_per_stratum, corpus_weighted_sample, dataset_split,
# dataset_split_stats, dedup_keep_best, curation_funnel,
# text_token_stats, text_quality_score, text_language_id,
# doc_fingerprint, dedup_exact, doc_winnowing, corpus_curation,
# dedup_ngram_jaccard, text_pii_scrub, decontaminate, doc_containment,
# triangle_count_parts, dedup_embedding_lsh, ann_topk_lsh,
# ann_topk_ivf, kmeans_embeddings, bm25_topk, exact_substring_dedup,
# lakehouse_cdf, dq_source_freshness, scd2_snapshot_build,
# association_rules(r7)…) — fill the 50 oldest-row-first in api
# order; any round-8 keys displaced by round-8 additions rejoin
# (displaced this round: sales_by_region, supplier_part_revenue,
# customer_order_percentiles, churn_risk_score,
# gold_rfm_segmentation, multimodal_frame_sample,
# sketch_distinct_users, active_users_rolling, event_path_topk,
# event_daily_stats, event_funnel — all r6-green; the last two ceded
# their slots to the session-3 keys paragraph_dedup_rewrite and
# boilerplate_ngrams). The round-8 window SATURATED at 50 with the 39
# r5-stale keys + 11 never-certified, so the newest session-3 keys
# — cdc_latest_state, stream_cdc_apply, shipping_priority_topk,
# large_volume_customers, local_supplier_volume and
# promo_revenue_share — are DEFERRED: they go FIRST in the round-9
# window (never-certified outranks green; all are locally
# parity-pinned at sf0.001 + sf0.01 meanwhile). The session-4 keys
# — customer_order_distribution, small_quantity_revenue,
# idle_high_balance_customers, top_supplier_revenue,
# stream_distinct_sketch, part_supplier_diversity,
# disjunctive_band_revenue, lakehouse_rename_read, plus any later
# session-4 additions noted here — join that deferred head of the
# round-9 window under the same rule.
# No key's latest driver row should ever be more than two rounds
# behind the code it runs on — with 180 keys and a 50-key window the
# full rotation takes 4 rounds, so the realized bound is three rounds;
# the rotation keeps every violation minimal and documented.
#
# Round-9 rotation (this window): the 14 never-driver-certified
# round-8 additions go first (never-certified outranks green), then
# the 10 round-9 additions (same rule: lakehouse_optimize_read,
# lakehouse_snapshot_cut, waiting_supplier_ranking,
# min_cost_supplier_parts, returned_item_customers,
# stream_heavy_hitters, nation_market_share,
# product_profit_by_nation, decontaminate_incremental,
# label_propagation_parts), then the oldest-certified block — all
# 50 r6-latest keys compete for the remaining 26 slots,
# oldest-first in api order. The 24 r6 keys that don't fit —
# text_language_id, doc_fingerprint, ann_topk_lsh,
# ann_topk_ivf, lakehouse_cdf, dq_source_freshness,
# scd2_snapshot_build, kmeans_embeddings, bm25_topk,
# exact_substring_dedup, doc_containment, triangle_count_parts,
# corpus_mix_weights, semantic_dedup_clusters, sketch_user_overlap,
# funnel_windowed, dedup_exact, doc_winnowing, corpus_curation,
# dedup_ngram_jaccard, text_pii_scrub, decontaminate,
# multimodal_frame_sample, dedup_embedding_lsh — are deferred to the
# FRONT of the round-10 window together with any later round-9
# additions.
#
#
# Round-10 rotation (this window): the six round-10 additions go
# first (never-certified outranks green) — lakehouse_deferred_delete,
# hard_negative_mining, nearest_centroid_classify, bpe_train_merges,
# ann_topk_ivfpq, bpe_encode_stats;
# any LATER round-10 additions join this head under the same rule and
# must be named here — then the full 24-key r6-latest block
# (the round-9 deferral list above), then the 25 OLDEST r7-certified
# keys in api order (20 fit after the five extra round-10 keys
# took their slots; source_length_profile, pricing_summary,
# shipping_delay_stats, vocab_coverage and event_volume_anomaly join
# the deferral list). The r7 keys that don't fit —
# source_length_profile, pricing_summary, shipping_delay_stats, vocab_coverage,
# event_volume_anomaly, event_ctr_daily, minhash_calibration, supplier_hhi,
# part_price_quartiles, ann_recall_report, ivm_mart_refresh,
# basket_size_distribution, returns_by_month, discount_band_analysis,
# trade_flows, late_order_priority, customer_decile_revenue,
# new_vs_returning_revenue, tokenizer_fertility, markov_dwell,
# kcore_parts, pq_quantize, wap_audited_ingest, skew_salted_revenue,
# stream_join_left_outer, stream_hopping_rollup,
# lakehouse_zorder_prune, stream_dedup_ingest,
# lakehouse_schema_evolution, lakehouse_restore_read
# — defer to the FRONT of the round-11 window together with any later
# round-10 additions.
#
# Round-11 rotation (this window): the round-11 additions go first
# (never-certified outranks green) — ann_index_maintain,
# ann_topk_ivfpq_rerank, bpe_train_merges_batched, multimodal_dedup,
# text_language_id_ngram, bpe_encode_stats_batched,
# corpus_shuffle_shard; any LATER round-11
# additions join this head
# under the same rule and must be named here — then the full 30-key
# r7-latest block (the round-10 deferral list above — three rounds
# stale, the rotation's worst case, so this block is non-negotiable),
# then the OLDEST r8-certified keys in api order fill the remaining
# slots (3 fit with the seventeen additions above — the seven from the
# round's first session plus the second session's
# attribution_time_decay, word_cooccurrence_lift,
# embedding_gram_matrix, bpe_merge_usage, lakehouse_vacuum_read,
# embedding_centroid_drift, stream_gram_maintain,
# source_char_diversity, simhash_calibration and
# conversion_lag_distribution; the window ships with
# the 20 oldest r8 keys until the additions land, each addition
# displacing the newest r8 key in the window into the deferral list —
# the second session displaced stream_sessionize,
# gold_customer_summary_bucketed, event_sessionization,
# dedup_minhash_lsh, dedup_incremental, knn_graph,
# multimodal_extract, dedup_minhash_md5, asof_event_order and
# hypertable_rollup).
# The r8 keys that don't fit — dedup_simhash,
# dedup_embedding_cosine,
# ann_cosine_topk, dedup_clusters,
# stream_event_rollup, stream_dedup_events, stream_session_window,
# stream_join_view_purchase, stream_enrich_purchases, tfidf_top_terms,
# inverted_index, bigram_lm, doc_lm_score, cms_user_counts,
# histogram_quantiles, cohort_retention, copurchase_topk,
# pagerank_parts, fuzzy_name_match, scd2_customer_orders,
# repetition_stats, doc_chunking, pack_sequences, embedding_quantize,
# vocab_top_words, doc_oov_rate, session_window_stats,
# quantile_sketch_mergeable, stream_cluster_maintain,
# stream_quantile_sketch, exact_substring_sampled,
# quality_threshold_sweep, dedup_source_overlap,
# watermark_lateness_audit, lakehouse_clone_read,
# paragraph_dedup_rewrite, boilerplate_ngrams,
# stream_sessionize, gold_customer_summary_bucketed,
# event_sessionization, dedup_minhash_lsh, dedup_incremental,
# knn_graph, multimodal_extract, dedup_minhash_md5, asof_event_order,
# hypertable_rollup
# — defer to the FRONT of the round-12 window together with any later
# round-11 additions.
# DRIVER_WINDOW_ROUND pins which round this window was built FOR. The
# rotation test derives its expectations from the CORRECTNESS
# artifacts of rounds STRICTLY BEFORE this one, so the test stays
# green when the driver later drops this round's own artifact into
# the repo root (the round-8 test computed state from ALL artifacts
# and self-invalidated the moment CORRECTNESS_r08.json landed).
# Round-12 rotation (this window): the three round-12 additions go
# first (never-certified outranks green) — doc_quality_classify,
# lm_score_source_mix, pack_sequences_bfd; any LATER round-12 additions
# would join this head under the same rule and must be named here —
# then the FULL 47-key r8-latest block (the round-11 deferral list
# above, including the rows-only dedup_minhash_lsh; three rounds stale,
# the rotation's worst case — VERDICT r11 #1 made this block
# non-negotiable), in api order. 3 + 47 = 50: the window is exactly
# full, no r9 key fits, and after this round no key's latest driver row
# is older than r9.
# The entire 50-key r9-latest block therefore defers to the FRONT of
# the round-13 window together with any later round-12 additions —
# gold_rfm_segmentation, churn_risk_score, event_daily_stats,
# event_funnel, event_path_topk, active_users_rolling,
# corpus_weighted_sample, sketch_distinct_users, sales_by_region,
# supplier_part_revenue, customer_order_percentiles,
# range_join_promo_revenue, sales_rollup, payment_method_pivot,
# revenue_anomaly_zscore, customer_ltv_running, revenue_date_spine,
# top_parts_per_region, corpus_stratified_sample, dataset_split,
# dataset_split_stats, dedup_keep_best, curation_funnel,
# corpus_sample_per_stratum, text_token_stats, text_quality_score,
# decontaminate_incremental, label_propagation_parts, cdc_latest_state,
# stream_cdc_apply, shipping_priority_topk, large_volume_customers,
# local_supplier_volume, promo_revenue_share,
# customer_order_distribution, small_quantity_revenue,
# idle_high_balance_customers, top_supplier_revenue,
# stream_distinct_sketch, stream_heavy_hitters, part_supplier_diversity,
# disjunctive_band_revenue, lakehouse_rename_read,
# lakehouse_optimize_read, lakehouse_snapshot_cut,
# waiting_supplier_ranking, min_cost_supplier_parts,
# returned_item_customers, nation_market_share,
# product_profit_by_nation.
#
# Round-13 rotation (this window): the 200-key inventory reached the
# 4-round steady state in round 12 (staleness classes r12/r11/r10/r9 =
# 50/50/50/49+1; dedup_minhash_lsh's r12 row is the rows-only check, a
# driver row all the same). Round 13 adds ZERO new gated keys — at
# 50 slots x 4 rounds = 200 keys the window has exactly zero spare
# capacity, and any addition would push an r9 key to 5 rounds stale
# (worse than the worst case VERDICT r11 #1 called non-negotiable).
# The window is therefore EXACTLY the 50-key r9-latest block (the
# round-12 deferral list above), in api order. Round-13 engine work
# that would normally mint keys (pack_manifest_bfd,
# doc_quality_calibration) is implemented + locally tested but NOT
# registered in queries(); those keys join the HEAD of the round-14
# window when registered (never-certified outranks green).
# The entire 50-key r10-latest block therefore defers to the FRONT of
# the round-14 window together with the round-14 registrations —
# text_language_id, doc_fingerprint, dedup_exact, doc_winnowing,
# corpus_curation, dedup_ngram_jaccard, text_pii_scrub, decontaminate,
# multimodal_frame_sample, dedup_embedding_lsh, ann_topk_lsh,
# ann_topk_ivf, silver_payments, gold_customer_summary,
# gold_order_metrics, gold_revenue_analysis, bronze_customers,
# bronze_orders, bronze_payments, silver_customers, silver_orders,
# dq_generic_tests, dq_singular_tests, lakehouse_cdf,
# dq_source_freshness, scd2_snapshot_build, kmeans_embeddings,
# bm25_topk, exact_substring_dedup, doc_containment,
# triangle_count_parts, corpus_mix_weights, semantic_dedup_clusters,
# sketch_user_overlap, funnel_windowed, association_rules,
# markov_transitions, attribution_position, revenue_trend,
# revenue_seasonality, winsorized_revenue_stats,
# customer_interpurchase, pareto_frontier_parts, doc_novelty_score,
# lakehouse_deferred_delete, hard_negative_mining,
# nearest_centroid_classify, bpe_train_merges, ann_topk_ivfpq,
# bpe_encode_stats — 50 keys: two round-14 registrations displace the
# two newest-certified of that block to round 15 (documented trade;
# the displaced keys would be 5 rounds stale at their r15 row, which
# is why round 14 must register AT MOST what it can justify).
#
# Round-14 rotation (this window): the two round-13 queue keys join
# FIRST (never-certified outranks green) — pack_manifest_bfd,
# doc_quality_calibration — then the r10-latest block above in api
# order MINUS the two deferred keys. 2 + 48 = 50.
# STALENESS LEDGER (the 202-key / 50-slot arithmetic no longer
# divides: every 4-round cycle now carries exactly two keys one round
# past the old r11-#1 worst case): the two deferred keys are
# `bronze_customers` and `silver_customers` — chosen because their
# implementation files (models/bronze.py, models/silver.py, last
# touched 2026-08-13) are the OLDEST-untouched in the block, and their
# sibling keys (bronze_orders/bronze_payments, silver_orders) remain
# in this window and execute the same modules end-to-end, so a module
# regression would still surface in r14. Their r15 rows will be
# 5 rounds stale — the documented maximum; no key may ever exceed it.
# Round-15 window plan: [any round-15 registrations] +
# [bronze_customers, silver_customers] (priority: most-stale) + the
# 50-key r11-latest block front-truncated to fill 50 slots; displaced
# r11 keys roll to the front of r16's r12 block.
DRIVER_WINDOW_ROUND = 14
DRIVER_WINDOW_SIZE = 50
DRIVER_WINDOW = [
    # ================= ROUND-14 WINDOW =================
    # Head: the two round-13 queue keys, never driver-certified.
    "pack_manifest_bfd",
    "doc_quality_calibration",
    # Then the r10-latest block, api order, minus the two deferred
    # keys (bronze_customers, silver_customers — see ledger above).
    "text_language_id",
    "doc_fingerprint",
    "dedup_exact",
    "doc_winnowing",
    "corpus_curation",
    "dedup_ngram_jaccard",
    "text_pii_scrub",
    "decontaminate",
    "multimodal_frame_sample",
    "dedup_embedding_lsh",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "silver_payments",
    "gold_customer_summary",
    "gold_order_metrics",
    "gold_revenue_analysis",
    "bronze_orders",
    "bronze_payments",
    "silver_orders",
    "dq_generic_tests",
    "dq_singular_tests",
    "lakehouse_cdf",
    "dq_source_freshness",
    "scd2_snapshot_build",
    "kmeans_embeddings",
    "bm25_topk",
    "exact_substring_dedup",
    "doc_containment",
    "triangle_count_parts",
    "corpus_mix_weights",
    "semantic_dedup_clusters",
    "sketch_user_overlap",
    "funnel_windowed",
    "association_rules",
    "markov_transitions",
    "attribution_position",
    "revenue_trend",
    "revenue_seasonality",
    "winsorized_revenue_stats",
    "customer_interpurchase",
    "pareto_frontier_parts",
    "doc_novelty_score",
    "lakehouse_deferred_delete",
    "hard_negative_mining",
    "nearest_centroid_classify",
    "bpe_train_merges",
    "ann_topk_ivfpq",
    "bpe_encode_stats",
]



def _all_queries() -> dict[str, QueryFn]:
    return {
        "dq_failed_rows": dq.dq_failed_rows,
        "gold_rfm_segmentation": gold.gold_rfm_segmentation,
        "churn_risk_score": gold.churn_risk_score,
        "event_daily_stats": ev.event_daily_stats,
        "event_funnel": ev.event_funnel,
        "attribution_linear": ev.attribution_linear,
        "event_path_topk": ev.event_path_topk,
        "active_users_rolling": ev.active_users_rolling,
        "corpus_weighted_sample": opsample.corpus_weighted_sample,
        "corpus_weighted_reservoir": opsample.corpus_weighted_reservoir,
        "asof_event_order": ev.asof_event_order,
        "hypertable_rollup": ev.hypertable_rollup,
        "sketch_distinct_users": ev.sketch_distinct_users,
        "sales_by_region": ana.sales_by_region,
        "supplier_part_revenue": ana.supplier_part_revenue,
        "customer_order_percentiles": ana.customer_order_percentiles,
        "range_join_promo_revenue": ana.range_join_promo_revenue,
        "sales_rollup": ana.sales_rollup,
        "payment_method_pivot": ana.payment_method_pivot,
        "revenue_anomaly_zscore": ana.revenue_anomaly_zscore,
        "customer_ltv_running": ana.customer_ltv_running,
        "revenue_date_spine": ana.revenue_date_spine,
        "top_parts_per_region": ana.top_parts_per_region,
        "corpus_stratified_sample": opsample.corpus_stratified_sample,
        "dataset_split": opcur.dataset_split,
        "dataset_split_stats": opcur.dataset_split_stats,
        "dedup_keep_best": opcur.dedup_keep_best,
        "curation_funnel": opcur.curation_funnel,
        "corpus_sample_per_stratum": opsample.corpus_sample_per_stratum,
        "text_token_stats": optext.text_token_stats,
        "text_quality_score": optext.text_quality_score,
        "text_language_id": optext.text_language_id,
        "doc_fingerprint": optext.doc_fingerprint,
        "dedup_exact": optext.dedup_exact,
        "doc_winnowing": optext.doc_winnowing,
        "corpus_curation": optext.corpus_curation,
        "dedup_ngram_jaccard": optext.dedup_ngram_jaccard,
        "text_pii_scrub": opscrub.text_pii_scrub,
        "decontaminate": opscrub.decontaminate,
        "decontaminate_incremental": opscrub.decontaminate_incremental,
        "multimodal_extract": opmm.multimodal_extract,
        "multimodal_frame_sample": opmm.multimodal_frame_sample,
        "dedup_minhash_md5": opdedup.dedup_minhash_md5,
        "dedup_incremental": opdedup.dedup_incremental,
        "dedup_embedding_lsh": opsim.dedup_embedding_lsh,
        "ann_topk_lsh": opsim.ann_topk_lsh,
        "ann_topk_ivf": opsim.ann_topk_ivf,
        "knn_graph": opsim.knn_graph,
        "stream_sessionize": strm_sessions.stream_sessionize,
        "silver_payments": _money_to_double(silver.silver_payments, ["payment_amount"]),
        "gold_customer_summary": gold.gold_customer_summary,
        "gold_order_metrics": gold.gold_order_metrics,
        "gold_revenue_analysis": gold.gold_revenue_analysis,
        "bronze_customers": bronze.bronze_customers,
        "bronze_orders": _money_to_double(bronze.bronze_orders, ["order_amount"]),
        "bronze_payments": _money_to_double(bronze.bronze_payments, ["payment_amount"]),
        "silver_customers": silver.silver_customers,
        "silver_orders": _money_to_double(silver.silver_orders, ["order_amount"]),
        "gold_customer_summary_bucketed": gold.gold_customer_summary_bucketed,
        "dq_generic_tests": dq.dq_generic_tests,
        "dq_singular_tests": dq.dq_singular_tests,
        "event_sessionization": ev.event_sessionization,
        "dedup_minhash_lsh": opdedup.dedup_minhash_lsh,  # rows-only (fast xxhash)
        "dedup_simhash": opdedup.dedup_simhash,
        "dedup_embedding_cosine": opsim.dedup_embedding_cosine,
        "ann_cosine_topk": opsim.ann_cosine_topk,
        "dedup_clusters": opgraph.dedup_clusters,
        "stream_event_rollup": strm.stream_event_rollup,
        "stream_dedup_events": strm.stream_dedup_events,
        "stream_session_window": strm.stream_session_window,
        "stream_join_view_purchase": strm_join.stream_join_view_purchase,
        "stream_enrich_purchases": strm_enrich.stream_enrich_purchases,
        "tfidf_top_terms": oprank.tfidf_top_terms,
        "inverted_index": opindex.inverted_index,
        "bigram_lm": oplm.bigram_lm,
        "doc_lm_score": oplm.doc_lm_score,
        "cms_user_counts": opsketch.cms_user_counts,
        "histogram_quantiles": opsketch.histogram_quantiles,
        "cohort_retention": ev.cohort_retention,
        "copurchase_topk": opbasket.copurchase_topk,
        "pagerank_parts": opbasket.pagerank_parts,
        "label_propagation_parts": opbasket.label_propagation_parts,
        "fuzzy_name_match": opfuzzy.fuzzy_name_match,
        "scd2_customer_orders": ana.scd2_customer_orders,
        "repetition_stats": opscrub.repetition_stats,
        "doc_chunking": opchunk.doc_chunking,
        "pack_sequences": opchunk.pack_sequences,
        "embedding_quantize": opquant.embedding_quantize,
        "vocab_top_words": opvocab.vocab_top_words,
        "doc_oov_rate": opvocab.doc_oov_rate,
        "session_window_stats": ev.session_window_stats,
        "lakehouse_cdf": mcdf.lakehouse_cdf,
        "dq_source_freshness": dqfresh.source_freshness,
        "scd2_snapshot_build": mcdf.scd2_snapshot_build,
        "kmeans_embeddings": opcluster.kmeans_embeddings,
        "bm25_topk": oprank.bm25_topk,
        "exact_substring_dedup": opsub.exact_substring_dedup,
        "doc_containment": optext.doc_containment,
        "triangle_count_parts": opbasket.triangle_count_parts,
        "corpus_mix_weights": opsample.corpus_mix_weights,
        "semantic_dedup_clusters": opgraph.semantic_dedup_clusters,
        "sketch_user_overlap": ev.sketch_user_overlap,
        "funnel_windowed": ev.funnel_windowed,
        "association_rules": opbasket.association_rules,
        "markov_transitions": ev.markov_transitions,
        "attribution_position": ev.attribution_position,
        "revenue_trend": mstats.revenue_trend,
        "revenue_seasonality": mstats.revenue_seasonality,
        "winsorized_revenue_stats": mstats.winsorized_revenue_stats,
        "customer_interpurchase": mstats.customer_interpurchase,
        "pareto_frontier_parts": mstats.pareto_frontier_parts,
        "doc_novelty_score": optext.doc_novelty_score,
        "source_length_profile": opcur.source_length_profile,
        "pricing_summary": ana.pricing_summary,
        "shipping_delay_stats": ana.shipping_delay_stats,
        "vocab_coverage": opvocab.vocab_coverage,
        "event_volume_anomaly": ev.event_volume_anomaly,
        "event_ctr_daily": ev.event_ctr_daily,
        "minhash_calibration": opdedup.minhash_calibration,
        "supplier_hhi": mstats.supplier_hhi,
        "part_price_quartiles": mstats.part_price_quartiles,
        "ann_recall_report": opsim.ann_recall_report,
        "ivm_mart_refresh": mcdf.ivm_mart_refresh,
        "basket_size_distribution": ana.basket_size_distribution,
        "returns_by_month": ana.returns_by_month,
        "discount_band_analysis": ana.discount_band_analysis,
        "trade_flows": ana.trade_flows,
        "late_order_priority": ana.late_order_priority,
        "customer_decile_revenue": mstats.customer_decile_revenue,
        "new_vs_returning_revenue": mstats.new_vs_returning_revenue,
        "tokenizer_fertility": optext.tokenizer_fertility,
        "markov_dwell": ev.markov_dwell,
        "kcore_parts": opbasket.kcore_parts,
        "pq_quantize": opcluster.pq_quantize,
        "wap_audited_ingest": mcdf.wap_audited_ingest,
        "skew_salted_revenue": ana.skew_salted_revenue,
        "stream_join_left_outer": strm_join.stream_join_left_outer,
        "stream_hopping_rollup": strm.stream_hopping_rollup,
        "lakehouse_zorder_prune": mcdf.lakehouse_zorder_prune,
        "stream_dedup_ingest": strm_ingest.stream_dedup_ingest,
        "lakehouse_schema_evolution": mcdf.lakehouse_schema_evolution,
        "lakehouse_restore_read": mcdf.lakehouse_restore_read,
        "quantile_sketch_mergeable": opsketch.quantile_sketch_mergeable,
        "stream_cluster_maintain": strm_ingest.stream_cluster_maintain,
        "stream_quantile_sketch": strm_sketch.stream_quantile_sketch,
        "exact_substring_sampled": opsub.exact_substring_sampled,
        "quality_threshold_sweep": opcur.quality_threshold_sweep,
        "dedup_source_overlap": opdedup.dedup_source_overlap,
        "watermark_lateness_audit": ev.watermark_lateness_audit,
        "lakehouse_clone_read": mcdf.lakehouse_clone_read,
        "paragraph_dedup_rewrite": optext.paragraph_dedup_rewrite,
        "boilerplate_ngrams": optext.boilerplate_ngrams,
        "cdc_latest_state": ev.cdc_latest_state,
        "stream_cdc_apply": strm_ingest.stream_cdc_apply,
        "shipping_priority_topk": ana.shipping_priority_topk,
        "large_volume_customers": ana.large_volume_customers,
        "local_supplier_volume": ana.local_supplier_volume,
        "promo_revenue_share": ana.promo_revenue_share,
        "customer_order_distribution": ana.customer_order_distribution,
        "small_quantity_revenue": ana.small_quantity_revenue,
        "idle_high_balance_customers": ana.idle_high_balance_customers,
        "top_supplier_revenue": ana.top_supplier_revenue,
        "stream_distinct_sketch": strm_sketch.stream_distinct_sketch,
        "stream_heavy_hitters": strm_sketch.stream_heavy_hitters,
        "part_supplier_diversity": ana.part_supplier_diversity,
        "disjunctive_band_revenue": ana.disjunctive_band_revenue,
        "lakehouse_rename_read": mcdf.lakehouse_rename_read,
        "lakehouse_optimize_read": mcdf.lakehouse_optimize_read,
        "lakehouse_snapshot_cut": mcdf.lakehouse_snapshot_cut,
        "lakehouse_deferred_delete": mcdf.lakehouse_deferred_delete,
        "hard_negative_mining": opsim.hard_negative_mining,
        "nearest_centroid_classify": opcluster.nearest_centroid_classify,
        "bpe_train_merges": opbpe.bpe_train_merges,
        "ann_topk_ivfpq": opcluster.ann_topk_ivfpq,
        "ann_index_maintain": strm_annidx.ann_index_maintain,
        "ann_topk_ivfpq_rerank": opcluster.ann_topk_ivfpq_rerank,
        "bpe_encode_stats": opbpe.bpe_encode_stats,
        "bpe_train_merges_batched": opbpe.bpe_train_merges_batched,
        "bpe_encode_stats_batched": opbpe.bpe_encode_stats_batched,
        "corpus_shuffle_shard": opsample.corpus_shuffle_shard,
        "attribution_time_decay": ev.attribution_time_decay,
        "word_cooccurrence_lift": opcolloc.word_cooccurrence_lift,
        "embedding_gram_matrix": opquant.embedding_gram_matrix,
        "bpe_merge_usage": opbpe.bpe_merge_usage,
        "lakehouse_vacuum_read": mcdf.lakehouse_vacuum_read,
        "embedding_centroid_drift": opquant.embedding_centroid_drift,
        "stream_gram_maintain": strm_sketch.stream_gram_maintain,
        "source_char_diversity": optext.source_char_diversity,
        "simhash_calibration": opdedup.simhash_calibration,
        "conversion_lag_distribution": ev.conversion_lag_distribution,
        "multimodal_dedup": opmm.multimodal_dedup,
        "text_language_id_ngram": optext.text_language_id_ngram,
        "waiting_supplier_ranking": ana.waiting_supplier_ranking,
        "min_cost_supplier_parts": ana.min_cost_supplier_parts,
        "returned_item_customers": ana.returned_item_customers,
        "nation_market_share": ana.nation_market_share,
        "product_profit_by_nation": ana.product_profit_by_nation,
        "doc_quality_classify": opcls.doc_quality_classify,
        "lm_score_source_mix": oplm.lm_score_source_mix,
        "pack_sequences_bfd": opchunk.pack_sequences_bfd,
        # round 14: the round-13 queue, registered per VERDICT r13 #1
        "pack_manifest_bfd": opchunk.pack_manifest_bfd,
        "doc_quality_calibration": opcls.doc_quality_calibration,
    }


def queries() -> dict[str, QueryFn]:
    """All query keys, DRIVER_WINDOW first (the driver-checked prefix).

    The reorder is structural so the window invariant can't silently
    drift again: DRIVER_WINDOW must be exactly DRIVER_WINDOW_SIZE unique
    existing keys, and every other key follows in stable order.
    """
    base = _all_queries()
    # Real raises, not assert: the driver may run under `python -O`,
    # which strips asserts — a drifted window must fail loudly there too
    # (the round-4 silent-drop failure mode).
    if len(DRIVER_WINDOW) != DRIVER_WINDOW_SIZE:
        raise ValueError(
            f"DRIVER_WINDOW has {len(DRIVER_WINDOW)} keys, want {DRIVER_WINDOW_SIZE}"
        )
    if len(set(DRIVER_WINDOW)) != len(DRIVER_WINDOW):
        raise ValueError("duplicate DRIVER_WINDOW key")
    missing = [k for k in DRIVER_WINDOW if k not in base]
    if missing:
        raise ValueError(f"DRIVER_WINDOW keys not implemented: {missing}")
    out = {k: base[k] for k in DRIVER_WINDOW}
    out.update((k, fn) for k, fn in base.items() if k not in out)
    return out


def oracle_sql() -> dict[str, str]:
    out = dict(oracle_sql_medallion())
    # Value-identical by construction (same mart over bucketed facts):
    # same oracle as the parquet-path gold_customer_summary.
    out["gold_customer_summary_bucketed"] = out["gold_customer_summary"]
    out["dq_generic_tests"] = dq.oracle_dq_generic_sql()
    out["dq_singular_tests"] = dq.oracle_dq_singular_sql()
    out["dq_failed_rows"] = dq.oracle_dq_failed_rows()
    out["event_daily_stats"] = assemble("event_daily_stats")
    out["event_sessionization"] = assemble("event_sessionization")
    out["text_token_stats"] = optext.oracle_text_token_stats()
    out["text_quality_score"] = optext.oracle_text_quality_score()
    out["text_language_id"] = optext.oracle_text_language_id()
    out["doc_fingerprint"] = optext.oracle_doc_fingerprint()
    out["dedup_exact"] = optext.oracle_dedup_exact()
    out["dedup_ngram_jaccard"] = optext.oracle_dedup_ngram_jaccard()
    out["text_pii_scrub"] = opscrub.oracle_text_pii_scrub()
    out["decontaminate"] = opscrub.oracle_decontaminate()
    # round 9: the incremental shape shares the batch oracle VERBATIM —
    # per-doc verdicts are independent, so the batch union equals the
    # single-pass computation
    out["decontaminate_incremental"] = opscrub.oracle_decontaminate()
    out["repetition_stats"] = opscrub.oracle_repetition_stats()
    out["doc_chunking"] = opchunk.oracle_doc_chunking()
    out["pack_sequences"] = opchunk.oracle_pack_sequences()
    out["embedding_quantize"] = opquant.oracle_embedding_quantize()
    out["vocab_top_words"] = opvocab.oracle_vocab_top_words()
    out["doc_oov_rate"] = opvocab.oracle_doc_oov_rate()
    out["session_window_stats"] = ev.oracle_session_window_stats()
    out["ann_cosine_topk"] = opsim.oracle_ann_cosine_topk()
    out["doc_winnowing"] = optext.oracle_doc_winnowing()
    out["corpus_curation"] = optext.oracle_corpus_curation()
    out["event_funnel"] = ev.ORACLE_EVENT_FUNNEL
    out["attribution_linear"] = ev.ORACLE_ATTRIBUTION_LINEAR
    out["event_path_topk"] = ev.ORACLE_EVENT_PATH_TOPK
    out["active_users_rolling"] = ev.ORACLE_ACTIVE_USERS_ROLLING
    out["corpus_weighted_sample"] = opsample.oracle_corpus_weighted_sample()
    out["corpus_weighted_reservoir"] = opsample.oracle_corpus_weighted_reservoir()
    out["asof_event_order"] = ev.ORACLE_ASOF_EVENT_ORDER
    out["hypertable_rollup"] = ev.ORACLE_HYPERTABLE_ROLLUP
    # round 6: md5-register HLL — registers and estimator are engine-
    # portable (literal ln tables), so the sketch gets a full value oracle
    out["sketch_distinct_users"] = ev.oracle_sketch_distinct_users()
    # round 6: the lakehouse engine (CREATE/MERGE/CDF) under the hash gate
    out["lakehouse_cdf"] = mcdf.oracle_lakehouse_cdf()
    # round 6: bronze.yml source-freshness parity under the hash gate
    out["dq_source_freshness"] = dqfresh.oracle_source_freshness()
    # round 6: the SCD2 snapshot BUILD (runner.snapshot) under the gate
    out["scd2_snapshot_build"] = mcdf.oracle_scd2_snapshot_build()
    # round 6b: integer-quantized deterministic k-means (order-free sums)
    out["kmeans_embeddings"] = opcluster.oracle_kmeans_embeddings()
    # round 6b: log-free BM25 (raw-ratio idf keeps both engines bit-equal)
    out["bm25_topk"] = oprank.oracle_bm25_topk()
    # round 6b: span-level exact dedup (windowed suffix-array substitute)
    out["exact_substring_dedup"] = opsub.oracle_exact_substring_dedup()
    # round 8: the winnowed sampled path at the fixed gate width
    out["exact_substring_sampled"] = opsub.oracle_exact_substring_sampled()
    # round 6b: Broder containment — the asymmetric screen Jaccard misses
    out["doc_containment"] = optext.oracle_doc_containment()
    # round 6b: degree-oriented triangles; naive-enumeration oracle proves
    # the oriented plan is output-equivalent
    out["triangle_count_parts"] = opbasket.oracle_triangle_count_parts()
    # round 6b: temperature-scaled source mixing (sqrt is IEEE-portable)
    out["corpus_mix_weights"] = opsample.oracle_corpus_mix_weights()
    # round 6b: semantic twin of dedup_clusters (one CC stage, two spaces)
    out["semantic_dedup_clusters"] = opgraph.oracle_semantic_dedup_clusters()
    # round 6b: HLL register merge (union/intersection across segments)
    out["sketch_user_overlap"] = ev.oracle_sketch_user_overlap()
    # round 6b: strictly-ordered windowed funnel (earliest-match chain)
    out["funnel_windowed"] = ev.oracle_funnel_windowed()
    # round 6c: basket rules + journey operators (exact-int ratios)
    out["association_rules"] = opbasket.oracle_association_rules()
    out["markov_transitions"] = ev.ORACLE_MARKOV_TRANSITIONS
    out["attribution_position"] = ev.ORACLE_ATTRIBUTION_POSITION
    # round 6c: statistical marts — exact-integer moments, one final
    # double division (OLS trend, weekday index, winsorized mean,
    # inter-purchase gaps, price/size skyline)
    out["revenue_trend"] = mstats.oracle_revenue_trend()
    out["revenue_seasonality"] = mstats.oracle_revenue_seasonality()
    out["winsorized_revenue_stats"] = mstats.oracle_winsorized_revenue_stats()
    out["customer_interpurchase"] = mstats.oracle_customer_interpurchase()
    out["pareto_frontier_parts"] = mstats.oracle_pareto_frontier_parts()
    # round 6c: corpus novelty (df==1 shingle share) + per-source robust
    # length profile (exact grouped median/MAD, value-grain windows)
    out["doc_novelty_score"] = optext.oracle_doc_novelty_score()
    out["source_length_profile"] = opcur.oracle_source_length_profile()
    # round 6c: TPC-H-classic marts + tokenizer-sizing curve
    out["pricing_summary"] = ana.ORACLE_PRICING_SUMMARY
    out["shipping_delay_stats"] = ana.ORACLE_SHIPPING_DELAY_STATS
    out["vocab_coverage"] = opvocab.oracle_vocab_coverage()
    # round 6c: robust daily-volume anomaly, funnel-rate KPIs, and the
    # minhash estimator-calibration report
    out["event_volume_anomaly"] = ev.ORACLE_EVENT_VOLUME_ANOMALY
    out["event_ctr_daily"] = ev.ORACLE_EVENT_CTR_DAILY
    out["minhash_calibration"] = opdedup.oracle_minhash_calibration()
    # round 6c: basis-point-quantized HHI + explicit-rank grouped quartiles
    out["supplier_hhi"] = mstats.oracle_supplier_hhi()
    out["part_price_quartiles"] = mstats.oracle_part_price_quartiles()
    # round 6c: LSH-ANN recall audit vs brute-force ground truth
    out["ann_recall_report"] = opsim.oracle_ann_recall_report()
    # round 6c: incremental view maintenance (CDF-driven mart refresh)
    # under the gate — oracle is the full agg over the final fact state
    out["ivm_mart_refresh"] = mcdf.oracle_ivm_mart_refresh()
    # round 6c: merchandising marts (basket histogram, returns, discounts)
    out["basket_size_distribution"] = ana.ORACLE_BASKET_SIZE_DISTRIBUTION
    out["returns_by_month"] = ana.ORACLE_RETURNS_BY_MONTH
    out["discount_band_analysis"] = ana.ORACLE_DISCOUNT_BAND_ANALYSIS
    # round 6c: TPC-H Q7/Q4-shape classics (flow matrix, EXISTS semi-join)
    out["trade_flows"] = ana.ORACLE_TRADE_FLOWS
    out["late_order_priority"] = ana.ORACLE_LATE_ORDER_PRIORITY
    # round 6c: revenue concentration deciles + growth accounting
    out["customer_decile_revenue"] = mstats.oracle_customer_decile_revenue()
    out["new_vs_returning_revenue"] = mstats.oracle_new_vs_returning_revenue()
    # round 6c: tokenizer fertility per corpus slice
    out["tokenizer_fertility"] = optext.oracle_tokenizer_fertility()
    # round 6c: transition dwell-time distribution (markov timing half)
    out["markov_dwell"] = ev.ORACLE_MARKOV_DWELL
    # round 6c: fixed-round k-core peel (unrolled-CTE oracle)
    out["kcore_parts"] = opbasket.oracle_kcore_parts()
    # round 6c: product quantization (integer Lloyd's per sub-space)
    out["pq_quantize"] = opcluster.oracle_pq_quantize()
    # round 6c: write-audit-publish under the gate (clean publishes,
    # dirty discards — oracle is the clean final state)
    out["wap_audited_ingest"] = mcdf.oracle_wap_audited_ingest()
    out["skew_salted_revenue"] = ana.ORACLE_SKEW_SALTED_REVENUE
    out["stream_join_left_outer"] = strm_join.ORACLE_STREAM_JOIN_LEFT_OUTER
    out["stream_hopping_rollup"] = strm.ORACLE_STREAM_HOPPING_ROLLUP
    # round 7: OPTIMIZE ZORDER consumer — 2-D pruned scan must equal
    # the plain filter (skip proof is construction-time: the key raises
    # if no file was skipped)
    out["lakehouse_zorder_prune"] = mcdf.oracle_lakehouse_zorder_prune()
    # round 7: the 3-batch streaming corpus-dedup pipeline replayed in
    # pure SQL (md5 minhash + banding + signature-agreement Jaccard)
    out["stream_dedup_ingest"] = strm_ingest.oracle_stream_dedup_ingest()
    # round 8: incremental cluster maintenance == from-scratch CC (the
    # maintenance invariant makes the recursive-CTE oracle valid)
    out["stream_cluster_maintain"] = strm_ingest.oracle_stream_cluster_maintain()
    # round 7: additive schema evolution (log-schema null-fill) and
    # RESTORE-read (metadata rollback) under the gate
    out["lakehouse_schema_evolution"] = mcdf.oracle_lakehouse_schema_evolution()
    out["lakehouse_restore_read"] = mcdf.oracle_lakehouse_restore_read()
    out["sales_by_region"] = ana.ORACLE_SALES_BY_REGION
    out["supplier_part_revenue"] = ana.ORACLE_SUPPLIER_PART_REVENUE
    out["range_join_promo_revenue"] = ana.ORACLE_RANGE_JOIN_PROMO_REVENUE
    out["sales_rollup"] = ana.ORACLE_SALES_ROLLUP
    out["payment_method_pivot"] = ana.oracle_payment_method_pivot()
    out["revenue_anomaly_zscore"] = assemble(
        "silver_orders", final_select=ana.ORACLE_REVENUE_ANOMALY_FINAL
    )
    out["top_parts_per_region"] = ana.ORACLE_TOP_PARTS_PER_REGION
    out["corpus_stratified_sample"] = opsample.oracle_corpus_stratified_sample()
    out["dataset_split"] = opcur.oracle_dataset_split()
    out["dataset_split_stats"] = opcur.oracle_dataset_split_stats()
    out["dedup_keep_best"] = opcur.oracle_dedup_keep_best()
    out["curation_funnel"] = opcur.oracle_curation_funnel()
    out["corpus_sample_per_stratum"] = opsample.oracle_corpus_sample_per_stratum()
    out["customer_order_percentiles"] = assemble(
        "silver_orders", final_select=ana.ORACLE_CUSTOMER_ORDER_PERCENTILES_FINAL
    )
    out["dedup_embedding_cosine"] = opsim.oracle_dedup_embedding_cosine()
    out["dedup_embedding_lsh"] = opsim.oracle_dedup_embedding_lsh()
    out["ann_topk_lsh"] = opsim.oracle_ann_topk_lsh()
    out["ann_topk_ivf"] = opsim.oracle_ann_topk_ivf()
    out["knn_graph"] = opsim.oracle_knn_graph()
    out["customer_ltv_running"] = ana.ORACLE_CUSTOMER_LTV_RUNNING
    out["revenue_date_spine"] = ana.ORACLE_REVENUE_DATE_SPINE
    out["dedup_clusters"] = opgraph.oracle_dedup_clusters()
    out["fuzzy_name_match"] = opfuzzy.oracle_fuzzy_name_match()
    out["tfidf_top_terms"] = oprank.oracle_tfidf_top_terms()
    out["inverted_index"] = opindex.oracle_inverted_index()
    out["gold_rfm_segmentation"] = assemble(
        "silver_orders", final_select=gold.ORACLE_GOLD_RFM_FINAL
    )
    out["bigram_lm"] = oplm.oracle_bigram_lm()
    out["doc_lm_score"] = oplm.oracle_doc_lm_score()
    # round 12: curation-ladder depth (classifier / mix report / packer)
    out["doc_quality_classify"] = opcls.oracle_doc_quality_classify()
    out["lm_score_source_mix"] = oplm.oracle_lm_score_source_mix()
    out["pack_sequences_bfd"] = opchunk.oracle_pack_sequences_bfd()
    # round 14: the round-13 queue, registered per VERDICT r13 #1
    out["pack_manifest_bfd"] = opchunk.oracle_pack_manifest_bfd()
    out["doc_quality_calibration"] = opcls.oracle_doc_quality_calibration()
    out["cms_user_counts"] = opsketch.oracle_cms_user_counts()
    out["churn_risk_score"] = assemble(
        "gold_customer_summary", final_select=gold.oracle_churn_final()
    )
    out["histogram_quantiles"] = opsketch.oracle_histogram_quantiles()
    # round 8: mergeable fixed-boundary quantile sketch (integer state)
    out["quantile_sketch_mergeable"] = opsketch.oracle_quantile_sketch_mergeable()
    # streaming sibling: the state algebra makes streamed == batch, so
    # the key shares the batch oracle verbatim (the state-maintenance gate)
    out["stream_quantile_sketch"] = opsketch.oracle_quantile_sketch_mergeable()
    out["cohort_retention"] = ev.ORACLE_COHORT_RETENTION
    out["copurchase_topk"] = opbasket.oracle_copurchase_topk()
    out["pagerank_parts"] = opbasket.oracle_pagerank_parts()
    out["label_propagation_parts"] = opbasket.oracle_label_propagation_parts()
    out["dedup_simhash"] = opdedup.oracle_dedup_simhash()
    out["dedup_minhash_md5"] = opdedup.oracle_dedup_minhash_md5()
    # round 8 (continuation): curation cutoff sweep + provenance rollup
    out["quality_threshold_sweep"] = opcur.oracle_quality_threshold_sweep()
    out["dedup_source_overlap"] = opdedup.oracle_dedup_source_overlap()
    out["watermark_lateness_audit"] = ev.oracle_watermark_lateness_audit()
    out["lakehouse_clone_read"] = mcdf.oracle_lakehouse_clone_read()
    # round 8 (session 3): paragraph-rewrite dedup + boilerplate n-grams
    out["paragraph_dedup_rewrite"] = optext.oracle_paragraph_dedup_rewrite()
    out["boilerplate_ngrams"] = optext.oracle_boilerplate_ngrams()
    # round 8 (session 3): CDC compaction — the streaming apply shares
    # the batch oracle verbatim (sequencing makes them equal by
    # construction, regardless of batch chopping)
    out["cdc_latest_state"] = ev.ORACLE_CDC_LATEST_STATE
    out["stream_cdc_apply"] = ev.ORACLE_CDC_LATEST_STATE
    # round 8 (session 3): TPC-H Q3/Q18/Q5/Q14-shape relational marts
    out["shipping_priority_topk"] = ana.ORACLE_SHIPPING_PRIORITY_TOPK
    out["large_volume_customers"] = ana.ORACLE_LARGE_VOLUME_CUSTOMERS
    out["local_supplier_volume"] = ana.ORACLE_LOCAL_SUPPLIER_VOLUME
    out["promo_revenue_share"] = ana.ORACLE_PROMO_REVENUE_SHARE
    # round 8 (session 4): TPC-H Q13/Q17/Q22/Q15-shape relational marts
    out["customer_order_distribution"] = ana.ORACLE_CUSTOMER_ORDER_DISTRIBUTION
    out["small_quantity_revenue"] = ana.ORACLE_SMALL_QUANTITY_REVENUE
    out["idle_high_balance_customers"] = ana.ORACLE_IDLE_HIGH_BALANCE_CUSTOMERS
    out["top_supplier_revenue"] = ana.ORACLE_TOP_SUPPLIER_REVENUE
    # round 8 (session 4): streaming HLL register maintenance — the
    # batch estimator oracle minus its exact-count column
    out["stream_distinct_sketch"] = ev.oracle_stream_distinct_sketch()
    # round 9: streaming CMS heavy hitters — the oracle restates the
    # per-batch candidate top-M AND the global CMS estimator in SQL
    out["stream_heavy_hitters"] = strm_sketch.oracle_stream_heavy_hitters()
    # round 8 (session 4): TPC-H Q16/Q19-shape relational marts
    out["part_supplier_diversity"] = ana.ORACLE_PART_SUPPLIER_DIVERSITY
    out["disjunctive_band_revenue"] = ana.ORACLE_DISJUNCTIVE_BAND_REVENUE
    # round 8 (session 4): column-mapping RENAME consumer
    out["lakehouse_rename_read"] = mcdf.oracle_lakehouse_rename_read()
    # round 9: incremental OPTIMIZE consumer + consistent cross-table cut
    out["lakehouse_optimize_read"] = mcdf.oracle_lakehouse_optimize_read()
    out["lakehouse_snapshot_cut"] = mcdf.oracle_lakehouse_snapshot_cut()
    # round 10: merge-on-read deferred deletes (the GDPR erasure path),
    # contrastive hard-negative mining, nearest-centroid classification,
    # and BPE merge training
    out["lakehouse_deferred_delete"] = mcdf.oracle_lakehouse_deferred_delete()
    out["hard_negative_mining"] = opsim.oracle_hard_negative_mining()
    out["nearest_centroid_classify"] = opcluster.oracle_nearest_centroid_classify()
    out["bpe_train_merges"] = opbpe.oracle_bpe_train_merges()
    out["ann_topk_ivfpq"] = opcluster.oracle_ann_topk_ivfpq()
    # round 11: persisted/streamed IVF-PQ index — frozen-codebook
    # encoding is pointwise, so the maintained index equals the
    # batch-built one and the key shares the batch oracle verbatim
    out["ann_index_maintain"] = opcluster.oracle_ann_topk_ivfpq()
    out["ann_topk_ivfpq_rerank"] = opcluster.oracle_ann_topk_ivfpq_rerank()
    out["bpe_encode_stats"] = opbpe.oracle_bpe_encode_stats()
    out["bpe_train_merges_batched"] = opbpe.oracle_bpe_train_merges_batched()
    out["bpe_encode_stats_batched"] = opbpe.oracle_bpe_encode_stats_batched()
    out["corpus_shuffle_shard"] = opsample.oracle_corpus_shuffle_shard()
    out["multimodal_dedup"] = opmm.oracle_multimodal_dedup()
    out["text_language_id_ngram"] = optext.oracle_text_language_id_ngram()
    # round 11 (session 2): time-decay attribution (exact power-of-two
    # integer weights), document-lift collocations, the integer Gram
    # matrix (PCA/whitening input), and the BPE merge-usage prune report
    out["attribution_time_decay"] = ev.ORACLE_ATTRIBUTION_TIME_DECAY
    out["word_cooccurrence_lift"] = opcolloc.oracle_word_cooccurrence_lift()
    out["embedding_gram_matrix"] = opquant.oracle_embedding_gram_matrix()
    out["bpe_merge_usage"] = opbpe.oracle_bpe_merge_usage()
    # round 11 (session 2): retention VACUUM under the gate (reclaim
    # proof + restore-refusal at construction, head reads pre/post
    # vacuum under one hash) and per-label centroid drift monitoring
    out["lakehouse_vacuum_read"] = mcdf.oracle_lakehouse_vacuum_read()
    out["embedding_centroid_drift"] = opquant.oracle_embedding_centroid_drift()
    # round 11 (session 2): streamed Gram maintenance — exact-bigint
    # cell commutativity makes the streamed state equal the batch
    # computation, so the key shares the batch oracle verbatim (the
    # stream_quantile_sketch contract); per-source Simpson diversity
    out["stream_gram_maintain"] = opquant.oracle_embedding_gram_matrix()
    out["source_char_diversity"] = optext.oracle_source_char_diversity()
    # round 11 (session 2): simhash hamming→Jaccard calibration (the
    # minhash_calibration twin, blocking replayed in the oracle) and
    # the first-touch conversion-lag report off the shared pairing
    out["simhash_calibration"] = opdedup.oracle_simhash_calibration()
    out["conversion_lag_distribution"] = ev.ORACLE_CONVERSION_LAG_DISTRIBUTION
    # round 9: Q21/Q2/Q10-shape marts — the oracles keep the textbook
    # correlated EXISTS / NOT EXISTS and correlated-min forms, so the
    # hash gate PROVES the Spark-side agg rewrite / decorrelation
    out["waiting_supplier_ranking"] = ana.ORACLE_WAITING_SUPPLIER_RANKING
    out["min_cost_supplier_parts"] = ana.ORACLE_MIN_COST_SUPPLIER_PARTS
    out["returned_item_customers"] = ana.ORACLE_RETURNED_ITEM_CUSTOMERS
    out["nation_market_share"] = ana.ORACLE_NATION_MARKET_SHARE
    out["product_profit_by_nation"] = ana.ORACLE_PRODUCT_PROFIT_BY_NATION
    out["dedup_incremental"] = opdedup.oracle_dedup_incremental()
    out["scd2_customer_orders"] = ana.ORACLE_SCD2_CUSTOMER_ORDERS
    out["stream_event_rollup"] = strm.oracle_stream_event_rollup()
    out["stream_dedup_events"] = strm.ORACLE_STREAM_DEDUP_EVENTS
    # complete-mode drain == the batch session_window result
    out["stream_session_window"] = ev.oracle_session_window_stats()
    out["multimodal_extract"] = opmm.oracle_multimodal_extract()
    out["multimodal_frame_sample"] = opmm.oracle_multimodal_frame_sample()
    out["stream_sessionize"] = strm_sessions.oracle_stream_sessionize()
    out["stream_join_view_purchase"] = strm_join.ORACLE_STREAM_JOIN_VIEW_PURCHASE
    out["stream_enrich_purchases"] = strm_enrich.ORACLE_STREAM_ENRICH_PURCHASES
    # dedup_minhash_lsh: rows-only (the xxhash64 fast path DuckDB can't
    # compute; its md5 twin dedup_minhash_md5 carries the value oracle)
    return out

#!/usr/bin/env python
"""Scale-linearity probe: heavy keys at sf0.1 vs a synthesized ~sf1.

The driver ships testdata up to sf0.1; quadratics have historically only
become visible at the next decade (knn_graph's first LSH family looked
fine at sf0.01 and measured quadratic at sf0.1 — SURVEY §2 34g). This
probe synthesizes a 10x corpus from sf0.1 and reports per-key scaling
ratios: at fixed cores, a scan/shuffle-linear key should land near ~10x
wall-clock (modulo fixed overheads); >>10x flags super-linear work.

Synthesis (NOT driver data — probe only, lives in .scratch/, gitignored):
- customer/orders/lineitem: 10 replicas with disjoint shifted key spaces
  (FK structure preserved: o_custkey and l_orderkey shift together).
- documents: shifted doc_id; every word token gets a per-replica suffix,
  so within-replica near-dup structure is preserved exactly (token-level
  bijection) while replicas share zero n-grams — naive replication would
  make every doc a 10-clique of near-dups (pairs x45, clusters x10 size),
  a workload no true sf1 corpus has. n_chars recomputed.
- embeddings: shifted vec_id; each replica applies an isometry (cyclic
  dim rotation + sign-flip pattern): within-replica cosine geometry is
  EXACTLY preserved, replicas are decorrelated, density grows 10x in the
  same space — which is what a real 10x corpus does to LSH buckets.
- events: shifted event_id and a DISJOINT user keyspace per replica
  (user_id + k*K_USER), timestamps untouched — a 10x event stream has
  10x users in the SAME time range, so watermark frontiers, window
  counts per user, and session shapes are preserved per replica while
  hourly volume grows 10x (round-9, for the streaming-key probes).
- region/nation/part/supplier copied verbatim (dimension-like).

Timing includes DataFrame construction (iterative keys do checkpointed
work there); each key is min-of-2. Output: one JSON line with per-key
seconds at both SFs and the ratio.

MEASUREMENT CAVEAT: one long Spark session accumulates localCheckpoint
blocks and GC pressure that can inflate LATE keys severalfold (round-6
run: knn_graph read 36.8 s mid-session vs 5.1 s in a fresh session).
Re-measure any outlier in a fresh session (set PROBE_KEYS to just that
key) before believing it — the published SURVEY §6 table did exactly
that for knn_graph and the two iterative CC keys.
"""

from __future__ import annotations

import json
import os
import shutil
import time

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR", os.path.join(os.path.dirname(__file__), ".scratch", "sf1")
)
REPLICAS = 10

# disjoint id strides (above sf0.1 maxima: custkey 15k, orderkey 150k,
# doc_id 5k, vec_id 2k)
K_CUST = 1_000_000
K_ORD = 10_000_000
K_DOC = 1_000_000
K_VEC = 1_000_000
K_USER = 1_000_000
K_EVT = 100_000_000

PROBE_KEYS = [
    # medallion marts (fact scans + the dominant payments join)
    "silver_payments",
    "gold_customer_summary",
    "gold_order_metrics",
    "gold_revenue_analysis",
    # documents family
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_keep_best",
    "tfidf_top_terms",
    "decontaminate",
    # embeddings family (fixed LSH family: occupancy grows with corpus)
    "knn_graph",
    # round-6b operators
    "exact_substring_dedup",
    "doc_containment",
    "triangle_count_parts",
    "kmeans_embeddings",
    # round-6c operators (events-based 6c keys are excluded: the probe
    # does not scale events.parquet)
    "association_rules",
    "doc_novelty_score",
    "winsorized_revenue_stats",
    "shipping_delay_stats",
    "kcore_parts",
    "pq_quantize",
    "minhash_calibration",
    # round-7 operators (construction-timed engine pipelines)
    "lakehouse_zorder_prune",
    "stream_dedup_ingest",
    # round-8 probes: the r7-certified heavy engine keys the §6 table
    # lacked (VERDICT r7 #7), plus the two new round-8 keys
    "ivm_mart_refresh",
    "wap_audited_ingest",
    "lakehouse_schema_evolution",
    "lakehouse_restore_read",
    "stream_cluster_maintain",
    "quantile_sketch_mergeable",
    # round-8 continuation keys
    "quality_threshold_sweep",
    "dedup_source_overlap",
    "lakehouse_clone_read",
    # round-8 session-3 keys
    "paragraph_dedup_rewrite",
    "boilerplate_ngrams",
    "shipping_priority_topk",
    "large_volume_customers",
    "local_supplier_volume",
    "promo_revenue_share",
    # round-8 session-4 keys
    "customer_order_distribution",
    "small_quantity_revenue",
    "idle_high_balance_customers",
    "top_supplier_revenue",
    "part_supplier_diversity",
    "disjunctive_band_revenue",
    "lakehouse_rename_read",
    # round 9: events.parquet is now scaled (disjoint user keyspaces),
    # so the two streaming keys VERDICT r8 flagged as unprobed get
    # ratio rows, plus the cdc pair and the round-9 lakehouse keys
    "watermark_lateness_audit",
    "stream_distinct_sketch",
    "cdc_latest_state",
    "stream_cdc_apply",
    "lakehouse_optimize_read",
    "lakehouse_snapshot_cut",
    "waiting_supplier_ranking",
    "min_cost_supplier_parts",
    "returned_item_customers",
    "stream_heavy_hitters",
    "nation_market_share",
    "product_profit_by_nation",
    "decontaminate_incremental",
    "label_propagation_parts",
    # round 10: merge-on-read deferred-delete gate (construction-timed:
    # CREATE → O(keys) tombstone commit → three tagged reads + rewrite),
    # plus the contrastive/classification/tokenizer-training trio
    "lakehouse_deferred_delete",
    "hard_negative_mining",
    "nearest_centroid_classify",
    "bpe_train_merges",
    "ann_topk_ivfpq",
    "bpe_encode_stats",
    # round 11: persisted ANN index (construction-timed: bootstrap +
    # 3 MERGE micro-batches + served search), the rerank stage, the
    # batched BPE trainer, media signature dedup, n-gram language ID
    "ann_index_maintain",
    "ann_topk_ivfpq_rerank",
    "bpe_train_merges_batched",
    "multimodal_dedup",
    "text_language_id_ngram",
    "bpe_encode_stats_batched",
    "corpus_shuffle_shard",
    # round 13 queue, registered round 14 (found via queries() now)
    "pack_manifest_bfd",
    "doc_quality_calibration",
]
# env override for single-key fresh-session re-measurement (see caveat)
if os.environ.get("SPARK_GRAFT_PROBE_KEYS"):
    PROBE_KEYS = os.environ["SPARK_GRAFT_PROBE_KEYS"].split(",")


def build_scale_dir(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(SCRATCH, "_SUCCESS_ALL_v2")):
        return
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)

    def write(df, name):
        df.write.mode("overwrite").parquet(os.path.join(SCRATCH, f"{name}.parquet"))

    def rep(name, fn):
        base = spark.read.parquet(os.path.join(SF01, f"{name}.parquet"))
        out = None
        for k in range(REPLICAS):
            d = fn(base, k)
            out = d if out is None else out.unionByName(d)
        write(out, name)

    rep(
        "customer",
        lambda df, k: df.withColumn("c_custkey", F.col("c_custkey") + k * K_CUST),
    )
    rep(
        "orders",
        lambda df, k: df.withColumn("o_orderkey", F.col("o_orderkey") + k * K_ORD)
        .withColumn("o_custkey", F.col("o_custkey") + k * K_CUST),
    )
    rep(
        "lineitem",
        lambda df, k: df.withColumn("l_orderkey", F.col("l_orderkey") + k * K_ORD),
    )

    def doc_rep(df, k):
        df = df.withColumn("doc_id", F.col("doc_id") + k * K_DOC)
        if k:
            # token-level bijection: 'foo bar' -> 'fooxk barxk'
            df = df.withColumn(
                "text", F.regexp_replace("text", r"(\w+)", f"$1x{k}")
            ).withColumn("n_chars", F.length("text"))
        return df

    rep("documents", doc_rep)

    def emb_rep(df, k):
        df = df.withColumn("vec_id", F.col("vec_id") + k * K_VEC)
        if k:
            # isometry: rotate dims by k, flip signs by k's bit pattern
            df = df.withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, (x, i) -> cast("
                    f"element_at(embedding, ((i + {k}) % 64) + 1) * "
                    f"(1 - 2 * (shiftright({k}, i % 4) % 2)) as float))"
                ),
            )
        return df

    rep("embeddings", emb_rep)

    rep(
        "events",
        lambda df, k: df.withColumn("event_id", F.col("event_id") + k * K_EVT)
        .withColumn("user_id", F.col("user_id") + k * K_USER),
    )

    for name in ("region", "nation", "part", "supplier"):
        shutil.copy(
            os.path.join(SF01, f"{name}.parquet"),
            os.path.join(SCRATCH, f"{name}.parquet"),
        )
    open(os.path.join(SCRATCH, "_SUCCESS_ALL_v2"), "w").close()


def main() -> None:
    from ecommerce_dbt_medallion_spark.session import get_spark
    from ecommerce_dbt_medallion_spark import api

    spark = get_spark("medallion-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    build_scale_dir(spark)
    build_s = time.perf_counter() - t0

    queries = api.queries()
    out: dict[str, dict] = {}
    for name in PROBE_KEYS:
        row: dict[str, float | str] = {}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SCRATCH)):
            best = float("inf")
            try:
                for _ in range(2):
                    t = time.perf_counter()
                    df = queries[name](spark, sf_dir)
                    df.write.mode("overwrite").format("noop").save()
                    best = min(best, time.perf_counter() - t)
                row[label] = round(best, 2)
            except Exception as exc:  # noqa: BLE001
                row[label] = f"{type(exc).__name__}: {exc}"[:160]
        if isinstance(row.get("sf0.1"), float) and isinstance(row.get("sf1"), float):
            row["ratio"] = round(row["sf1"] / max(row["sf0.1"], 1e-9), 1)
        out[name] = row
    print(json.dumps({"build_sec": round(build_s, 1), "keys": out}))
    spark.stop()


if __name__ == "__main__":
    main()

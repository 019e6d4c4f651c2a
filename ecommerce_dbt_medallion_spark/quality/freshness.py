"""Source freshness checks (reference: models/bronze/bronze.yml:10-13 —
warn_after 24h, error_after 48h on the raw_ecommerce source).

dbt computes ``max(loaded_at)`` per source and compares against now();
here the reference point is explicit (deterministic), defaulting to the
engine batch timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.config import BATCH_TS
from ecommerce_dbt_medallion_spark.sources import mapping

WARN_AFTER_HOURS = 24
ERROR_AFTER_HOURS = 48

# loaded-at column per raw source: raw_orders carries one from the feed;
# the other two are stamped at ingest (bronze adds BATCH_TS) so their
# freshness is measured on created_at / payment_date event times.
_SOURCES = {
    "raw_customers": ("created_at", mapping.raw_customers),
    "raw_orders": ("_loaded_at", mapping.raw_orders),
    # unkeyed variant: the freshness probe only reads max(payment_date),
    # so skip the per-(order,line) payment-id row_number window (a full
    # shuffle+sort of the biggest fact) that the keyed builder pays for.
    "raw_payments": ("payment_date", mapping.raw_payments_unkeyed),
}


def source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per source: max loaded/event ts, age hours at BATCH_TS,
    status.

    Round 6: driver-gated as ``dq_source_freshness`` — age_hours is the
    UNROUNDED integer-seconds/3600 double (one IEEE division, engine-
    identical; ``round(x, 2)`` was dropped because Spark HALF_UP and
    DuckDB rounding can disagree on exact half-hundredths, which
    second-granularity ages do hit), and max_loaded_at is cast to
    timestamp explicitly so date-typed event columns unify identically
    on both engines.
    """
    out = None
    for name, (col, builder) in _SOURCES.items():
        df = builder(spark, sf_dir).agg(
            F.max(col).cast("timestamp").alias("max_loaded_at")
        )
        age_h = (
            F.unix_timestamp(F.lit(BATCH_TS).cast("timestamp"))
            - F.unix_timestamp(F.col("max_loaded_at"))
        ) / 3600.0
        row = df.select(
            F.lit(name).alias("source_name"),
            "max_loaded_at",
            age_h.alias("age_hours"),
            F.when(age_h > ERROR_AFTER_HOURS, "error")
            .when(age_h > WARN_AFTER_HOURS, "warn")
            .otherwise("pass")
            .alias("freshness_status"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def oracle_source_freshness() -> str:
    """DuckDB twin of :func:`source_freshness` (epoch seconds via
    ``epoch_us // 1_000_000`` — all source timestamps are whole
    seconds, so floor-seconds agree with Spark's unix_timestamp)."""
    from ecommerce_dbt_medallion_spark.oracle.medallion import assemble_many

    probes = {
        "raw_customers": "created_at",
        "raw_orders": "_loaded_at",
        "raw_payments": "payment_date",
    }
    rows = "\nunion all\n".join(
        f"select '{name}' as source_name, "
        f"cast(max({col}) as timestamp) as max_loaded_at from {name}"
        for name, col in probes.items()
    )
    final = f"""
, fr as (
{rows}
)
select source_name, max_loaded_at,
    (epoch_us(cast(TIMESTAMP '{BATCH_TS}' as timestamp)) // 1000000
     - epoch_us(max_loaded_at) // 1000000) / 3600.0 as age_hours,
    case
        when (epoch_us(cast(TIMESTAMP '{BATCH_TS}' as timestamp)) // 1000000
              - epoch_us(max_loaded_at) // 1000000) / 3600.0 > {ERROR_AFTER_HOURS}
            then 'error'
        when (epoch_us(cast(TIMESTAMP '{BATCH_TS}' as timestamp)) // 1000000
              - epoch_us(max_loaded_at) // 1000000) / 3600.0 > {WARN_AFTER_HOURS}
            then 'warn'
        else 'pass'
    end as freshness_status
from fr
"""
    return assemble_many(list(probes), final)

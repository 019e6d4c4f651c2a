"""Event-stream analytics (batch side).

The reference tags its models 'daily' (a batch cadence over an event-ish
orders feed); this module generalizes to the driver's ``events`` table:
per-day rollups and gap-based sessionization — the canonical
web-analytics operators a medallion warehouse serves.

Scale notes: daily stats is one shuffle on (date, event_type);
sessionization is one shuffle on user_id (window partition), with the
gap flag + running sum computed inside the partition — the standard
scale-out sessionization plan (no driver loops, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.config import SESSION_GAP_SECONDS
from ecommerce_dbt_medallion_spark.sources.registry import load_events_table, load_table


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with ``ts`` normalized to a true TIMESTAMP.

    The parquet encoding of ``ts`` has varied across driver testdata
    generations (TIMESTAMP(NANOS)-as-long, then naive timestamp[us] →
    TIMESTAMP_NTZ); ``sources.registry`` owns that mapping."""
    return load_events_table(spark, sf_dir)


def event_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_date, event_type): volume, users, value stats.

    Exercises JSON extraction (props) and exact-decimal value sums.
    """
    from ecommerce_dbt_medallion_spark.sources.registry import event_utc_date

    ev = load_events(spark, sf_dir)
    val = F.col("value").cast("decimal(18,2)")  # values are 2dp (verified)
    return (
        # event_utc_date, not ts.cast("date"): the oracle's naive-as-UTC
        # read makes the UTC day the contract, and a session-TZ cast
        # would diverge from it in non-UTC sessions
        ev.groupBy(
            event_utc_date().alias("event_date"),
            "event_type",
        )
        .agg(
            F.count("event_id").alias("n_events"),
            F.countDistinct("user_id").alias("unique_users"),
            F.sum(val).alias("total_value_dec"),
            F.max(val).alias("max_dec"),
            F.min(val).alias("min_dec"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_props_k"),
        )
        .select(
            "event_date",
            "event_type",
            "n_events",
            "unique_users",
            F.col("total_value_dec").cast("double").alias("total_value"),
            (F.col("total_value_dec").cast("double") / F.col("n_events")).alias("avg_value"),
            F.col("max_dec").cast("double").alias("max_value"),
            F.col("min_dec").cast("double").alias("min_value"),
            F.col("sum_props_k").cast("long").alias("sum_props_k"),
        )
    )


def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user (lag + running flag-sum).

    Deterministic ordering: (ts, event_id) — duplicate timestamps break
    ties by event id on both engines. Gap math in integer microseconds
    (unix_micros / epoch_us) — exact on both engines.
    """
    ev = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").cast("decimal(18,2)").alias("val_dec"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    prev = F.lag("ts_us").over(w)
    new_session = F.when(prev.isNull() | ((F.col("ts_us") - prev) > gap_us), 1).otherwise(0)
    sessions = ev.withColumn(
        "session_seq",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("event_id").alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
            F.sum("val_dec").alias("val_sum_dec"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
        .select(
            "user_id",
            "session_seq",
            "session_start",
            "session_end",
            F.expr("(end_us - start_us) div 1000000").cast("long").alias("duration_sec"),
            "n_events",
            "n_event_types",
            F.col("val_sum_dec").cast("double").alias("total_value"),
        )
    )


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup → view → purchase funnel per user: first-touch timestamps
    and ordered-conversion flags (classic event analytics; one shuffle
    on user_id)."""
    ev = load_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
    )
    return per_user.select(
        "user_id",
        "first_signup",
        "first_view",
        "first_purchase",
        "n_purchases",
        (
            F.col("first_signup").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") > F.col("first_signup"))
        ).alias("converted_after_signup"),
    )


ORACLE_EVENT_FUNNEL = """
select
    user_id,
    min(case when event_type = 'signup' then ts end) as first_signup,
    min(case when event_type = 'view' then ts end) as first_view,
    min(case when event_type = 'purchase' then ts end) as first_purchase,
    count(case when event_type = 'purchase' then 1 end) as n_purchases,
    (min(case when event_type = 'signup' then ts end) is not null
     and min(case when event_type = 'purchase' then ts end) is not null
     and min(case when event_type = 'purchase' then ts end)
         > min(case when event_type = 'signup' then ts end)) as converted_after_signup
from events
group by user_id
"""


def asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: attribute each event to the user's most
    recent order at-or-before the event time.

    Spark has no ASOF JOIN; the scalable formulation is the union-sort
    trick: tag orders and events, sort per user by time (orders first on
    ties so equality matches), and carry the latest order forward with
    last(..., ignorenulls) over an unbounded-preceding window — one
    shuffle on user, no range-explosion. Orders are deduplicated to the
    latest order id per (user, day) so the match is deterministic on both
    engines (DuckDB's native ASOF JOIN is the oracle).
    """
    orders = load_table(spark, sf_dir, "orders")
    orders_d = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
        .agg(F.max("o_orderkey").alias("order_id"))
    )
    o_rows = orders_d.select(
        "user_id",
        # unix_date * 86_400e6, NOT unix_micros(cast to timestamp): the
        # cast renders midnight in the SESSION timezone, shifting t_us
        # under a non-UTC driver session while the DuckDB oracle stays
        # naive-UTC (round-7 review; same class as the DQ timestamp
        # rendering fix). unix_date is timezone-independent.
        (F.unix_date(F.col("order_date")).cast("long") * F.lit(86_400_000_000)).alias("t_us"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        "order_id",
        "order_date",
    )
    e_rows = load_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None).cast("long").alias("order_id"),
        F.lit(None).cast("date").alias("order_date"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = o_rows.unionByName(e_rows).select(
        "*",
        F.last(F.when(F.col("is_event") == 0, F.col("order_id")), ignorenulls=True)
        .over(w)
        .alias("last_order_id"),
        F.last(F.when(F.col("is_event") == 0, F.col("order_date")), ignorenulls=True)
        .over(w)
        .alias("last_order_date"),
    )
    return tagged.where(F.col("is_event") == 1).select(
        "event_id",
        "user_id",
        "ts",
        "last_order_id",
        "last_order_date",
        F.datediff(F.col("ts").cast("date"), F.col("last_order_date"))
        .cast("long")
        .alias("days_since_order"),
    )


ORACLE_ASOF_EVENT_ORDER = """
with orders_d as (
    select o_custkey as user_id, cast(o_orderdate as date) as order_date,
           max(o_orderkey) as order_id
    from orders group by 1, 2
)
select
    e.event_id,
    e.user_id,
    e.ts,
    o.order_id as last_order_id,
    o.order_date as last_order_date,
    cast(date_diff('day', o.order_date, cast(e.ts as date)) as bigint) as days_since_order
from events e
asof left join orders_d o
    on o.user_id = e.user_id and cast(o.order_date as timestamp) <= e.ts
"""


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: cascading hour → day →
    month rollups where each coarser resolution is computed FROM the
    next finer one (the TimescaleDB continuous-aggregate shape — at
    100 TB the hourly layer is the only scan of raw events; daily and
    monthly re-aggregate a table thousands of times smaller).

    One unioned result with a ``resolution`` column; decimal sums make
    the cascade exactly associative (hour sums == day sums == month
    sums), which the oracle verifies value-for-value.

    TZ note: the day/month CASCADE labels use date_trunc in the session
    timezone — run rollups in the repo's pinned UTC sessions
    (session.get_spark) for calendar-aligned labels.
    """
    ev = load_events(spark, sf_dir)
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("val_dec"),
        )
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("bucket")).alias("bucket"), "event_type"
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("val_dec").alias("val_dec"))
    )
    monthly = (
        daily.groupBy(
            F.date_trunc("month", F.col("bucket")).alias("bucket"), "event_type"
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("val_dec").alias("val_dec"))
    )

    def finish(df: DataFrame, res: str) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution"),
            "bucket",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("val_dec").cast("double").alias("total_value"),
        )

    return (
        finish(hourly, "hour")
        .unionByName(finish(daily, "day"))
        .unionByName(finish(monthly, "month"))
    )


ORACLE_HYPERTABLE_ROLLUP = """
with hourly as (
    select date_trunc('hour', ts) as bucket, event_type,
           count(event_id) as n_events,
           sum(cast(value as decimal(18,2))) as val_dec
    from events group by 1, 2
),
daily as (
    select date_trunc('day', bucket) as bucket, event_type,
           sum(n_events) as n_events, sum(val_dec) as val_dec
    from hourly group by 1, 2
),
monthly as (
    select date_trunc('month', bucket) as bucket, event_type,
           sum(n_events) as n_events, sum(val_dec) as val_dec
    from daily group by 1, 2
)
select 'hour' as resolution, bucket, event_type,
       cast(n_events as bigint) as n_events, cast(val_dec as double) as total_value from hourly
union all
select 'day', bucket, event_type, cast(n_events as bigint), cast(val_dec as double) from daily
union all
select 'month', bucket, event_type, cast(n_events as bigint), cast(val_dec as double) from monthly
"""


# --- engine-portable HyperLogLog (sketch_distinct_users) ----------------
#
# Register counts are hex-aligned (m = 16^k) so the bucket is a raw md5
# prefix STRING — the cms_user_counts trick (ops/sketch.py): both engines
# compute identical buckets with zero hex→int conversion. rho (first-1-bit
# position of the 64-bit hex suffix) is derived from the leading-zero
# nibble run via regexp_replace('^0*') — Java and RE2 agree — plus a
# 16-way nibble CASE. All register math is exact integers; the harmonic
# sum is computed SCALED by 2^65 (2^(65-rho) is a power of two, exactly
# representable as a double, cast to decimal(38,0) → order-independent
# exact sum). The only float ops are one literal/double division (IEEE-
# deterministic) and the linear-counting correction m·ln(m/V), which is
# looked up from a PYTHON-computed literal table embedded in both plans —
# measured: Spark's JVM ln() and DuckDB's libm ln() differ in the last
# ulp on 81/600 probed inputs, so native ln would break hash parity.

_HLL_PRECISIONS = (4, 8, 12)  # bucket bits; m = 16, 256, 4096
_HLL_SALT = "#hll"
_HLL_TWO65 = "36893488147419103232"  # 2^65, exceeds bigint → string literal


def _hll_alpha(m: int) -> float:
    # Flajolet et al. bias constants.
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))


def _hll_ln_table(m: int) -> list[float]:
    """Linear-counting table: entry V (1-based) = m * ln(m / V)."""
    import math

    return [m * math.log(m / v) for v in range(1, m + 1)]


def _hll_est_params(p: int) -> tuple[int, float, float]:
    """(m, raw-estimate numerator alpha·m²·2^65, correction threshold 2.5m)."""
    m = 16 ** (p // 4)
    return m, _hll_alpha(m) * m * m * float(2**65), 2.5 * m



def _hll_bucket_rho(p: int):
    """(bucket, rho) Columns of the engine-portable md5 HLL family at
    precision ``p`` over ``user_id`` — ONE definition shared by
    sketch_distinct_users and sketch_user_overlap (and restated
    verbatim in both oracles): the mergeability/portability argument
    only holds while every sketch uses identical salted hashes and rho
    extraction (round-7 review)."""
    bchars = p // 4
    h = F.md5(F.concat(F.col("user_id").cast("string"), F.lit(f"{_HLL_SALT}{p}")))
    rem = F.regexp_replace(F.substring(h, bchars + 1, 16), "^0*", "")
    first = F.substring(rem, 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = ((F.lit(16) - F.length(rem)) * 4 + extra + 1).cast("int")  # empty rem -> 65
    return F.substring(h, 1, bchars), rho


def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based cardinality: HyperLogLog approximate distinct users
    per event_type at three precisions (m=16/256/4096 registers,
    rsd ≈ 26% / 6.5% / 1.6%), alongside the exact count.

    At 100 TB the exact distinct is the expensive path (shuffle of every
    (type, user) pair); the HLL register state is fixed-size and
    mergeable — map-side partial max() per (type, precision, bucket)
    means the shuffle carries at most types × 4368 register rows
    regardless of input size. The estimator is engine-portable (see
    module comment), so this key carries a full DuckDB value oracle;
    error bounds vs the exact count are additionally pinned in
    tests/test_ops.py.
    """
    ev = (
        load_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    wide = hll_estimates_from_regs(hll_register_state(ev))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(wide, "event_type").select(
        "event_type", "exact_users", "est_m16", "est_m256", "est_m4096"
    )


def hll_register_state(ev: DataFrame) -> DataFrame:
    """HLL register state rows (event_type, p, bucket, reg) over
    (event_type, user_id) input — the fixed-size MERGEABLE state: two
    states over disjoint (or overlapping!) inputs merge by
    max(reg) per (event_type, p, bucket), which is what makes the
    estimator shard-, partition- and micro-batch-invariant (the
    streaming sibling relies on exactly this algebra)."""
    structs = []
    for p in _HLL_PRECISIONS:
        bucket, rho = _hll_bucket_rho(p)
        structs.append(
            F.struct(
                F.lit(p).alias("p"),
                bucket.alias("bucket"),
                rho.alias("rho"),
            )
        )
    return (
        ev.select("event_type", F.explode(F.array(*structs)).alias("s"))
        .select("event_type", "s.p", "s.bucket", "s.rho")
        .groupBy("event_type", "p", "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimates_from_regs(regs: DataFrame) -> DataFrame:
    """Estimates (event_type, est_m16, est_m256, est_m4096) from
    register-state rows — state-only compute, never the fact."""
    # 2^(65-reg) is a power of two — exact as double, exact after the
    # decimal cast; the scaled harmonic sum is order-independent.
    two65 = F.expr(f"cast('{_HLL_TWO65}' as decimal(38,0))")
    per_p = regs.groupBy("event_type", "p").agg(
        F.count("*").alias("n_present"),
        F.sum(
            F.pow(F.lit(2.0), (F.lit(65) - F.col("reg")).cast("double")).cast(
                "decimal(38,0)"
            )
        ).alias("sum_scaled"),
    )
    est = None
    for p in _HLL_PRECISIONS:
        m, raw_num, thresh = _hll_est_params(p)
        v = F.lit(m) - F.col("n_present")  # empty registers
        harmonic = F.col("sum_scaled") + v.cast("decimal(38,0)") * two65
        raw = F.lit(raw_num) / harmonic.cast("double")
        corrected = F.when(
            (raw <= F.lit(thresh)) & (v > 0),
            F.element_at(F.lit(_hll_ln_table(m)), v.cast("int")),
        ).otherwise(raw)
        est = (est if est is not None else F.when(F.lit(False), None)).when(
            F.col("p") == p, corrected
        )
    return (
        per_p.withColumn("est", est)
        .groupBy("event_type")
        .agg(
            *[
                F.max(F.when(F.col("p") == p, F.col("est"))).alias(
                    f"est_m{16 ** (p // 4)}"
                )
                for p in _HLL_PRECISIONS
            ]
        )
    )


def oracle_sketch_distinct_users() -> str:
    """DuckDB twin: same salted hashes, same registers, same literal
    tables — value-identical estimates (see module comment)."""
    est_cases = []
    for p in _HLL_PRECISIONS:
        m, raw_num, thresh = _hll_est_params(p)
        # scientific notation: DuckDB parses plain decimal-point literals
        # as DECIMAL (ulp loss on the double cast); 'e' literals are DOUBLE
        table = ", ".join(f"{x:.17e}" for x in _hll_ln_table(m))
        raw = (
            f"{raw_num!r} / cast(sum_scaled + (({m} - n_present) * "
            f"cast('{_HLL_TWO65}' as decimal(38,0))) as double)"
        )
        est_cases.append(
            f"when p = {p} then case when ({raw}) <= {thresh!r} "
            f"and {m} - n_present > 0 "
            f"then ([{table}])[cast({m} - n_present as int)] "
            f"else ({raw}) end"
        )
    cases = "\n        ".join(est_cases)
    return f"""
with ev as (
    select event_type, user_id from events where user_id is not null
),
pr as (select unnest([{', '.join(str(p) for p in _HLL_PRECISIONS)}]) as p),
rr as (
    select e.event_type, p.p,
        substr(md5(cast(e.user_id as varchar) || '{_HLL_SALT}' || cast(p.p as varchar)),
               1, p.p // 4) as bucket,
        regexp_replace(
            substr(md5(cast(e.user_id as varchar) || '{_HLL_SALT}' || cast(p.p as varchar)),
                   p.p // 4 + 1, 16), '^0*', '') as rem
    from ev e cross join pr p
),
rho as (
    select event_type, p, bucket,
        (16 - length(rem)) * 4 +
        case when substr(rem, 1, 1) = '1' then 3
             when substr(rem, 1, 1) in ('2', '3') then 2
             when substr(rem, 1, 1) in ('4', '5', '6', '7') then 1
             else 0 end + 1 as rho
    from rr
),
regs as (
    select event_type, p, bucket, max(rho) as reg from rho group by 1, 2, 3
),
perp as (
    select event_type, p, count(*) as n_present,
        sum(cast(power(2, 65 - reg) as decimal(38,0))) as sum_scaled
    from regs group by 1, 2
),
est as (
    select event_type, p,
        case {cases} end as est
    from perp
),
wide as (
    select event_type,
        max(case when p = 4 then est end) as est_m16,
        max(case when p = 8 then est end) as est_m256,
        max(case when p = 12 then est end) as est_m4096
    from est group by 1
),
exact as (
    select event_type, count(distinct user_id) as exact_users from ev group by 1
)
select x.event_type, x.exact_users, w.est_m16, w.est_m256, w.est_m4096
from exact x join wide w using (event_type)
"""


FUNNEL_WINDOW_S = 7200  # per-step conversion window (seconds)
FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35i: strictly-ordered WINDOWED funnel (product-analytics
    semantics, vs event_funnel's unordered first-touch flags): stage k+1
    counts only if it happens strictly after the matched stage-k event
    and within FUNNEL_WINDOW_S of it, with the earliest-match rule
    (t1 = first view; t2 = first click in (t1, t1+W]; t3 = first
    purchase in (t2, t2+W]).

    The sequential dependency is expressed as a chain of user-keyed
    conditional aggregates: pass k joins the (user, t_k) table back to
    the events and takes min(ts) under the window predicate. Every
    shuffle in the chain keys on user_id, so AQE plans one partitioning
    reused end-to-end; per-stage passes scan the SAME cached event
    projection. Time math in integer microseconds (unix_micros /
    epoch_us) — exact on both engines.
    """
    ev = (
        load_events(spark, sf_dir)
        .where(F.col("event_type").isin(*FUNNEL_STAGES) & F.col("user_id").isNotNull())
        .select("user_id", "event_type", F.unix_micros("ts").alias("t_us"))
        .localCheckpoint(eager=False)
    )
    w_us = FUNNEL_WINDOW_S * 1_000_000
    t1 = ev.where(F.col("event_type") == FUNNEL_STAGES[0]).groupBy("user_id").agg(
        F.min("t_us").alias("t1")
    )
    t2 = (
        ev.where(F.col("event_type") == FUNNEL_STAGES[1])
        .join(t1, "user_id")
        .where((F.col("t_us") > F.col("t1")) & (F.col("t_us") <= F.col("t1") + w_us))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == FUNNEL_STAGES[2])
        .join(t2, "user_id")
        .where((F.col("t_us") > F.col("t2")) & (F.col("t_us") <= F.col("t2") + w_us))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t3"))
    )
    reached = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .otherwise(1)
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("t_view_us"),
            F.col("t2").alias("t_click_us"),
            F.col("t3").alias("t_purchase_us"),
            reached.cast("long").alias("reached_stage"),
        )
    )


def oracle_funnel_windowed() -> str:
    w_us = FUNNEL_WINDOW_S * 1_000_000
    s1, s2, s3 = FUNNEL_STAGES
    return f"""
with ev as (
    select user_id, event_type, epoch_us(ts) as t_us
    from events
    where event_type in ('{s1}', '{s2}', '{s3}') and user_id is not null
),
t1 as (
    select user_id, min(t_us) as t1 from ev
    where event_type = '{s1}' group by user_id
),
t2 as (
    select e.user_id, min(e.t_us) as t2
    from ev e join t1 using (user_id)
    where e.event_type = '{s2}' and e.t_us > t1.t1 and e.t_us <= t1.t1 + {w_us}
    group by e.user_id
),
t3 as (
    select e.user_id, min(e.t_us) as t3
    from ev e join t2 using (user_id)
    where e.event_type = '{s3}' and e.t_us > t2.t2 and e.t_us <= t2.t2 + {w_us}
    group by e.user_id
)
select t1.user_id,
    t1.t1 as t_view_us,
    t2.t2 as t_click_us,
    t3.t3 as t_purchase_us,
    cast(case when t3.t3 is not null then 3
              when t2.t2 is not null then 2
              else 1 end as bigint) as reached_stage
from t1
left join t2 on t2.user_id = t1.user_id
left join t3 on t3.user_id = t1.user_id
"""


def sketch_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35h: HLL register MERGE — union/intersection cardinality across
    event-type segments, next to the exact answers.

    Mergeability is the entire reason sketches matter at 100 TB: the
    per-segment register state (4096 ints) unions by element-wise max
    with NO access to the raw data, so audience-overlap questions
    ("viewers ∩ purchasers") run over metadata-scale state instead of
    re-shuffling (type, user) pairs per question. |A∪B| comes from the
    merged registers, |A∩B| by inclusion-exclusion — the standard HLL
    protocol (intersection error grows when |A∩B| << |A∪B|; the exact
    columns in the output make that honest). One precision (p=12,
    m=4096, rsd ≈ 1.6%); same engine-portable estimator as
    sketch_distinct_users.
    """
    p = 12
    m, raw_num, thresh = _hll_est_params(p)
    bchars = p // 4
    ev = (
        load_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    bucket, rho = _hll_bucket_rho(p)
    regs = (
        ev.select("event_type", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("reg"))
        .localCheckpoint(eager=False)
    )

    two65 = F.expr(f"cast('{_HLL_TWO65}' as decimal(38,0))")

    def estimate(grouped: DataFrame, keys: list[str], out: str) -> DataFrame:
        perp = grouped.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(
                F.pow(F.lit(2.0), (F.lit(65) - F.col("reg")).cast("double")).cast(
                    "decimal(38,0)"
                )
            ).alias("sum_scaled"),
        )
        v = F.lit(m) - F.col("n_present")
        harmonic = F.col("sum_scaled") + v.cast("decimal(38,0)") * two65
        raw = F.lit(raw_num) / harmonic.cast("double")
        corrected = F.when(
            (raw <= F.lit(thresh)) & (v > 0),
            F.element_at(F.lit(_hll_ln_table(m)), v.cast("int")),
        ).otherwise(raw)
        return perp.select(*keys, corrected.alias(out))

    est_t = estimate(regs, ["event_type"], "est")
    types = regs.select("event_type").distinct()
    # |types|² pairs — a metadata-scale cross of the tiny type dimension
    tpairs = (
        types.select(F.col("event_type").alias("t1"))
        .crossJoin(types.select(F.col("event_type").alias("t2")))
        .where(F.col("t1") < F.col("t2"))
    )
    merged = (
        tpairs.join(regs, F.col("event_type") == F.col("t1"))
        .select("t1", "t2", "bucket", "reg")
        .union(
            tpairs.join(regs, F.col("event_type") == F.col("t2")).select(
                "t1", "t2", "bucket", "reg"
            )
        )
        .groupBy("t1", "t2", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    est_u = estimate(merged, ["t1", "t2"], "est_union")

    tu = ev.distinct().localCheckpoint(eager=False)
    exact_t = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact"))
    exact_i = (
        tu.alias("a")
        .join(tu.alias("b"), "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("t1"), F.col("b.event_type").alias("t2")
        )
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    ea = est_t.select(F.col("event_type").alias("t1"), F.col("est").alias("est_a"))
    eb = est_t.select(F.col("event_type").alias("t2"), F.col("est").alias("est_b"))
    xa = exact_t.select(F.col("event_type").alias("t1"), F.col("exact").alias("exact_a"))
    xb = exact_t.select(F.col("event_type").alias("t2"), F.col("exact").alias("exact_b"))
    return (
        est_u.join(ea, "t1")
        .join(eb, "t2")
        .join(xa, "t1")
        .join(xb, "t2")
        .join(exact_i, ["t1", "t2"], "left")
        .select(
            "t1",
            "t2",
            F.round("est_a", 4).alias("est_a_r4"),
            F.round("est_b", 4).alias("est_b_r4"),
            F.round("est_union", 4).alias("est_union_r4"),
            F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4).alias(
                "est_inter_r4"
            ),
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            (F.col("exact_a") + F.col("exact_b") - F.coalesce("exact_inter", F.lit(0)))
            .cast("long")
            .alias("exact_union"),
            F.coalesce("exact_inter", F.lit(0)).cast("long").alias("exact_inter"),
        )
    )


def oracle_sketch_user_overlap() -> str:
    p = 12
    m, raw_num, thresh = _hll_est_params(p)
    bchars = p // 4
    table = ", ".join(f"{x:.17e}" for x in _hll_ln_table(m))
    est = (
        f"case when ({raw_num!r} / cast(sum_scaled + (({m} - n_present) * "
        f"cast('{_HLL_TWO65}' as decimal(38,0))) as double)) <= {thresh!r} "
        f"and {m} - n_present > 0 "
        f"then ([{table}])[cast({m} - n_present as int)] "
        f"else ({raw_num!r} / cast(sum_scaled + (({m} - n_present) * "
        f"cast('{_HLL_TWO65}' as decimal(38,0))) as double)) end"
    )
    return f"""
with ev as materialized (
    select distinct event_type, user_id from events where user_id is not null
),
rr as (
    select event_type,
        substr(md5(cast(user_id as varchar) || '{_HLL_SALT}{p}'), 1, {bchars}) as bucket,
        regexp_replace(
            substr(md5(cast(user_id as varchar) || '{_HLL_SALT}{p}'),
                   {bchars + 1}, 16), '^0*', '') as rem
    from ev
),
regs as materialized (
    select event_type, bucket, max(
        (16 - length(rem)) * 4 +
        case when substr(rem, 1, 1) = '1' then 3
             when substr(rem, 1, 1) in ('2', '3') then 2
             when substr(rem, 1, 1) in ('4', '5', '6', '7') then 1
             else 0 end + 1) as reg
    from rr group by 1, 2
),
perp as (
    select event_type, count(*) as n_present,
        sum(cast(power(2, 65 - reg) as decimal(38,0))) as sum_scaled
    from regs group by 1
),
est_t as (select event_type, {est} as est from perp),
types as (select distinct event_type from regs),
tpairs as (
    select a.event_type as t1, b.event_type as t2
    from types a join types b on a.event_type < b.event_type
),
merged as (
    select t1, t2, bucket, max(reg) as reg from (
        select p.t1, p.t2, r.bucket, r.reg
        from tpairs p join regs r on r.event_type = p.t1
        union all
        select p.t1, p.t2, r.bucket, r.reg
        from tpairs p join regs r on r.event_type = p.t2
    ) group by 1, 2, 3
),
perpu as (
    select t1, t2, count(*) as n_present,
        sum(cast(power(2, 65 - reg) as decimal(38,0))) as sum_scaled
    from merged group by 1, 2
),
est_u as (select t1, t2, {est} as est_union from perpu),
exact_t as (select event_type, count(*) as exact from ev group by 1),
exact_i as (
    select a.event_type as t1, b.event_type as t2, count(*) as exact_inter
    from ev a join ev b on a.user_id = b.user_id
     and a.event_type < b.event_type
    group by 1, 2
)
select u.t1, u.t2,
    round(ea.est, 4) as est_a_r4,
    round(eb.est, 4) as est_b_r4,
    round(u.est_union, 4) as est_union_r4,
    round(ea.est + eb.est - u.est_union, 4) as est_inter_r4,
    cast(xa.exact as bigint) as exact_a,
    cast(xb.exact as bigint) as exact_b,
    cast(xa.exact + xb.exact - coalesce(xi.exact_inter, 0) as bigint) as exact_union,
    cast(coalesce(xi.exact_inter, 0) as bigint) as exact_inter
from est_u u
join est_t ea on ea.event_type = u.t1
join est_t eb on eb.event_type = u.t2
join exact_t xa on xa.event_type = u.t1
join exact_t xb on xb.event_type = u.t2
left join exact_i xi on xi.t1 = u.t1 and xi.t2 = u.t2
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen ISO week,
    tracked by distinct-active weeks at each offset.

    Scale shape: first-touch is one shuffle at user grain; activity is a
    distinct at (user, week) grain (same user-keyed partitioning, so AQE
    plans both shuffles on the same key); the final rollup is tiny
    (weeks x offsets). cohort sizes are a broadcast-scale dimension
    derived from the first-touch aggregate — no second pass over the
    fact. retention_rate is one exact-int fp division
    (engine-identical); both engines truncate weeks to Monday.
    """
    ev = load_events(spark, sf_dir)
    first_touch = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_ts")).cast("date").alias("cohort_week"),
        )
    )
    activity = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("active_week"),
    ).distinct()
    cohort_sizes = first_touch.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        activity.join(first_touch, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(active_week, cohort_week) div 7").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention_rate"
            ),
        )
    )


ORACLE_COHORT_RETENTION = """
with first_touch as (
    select user_id,
        cast(date_trunc('week', min(ts)) as date) as cohort_week
    from events group by user_id
),
activity as (
    select distinct user_id, cast(date_trunc('week', ts) as date) as active_week
    from events
),
cohort_sizes as (
    select cohort_week, count(*) as cohort_size from first_touch group by 1
),
grid as (
    select f.cohort_week,
        date_diff('day', f.cohort_week, a.active_week) // 7 as week_offset,
        count(*) as n_active
    from activity a join first_touch f using (user_id)
    group by 1, 2
)
select g.cohort_week, g.week_offset, g.n_active, s.cohort_size,
    cast(g.n_active as double) / s.cohort_size as retention_rate
from grid g join cohort_sizes s using (cohort_week)
"""


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions via Spark's BUILT-IN session_window aggregation (the
    native operator behind event_sessionization's hand-rolled windows;
    also the streaming-ready form — the same expression works under
    readStream with a watermark).

    Semantics note pinned by the oracle: session_window merges an event
    into the current session iff ts < last_ts + gap, so a gap of
    EXACTLY 30 min starts a new session (the lag-based operator's `>`
    keeps it — both semantics are valid, each key models its own).
    window.end = last event + gap by definition.

    One shuffle on (user_id, session_window); state is bounded per key.
    """
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
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


ORACLE_SESSION_WINDOW_STATS = """
with ev as (
    select user_id, event_id, ts, value,
        lag(epoch_us(ts)) over w as prev_us,
        epoch_us(ts) as ts_us
    from events
    window w as (partition by user_id order by epoch_us(ts), event_id)
), flagged as (
    select *, case when prev_us is null
                   or ts_us - prev_us >= {gap} * 1000000 then 1 else 0 end as new_s
    from ev
), numbered as (
    select *, sum(new_s) over (
        partition by user_id order by ts_us, event_id
        rows between unbounded preceding and current row
    ) as session_seq
    from flagged
)
select user_id,
    min(ts) as session_start,
    max(ts) + interval {gap} seconds as session_end,
    cast(count(*) as bigint) as n_events,
    cast(sum(cast(value as decimal(18,2))) as double) as total_value
from numbered
group by user_id, session_seq
"""


def oracle_session_window_stats() -> str:
    return ORACLE_SESSION_WINDOW_STATS.format(gap=SESSION_GAP_SECONDS)


# ------------------------------------------- multi-touch attribution

ATTR_WINDOW_DAYS = 7
ATTR_TOUCH_TYPES = ("view", "click")



def _attr_purchase_touch_pairs(spark: SparkSession, sf_dir: str):
    """Shared prelude for the two attribution keys: purchase rows with
    exact-cent money, touch rows, and their windowed LEFT pairing (one
    equi-join on user_id; the time window is a residual predicate, so
    per-user touch counts bound the fan-out). Both keys and BOTH
    oracles must keep identical pairing semantics — one definition ends
    the four-way copy (round-7 review)."""
    ev = load_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
        F.to_date("ts").alias("p_date"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("value_cents"),
    )
    touches = ev.where(F.col("event_type").isin(*ATTR_TOUCH_TYPES)).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("t_type"),
        F.unix_micros("ts").alias("t_us"),
        F.to_date("ts").alias("t_date"),
    )
    win_us = ATTR_WINDOW_DAYS * 86400 * 1_000_000
    return purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - F.lit(win_us)),
        "left",
    )


def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the user's view/click touches in the preceding 7
    days; purchases with no touches report as 'direct'.

    Scale shape: ONE equi-join on user_id (the time window is a residual
    predicate — per-user touch counts are bounded, never a range
    explosion), per-purchase touch counts from a window over the join
    output, then a (touch_type, date) rollup. Money is exact bigint
    micro-units (value_cents x 10000, floor-divided per touch) so every
    group sum is order-independent integer math — the same fixed-point
    trick as pagerank_parts; floats appear only in the single final
    division.
    """
    pairs = _attr_purchase_touch_pairs(spark, sf_dir)
    n_touches = F.count("t_id").over(Window.partitionBy("p_id"))
    attributed = pairs.select(
        "p_id",
        F.coalesce(F.col("t_type"), F.lit("direct")).alias("touch_type"),
        F.coalesce(F.col("t_date"), F.col("p_date")).alias("touch_date"),
        "t_id",
        n_touches.alias("n_t"),
        F.when(
            F.col("t_id").isNull(), F.col("value_cents") * 10000
        )
        .otherwise(
            F.expr("(value_cents * 10000) div n_t")
        )
        .alias("share_micros"),
    )
    return attributed.groupBy("touch_type", "touch_date").agg(
        F.count("t_id").alias("n_touches"),
        F.countDistinct("p_id").alias("n_purchases"),
        (
            F.sum("share_micros").cast("double") / F.lit(1000000.0)
        ).alias("attributed_revenue"),
    )


ORACLE_ATTRIBUTION_LINEAR = f"""
with purchases as (
    select event_id as p_id, user_id as p_user,
        epoch_us(ts) as p_us, cast(ts as date) as p_date,
        cast(cast(value as decimal(18,2)) * 100 as bigint) as value_cents
    from events where event_type = 'purchase'
),
touches as (
    select event_id as t_id, user_id as t_user, event_type as t_type,
        epoch_us(ts) as t_us, cast(ts as date) as t_date
    from events where event_type in ('view', 'click')
),
pairs as (
    select p.*, t.t_id, t.t_type, t.t_date,
        count(t.t_id) over (partition by p.p_id) as n_t
    from purchases p
    left join touches t
      on p.p_user = t.t_user
     and t.t_us < p.p_us
     and t.t_us >= p.p_us - {ATTR_WINDOW_DAYS * 86400 * 1_000_000}
)
select
    coalesce(t_type, 'direct') as touch_type,
    coalesce(t_date, p_date) as touch_date,
    count(t_id) as n_touches,
    cast(count(distinct p_id) as bigint) as n_purchases,
    cast(sum(case when t_id is null then value_cents * 10000
                  else (value_cents * 10000) // n_t end) as double)
        / 1000000.0 as attributed_revenue
from pairs
group by 1, 2
"""


# ------------------------------------------------- path analysis

PATH_TOPK = 10


def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-step behavioral paths (event-type trigrams over each
    user's time-ordered stream) with counts and corpus share — the
    product-analytics "path analysis" operator.

    Scale shape: one shuffle on user_id for the ordered window (lead x2
    rides a single sort), then a path-grain aggregation — path
    cardinality is bounded by |event_types|^3, so the final top-k
    window runs over a constant-size frame. Ordering is (ts, event_id):
    a unique total order, deterministic across engines.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    ).where(F.col("s2").isNotNull() & F.col("s3").isNotNull())
    agg = steps.groupBy(
        F.concat_ws(">", "s1", "s2", "s3").alias("path")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )
    total = F.sum("n").over(Window.partitionBy())
    ranked = agg.select(
        "path",
        "n",
        "n_users",
        F.round(F.col("n").cast("double") / total.cast("double"), 6).alias("share"),
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("path")))
        .alias("rank"),
    )
    return ranked.where(F.col("rank") <= PATH_TOPK).select(
        F.col("rank").cast("long").alias("rank"), "path", "n", "n_users", "share"
    )


ORACLE_EVENT_PATH_TOPK = f"""
with steps as (
    select user_id,
        event_type as s1,
        lead(event_type, 1) over w as s2,
        lead(event_type, 2) over w as s3
    from events
    window w as (partition by user_id order by ts, event_id)
),
agg as (
    select s1 || '>' || s2 || '>' || s3 as path,
        cast(count(*) as bigint) as n,
        cast(count(distinct user_id) as bigint) as n_users
    from steps
    where s2 is not null and s3 is not null
    group by 1
),
ranked as (
    select path, n, n_users,
        round(cast(n as double) / cast(sum(n) over () as double), 6) as share,
        cast(row_number() over (order by n desc, path) as bigint) as rank
    from agg
)
select rank, path, n, n_users, share
from ranked
where rank <= {PATH_TOPK}
"""


# ----------------------------------------- rolling active users

MAU_WINDOW_DAYS = 30
WAU_WINDOW_DAYS = 7


def active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU per day — the engagement mart.

    Sliding-window COUNT DISTINCT does not decompose into window
    functions at scale (distinct state per frame). The scalable shape:
    reduce to distinct (user, active_day) once, explode each activity
    row to the <= 30 report days it can influence (CONSTANT fan-out,
    independent of data size), and take three conditional distinct
    counts in ONE day-grain aggregation. Report days are clamped to the
    observed [min, max] day via a broadcast 1-row scalar (the gold
    marts' as_of pattern).
    """
    ev = load_events(spark, sf_dir)
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    bounds = F.broadcast(
        activity.agg(
            F.min("day").alias("min_day"), F.max("day").alias("max_day")
        )
    )
    exploded = activity.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(MAU_WINDOW_DAYS - 1))).alias("off"),
    ).select(
        "user_id",
        "off",
        F.date_add(F.col("day"), F.col("off")).alias("report_day"),
    )
    return (
        exploded.crossJoin(bounds)
        .where(
            (F.col("report_day") >= F.col("min_day"))
            & (F.col("report_day") <= F.col("max_day"))
        )
        .groupBy("report_day")
        .agg(
            F.countDistinct(F.when(F.col("off") == 0, F.col("user_id"))).alias("dau"),
            F.countDistinct(
                F.when(F.col("off") < WAU_WINDOW_DAYS, F.col("user_id"))
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
        .select(
            "report_day",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


ORACLE_ACTIVE_USERS_ROLLING = f"""
with activity as (
    select distinct user_id, cast(ts as date) as day from events
),
bounds as (
    select min(day) as min_day, max(day) as max_day from activity
),
exploded as (
    select user_id, unnest(range(0, {MAU_WINDOW_DAYS})) as off, day
    from activity
),
tagged as (
    select user_id, off, day + cast(off as int) as report_day from exploded
)
select t.report_day,
    cast(count(distinct case when t.off = 0 then t.user_id end) as bigint) as dau,
    cast(count(distinct case when t.off < {WAU_WINDOW_DAYS} then t.user_id end)
        as bigint) as wau,
    cast(count(distinct t.user_id) as bigint) as mau,
    round(cast(count(distinct case when t.off = 0 then t.user_id end) as double)
          / cast(count(distinct t.user_id) as double), 6) as stickiness
from tagged t, bounds b
where t.report_day >= b.min_day and t.report_day <= b.max_day
group by t.report_day
"""


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event_type | current event_type), with an 'END'
    absorbing state for each user's final event.

    Sequence order is (ts, event_id) within user — the repo-wide total
    order for event streams — via ONE lead() window on the user_id
    shuffle; the transition rollup is a partial-aggregated groupBy at
    |event_types|² grain (bounded), and the row-normalizing probability
    is one exact-bigint double division.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        "user_id",
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst_raw"),
        "ts",
        "event_id",
    ).select("src", F.coalesce("dst_raw", F.lit("END")).alias("dst"))
    counts = trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_trans"))
    src_tot = F.sum("n_trans").over(Window.partitionBy("src"))
    return counts.select(
        "src",
        "dst",
        "n_trans",
        src_tot.alias("n_src"),
        (F.col("n_trans").cast("double") / src_tot.cast("double")).alias("p_trans"),
    )


ORACLE_MARKOV_TRANSITIONS = """
with trans as (
    select event_type as src,
        coalesce(
            lead(event_type) over (partition by user_id order by ts, event_id),
            'END') as dst
    from events
),
counts as (
    select src, dst, count(*) as n_trans from trans group by 1, 2
)
select src, dst, n_trans,
    cast(sum(n_trans) over (partition by src) as bigint) as n_src,
    cast(n_trans as double)
        / cast(sum(n_trans) over (partition by src) as double) as p_trans
from counts
"""


def attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the standard
    complement to attribution_linear: 40% of a purchase's value to the
    FIRST touch in the window, 40% to the LAST, the middle 20% split
    evenly over interior touches. n=1 → 100%; n=2 → 50/50; no touches →
    'direct'.

    Same plan skeleton as attribution_linear (ONE user_id equi-join
    with the 7-day window as a residual predicate), plus a row_number
    pair (asc + desc over the SAME window ordering — one shuffle, the
    second sort is within already-partitioned data) to tag positions.
    Shares are exact bigint micro-units via floor division (40/100,
    50/100, 20/100/(n-2)) — order-independent integer sums, one final
    double division, like every money path in the repo.
    """
    pairs = _attr_purchase_touch_pairs(spark, sf_dir)
    wp = Window.partitionBy("p_id")
    w_asc = wp.orderBy("t_us", "t_id")
    w_desc = wp.orderBy(F.desc("t_us"), F.desc("t_id"))
    tagged = pairs.select(
        "p_id",
        F.coalesce(F.col("t_type"), F.lit("direct")).alias("touch_type"),
        F.coalesce(F.col("t_date"), F.col("p_date")).alias("touch_date"),
        "t_id",
        (F.col("value_cents") * 10000).alias("value_micros"),
        F.count("t_id").over(wp).alias("n_t"),
        F.row_number().over(w_asc).alias("rk_first"),
        F.row_number().over(w_desc).alias("rk_last"),
    )
    micros = F.col("value_micros")
    share = (
        F.when(F.col("t_id").isNull(), micros)  # direct: full value
        .when(F.col("n_t") == 1, micros)
        .when(F.col("n_t") == 2, F.expr("value_micros * 50 div 100"))
        .when(
            (F.col("rk_first") == 1) | (F.col("rk_last") == 1),
            F.expr("value_micros * 40 div 100"),
        )
        .otherwise(F.expr("value_micros * 20 div 100 div (n_t - 2)"))
    )
    position = (
        F.when(F.col("t_id").isNull(), F.lit("direct"))
        .when(F.col("rk_first") == 1, F.lit("first"))
        .when(F.col("rk_last") == 1, F.lit("last"))
        .otherwise(F.lit("middle"))
    )
    return tagged.select(
        "touch_type", "touch_date", position.alias("position"), share.alias("share_micros"), "t_id", "p_id"
    ).groupBy("touch_type", "position", "touch_date").agg(
        F.count("t_id").alias("n_touches"),
        F.countDistinct("p_id").alias("n_purchases"),
        (F.sum("share_micros").cast("double") / F.lit(1000000.0)).alias(
            "attributed_revenue"
        ),
    )


ORACLE_ATTRIBUTION_POSITION = f"""
with purchases as (
    select event_id as p_id, user_id as p_user,
        epoch_us(ts) as p_us, cast(ts as date) as p_date,
        cast(cast(value as decimal(18,2)) * 100 as bigint) as value_cents
    from events where event_type = 'purchase'
),
touches as (
    select event_id as t_id, user_id as t_user, event_type as t_type,
        epoch_us(ts) as t_us, cast(ts as date) as t_date
    from events where event_type in ('view', 'click')
),
tagged as (
    select p.p_id,
        coalesce(t.t_type, 'direct') as touch_type,
        coalesce(t.t_date, p.p_date) as touch_date,
        t.t_id,
        p.value_cents * 10000 as value_micros,
        count(t.t_id) over (partition by p.p_id) as n_t,
        row_number() over (partition by p.p_id
                           order by t.t_us, t.t_id) as rk_first,
        row_number() over (partition by p.p_id
                           order by t.t_us desc, t.t_id desc) as rk_last
    from purchases p
    left join touches t
      on p.p_user = t.t_user
     and t.t_us < p.p_us
     and t.t_us >= p.p_us - {ATTR_WINDOW_DAYS * 86400 * 1_000_000}
),
shared as (
    select touch_type, touch_date, t_id, p_id,
        case when t_id is null then 'direct'
             when rk_first = 1 then 'first'
             when rk_last = 1 then 'last'
             else 'middle' end as position,
        case when t_id is null then value_micros
             when n_t = 1 then value_micros
             when n_t = 2 then (value_micros * 50) // 100
             when rk_first = 1 or rk_last = 1 then (value_micros * 40) // 100
             else ((value_micros * 20) // 100) // (n_t - 2)
        end as share_micros
    from tagged
)
select touch_type, position, touch_date,
    count(t_id) as n_touches,
    count(distinct p_id) as n_purchases,
    cast(sum(share_micros) as double) / 1000000.0 as attributed_revenue
from shared
group by 1, 2, 3
"""


def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (half-life = 1 day) — the
    third member of the attribution family: a purchase's value is split
    across its window touches proportionally to 2^-(age_days), so a
    touch the day before the purchase earns twice the credit of one two
    days before. No touches → 'direct', like the linear/position keys.

    Same plan skeleton as attribution_linear (the shared ONE-equi-join
    pairing from _attr_purchase_touch_pairs; the 7-day window is a
    residual predicate). Decay weights are exact INTEGER units —
    w = 1 << (ATTR_WINDOW_DAYS - age_days) ∈ {1..128} — so the
    per-purchase weight total is an order-independent bigint window
    sum and each share is bigint floor division of micro-units; the
    single final division is the only float, the family's fixed-point
    discipline. (A float 2^-age would also be exact, but SUMS of mixed
    exponents round once totals exceed the mantissa — at 100 TB the
    integer units are the safe form.)
    """
    pairs = _attr_purchase_touch_pairs(spark, sf_dir)
    w_units = F.when(F.col("t_id").isNull(), F.lit(0)).otherwise(
        F.expr(
            "shiftleft(cast(1 as bigint), "
            f"cast({ATTR_WINDOW_DAYS} - (p_us - t_us) div 86400000000 as int))"
        )
    )
    tagged = pairs.select(
        "p_id",
        F.coalesce(F.col("t_type"), F.lit("direct")).alias("touch_type"),
        F.coalesce(F.col("t_date"), F.col("p_date")).alias("touch_date"),
        "t_id",
        (F.col("value_cents") * 10000).alias("value_micros"),
        w_units.cast("bigint").alias("w_units"),
    )
    sum_w = F.sum("w_units").over(Window.partitionBy("p_id"))
    attributed = tagged.withColumn("sum_w", sum_w).select(
        "p_id",
        "touch_type",
        "touch_date",
        "t_id",
        F.when(F.col("t_id").isNull(), F.col("value_micros"))
        .otherwise(F.expr("(value_micros * w_units) div sum_w"))
        .alias("share_micros"),
    )
    return attributed.groupBy("touch_type", "touch_date").agg(
        F.count("t_id").alias("n_touches"),
        F.countDistinct("p_id").alias("n_purchases"),
        (F.sum("share_micros").cast("double") / F.lit(1000000.0)).alias(
            "attributed_revenue"
        ),
    )


ORACLE_ATTRIBUTION_TIME_DECAY = f"""
with purchases as (
    select event_id as p_id, user_id as p_user,
        epoch_us(ts) as p_us, cast(ts as date) as p_date,
        cast(cast(value as decimal(18,2)) * 100 as bigint) as value_cents
    from events where event_type = 'purchase'
),
touches as (
    select event_id as t_id, user_id as t_user, event_type as t_type,
        epoch_us(ts) as t_us, cast(ts as date) as t_date
    from events where event_type in ('view', 'click')
),
tagged as (
    select p.p_id,
        coalesce(t.t_type, 'direct') as touch_type,
        coalesce(t.t_date, p.p_date) as touch_date,
        t.t_id,
        p.value_cents * 10000 as value_micros,
        case when t.t_id is null then 0
             else cast(1 as bigint)
                  << ({ATTR_WINDOW_DAYS} - (p.p_us - t.t_us) // 86400000000)
        end as w_units
    from purchases p
    left join touches t
      on p.p_user = t.t_user
     and t.t_us < p.p_us
     and t.t_us >= p.p_us - {ATTR_WINDOW_DAYS * 86400 * 1_000_000}
),
shared as (
    select touch_type, touch_date, t_id, p_id,
        case when t_id is null then value_micros
             else (value_micros * w_units)
                  // sum(w_units) over (partition by p_id)
        end as share_micros
    from tagged
)
select touch_type, touch_date,
    count(t_id) as n_touches,
    count(distinct p_id) as n_purchases,
    cast(sum(share_micros) as double) / 1000000.0 as attributed_revenue
from shared
group by 1, 2
"""


def conversion_lag_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-lag distribution — the fourth read off the shared
    attribution pairing: for purchases WITH window touches, the
    whole-day lag from the FIRST touch to the purchase, rolled up per
    (first-touch channel, lag_days) with purchase counts and exact-cent
    revenue. This is the report that sets the attribution window
    itself (a mass at lag 6–7 says the 7-day cut is clipping real
    journeys) — the natural companion to the three credit models.

    Same single user-equi-join skeleton (_attr_purchase_touch_pairs);
    the first touch is one row_number over the per-purchase window
    (bounded fan-in), lag is exact integer epoch-day division, revenue
    sums cents — one final double division, the family's fixed-point
    discipline.
    """
    pairs = _attr_purchase_touch_pairs(spark, sf_dir).where(
        F.col("t_id").isNotNull()
    )
    w_asc = Window.partitionBy("p_id").orderBy("t_us", "t_id")
    first = (
        pairs.withColumn("rk", F.row_number().over(w_asc))
        .where(F.col("rk") == 1)
        .select(
            "p_id",
            F.col("t_type").alias("first_touch_type"),
            F.expr("(p_us - t_us) div 86400000000").alias("lag_days"),
            "value_cents",
        )
    )
    return first.groupBy("first_touch_type", "lag_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        (F.sum("value_cents").cast("double") / F.lit(100.0)).alias("revenue"),
    )


ORACLE_CONVERSION_LAG_DISTRIBUTION = f"""
with purchases as (
    select event_id as p_id, user_id as p_user,
        epoch_us(ts) as p_us,
        cast(cast(value as decimal(18,2)) * 100 as bigint) as value_cents
    from events where event_type = 'purchase'
),
touches as (
    select event_id as t_id, user_id as t_user, event_type as t_type,
        epoch_us(ts) as t_us
    from events where event_type in ('view', 'click')
),
first_touch as (
    select p_id, t_type as first_touch_type,
        (p_us - t_us) // 86400000000 as lag_days,
        value_cents
    from (
        select p.p_id, p.p_us, p.value_cents, t.t_type, t.t_us,
            row_number() over (partition by p.p_id
                               order by t.t_us, t.t_id) as rk
        from purchases p
        join touches t
          on p.p_user = t.t_user
         and t.t_us < p.p_us
         and t.t_us >= p.p_us - {ATTR_WINDOW_DAYS * 86400 * 1_000_000}
    ) where rk = 1
)
select first_touch_type, lag_days,
    cast(count(*) as bigint) as n_purchases,
    cast(sum(value_cents) as double) / 100.0 as revenue
from first_touch
group by 1, 2
"""


ANOMALY_MAD_K = 3


def event_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly report: days whose event count
    deviates from the median by more than ANOMALY_MAD_K × MAD — the
    outlier-resistant twin of revenue_anomaly_zscore (a traffic spike
    poisons mean/stddev, which is exactly when the alert matters; the
    median/MAD baseline doesn't move).

    Determinism + scale: daily counts are one partial-aggregated
    shuffle; median and MAD are exact order statistics computed at
    VALUE grain (cumulative counts over the distinct daily-count set —
    bounded by the calendar, never the event count), broadcast back as
    single rows; the anomaly test is pure integer comparison. Every
    day is reported with its deviation so the output hashes real
    content even in quiet weeks.
    """
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_events")
    )

    def _median_of(df: DataFrame, col: str, out: str) -> DataFrame:
        cnt = df.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        cum = cnt.withColumn("__cum", F.sum("__c").over(w))
        tot = df.agg(F.count(F.lit(1)).alias("__n"))
        return (
            cum.crossJoin(F.broadcast(tot))
            .where(F.col("__cum") >= F.expr("(__n + 1) div 2"))
            .agg(F.min(col).alias(out))
        )

    med = _median_of(daily, "n_events", "med_events")
    devs = daily.crossJoin(F.broadcast(med)).select(
        "event_date",
        "n_events",
        "med_events",
        F.abs(F.col("n_events") - F.col("med_events")).alias("dev"),
    )
    mad = _median_of(devs.select(F.col("dev").alias("d")), "d", "mad_events")
    return devs.crossJoin(F.broadcast(mad)).select(
        "event_date",
        "n_events",
        "med_events",
        "dev",
        "mad_events",
        (F.col("dev") > ANOMALY_MAD_K * F.col("mad_events")).alias("is_anomaly"),
    )


ORACLE_EVENT_VOLUME_ANOMALY = f"""
with daily as (
    select cast(ts as date) as event_date, count(*) as n_events
    from events group by 1
),
vcnt as (select n_events as v, count(*) as c from daily group by 1),
vcum as (
    select v, sum(c) over (order by v
        rows between unbounded preceding and current row) as cum
    from vcnt
),
med as (
    select min(v) as med_events from vcum
    where cum >= (select (count(*) + 1) // 2 from daily)
),
devs as (
    select d.event_date, d.n_events, m.med_events,
        abs(d.n_events - m.med_events) as dev
    from daily d cross join med m
),
dcnt as (select dev as v, count(*) as c from devs group by 1),
dcum as (
    select v, sum(c) over (order by v
        rows between unbounded preceding and current row) as cum
    from dcnt
),
mad as (
    select min(v) as mad_events from dcum
    where cum >= (select (count(*) + 1) // 2 from devs)
)
select d.event_date, d.n_events, d.med_events, d.dev, m.mad_events,
    d.dev > {ANOMALY_MAD_K} * m.mad_events as is_anomaly
from devs d cross join mad m
"""


def event_ctr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily funnel-rate mart: views, clicks, purchases per day with
    click-through (clicks/views) and conversion (purchases/clicks)
    rates — the KPI rollup every event warehouse serves.

    One conditional aggregate at date grain (a single partial-agg
    shuffle, no joins, no pivot machinery); rates are exact bigint
    counts with one IEEE double division each, NULL when the
    denominator is 0 on both engines.
    """
    ev = load_events(spark, sf_dir)
    n_of = lambda t: F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast(
        "bigint"
    )
    agg = ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        n_of("view").alias("n_views"),
        n_of("click").alias("n_clicks"),
        n_of("purchase").alias("n_purchases"),
    )
    rate = lambda num, den: F.when(
        F.col(den) > 0, F.col(num).cast("double") / F.col(den).cast("double")
    )
    return agg.select(
        "event_date",
        "n_views",
        "n_clicks",
        "n_purchases",
        rate("n_clicks", "n_views").alias("ctr"),
        rate("n_purchases", "n_clicks").alias("cvr"),
    )


ORACLE_EVENT_CTR_DAILY = """
with agg as (
    select cast(ts as date) as event_date,
        cast(sum(case when event_type = 'view' then 1 else 0 end) as bigint) as n_views,
        cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as n_clicks,
        cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as n_purchases
    from events group by 1
)
select event_date, n_views, n_clicks, n_purchases,
    case when n_views > 0
         then cast(n_clicks as double) / cast(n_views as double) end as ctr,
    case when n_clicks > 0
         then cast(n_purchases as double) / cast(n_clicks as double) end as cvr
from agg
"""


def markov_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition TIMING beside markov_transitions' probabilities: per
    (src → dst) event-type pair, the median / min / max / mean dwell
    seconds between the two events — the behavioral-model half a
    next-action predictor needs (where a user goes AND how long they
    linger first).

    One lead() window on the user shuffle produces (src, dst, gap);
    medians are exact order statistics at VALUE grain per pair
    (distinct observed gaps, windows bounded by the time-resolution of
    the data — never the event count); the mean is exact bigint
    seconds, one double division.
    """
    ev = load_events(spark, sf_dir)
    # ordering on (us, event_id) == (ts, event_id): unix_micros is
    # monotone in ts at the data's microsecond resolution
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = (
        ev.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .select(
            "src",
            F.lead("src").over(w).alias("dst"),
            "us",
            F.lead("us").over(w).alias("next_us"),
        )
        .where(F.col("dst").isNotNull())
        .select(
            "src",
            "dst",
            F.expr("(next_us - us) div 1000000").cast("bigint").alias("gap_s"),
        )
    )
    cnt = trans.groupBy("src", "dst", "gap_s").agg(F.count(F.lit(1)).alias("c"))
    wv = (
        Window.partitionBy("src", "dst")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cnt.withColumn("cum", F.sum("c").over(wv))
    tot = trans.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
        F.sum("gap_s").alias("sum_gap"),
    )
    med = (
        cum.join(F.broadcast(tot.select("src", "dst", "n")), ["src", "dst"])
        .where(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("src", "dst")
        .agg(F.min("gap_s").alias("median_gap_s"))
    )
    return tot.join(med, ["src", "dst"]).select(
        "src",
        "dst",
        F.col("n").alias("n_transitions"),
        "min_gap_s",
        "median_gap_s",
        "max_gap_s",
        (F.col("sum_gap").cast("double") / F.col("n").cast("double")).alias(
            "mean_gap_s"
        ),
    )


ORACLE_MARKOV_DWELL = """
with trans as materialized (
    select src, dst, (next_us - us) // 1000000 as gap_s from (
        select event_type as src,
            lead(event_type) over (partition by user_id order by ts, event_id)
                as dst,
            epoch_us(ts) as us,
            lead(epoch_us(ts)) over (partition by user_id order by ts, event_id)
                as next_us
        from events
    ) where dst is not null
),
cnt as (select src, dst, gap_s, count(*) as c from trans group by 1, 2, 3),
cum as (
    select src, dst, gap_s,
        sum(c) over (partition by src, dst order by gap_s
                     rows between unbounded preceding and current row) as cum
    from cnt
),
tot as (
    select src, dst, count(*) as n, min(gap_s) as min_gap_s,
        max(gap_s) as max_gap_s, sum(gap_s) as sum_gap
    from trans group by 1, 2
),
med as (
    select c.src, c.dst, min(c.gap_s) as median_gap_s
    from cum c join tot t on c.src = t.src and c.dst = t.dst
    where c.cum >= (t.n + 1) // 2
    group by 1, 2
)
select t.src, t.dst, t.n as n_transitions,
    cast(t.min_gap_s as bigint) as min_gap_s,
    cast(m.median_gap_s as bigint) as median_gap_s,
    cast(t.max_gap_s as bigint) as max_gap_s,
    cast(t.sum_gap as double) / cast(t.n as double) as mean_gap_s
from tot t join med m on t.src = m.src and t.dst = m.dst
"""


# -------------------------------------------- watermark lateness audit

JITTER_WINDOW_US = 600_000_000  # simulated arrival jitter: 0..10 min
LATENESS_DELAYS_S = [0, 30, 60, 120, 300, 600]
ARRIVAL_BUCKET_US = 3_600_000_000  # 1 h of arrival time per prefix bucket


def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-tuning report: for each candidate
    ``withWatermark`` delay, how many events a streaming job would DROP
    because they arrive later than (max event time seen so far − delay).
    At 100 TB you run this once over an arrival log and read the delay
    that meets the loss budget, instead of discovering it from a
    production stream's dropped-row metrics.

    The synthetic corpus arrives perfectly time-ordered (audited: zero
    natural lateness), so the gated key simulates bounded network
    jitter deterministically — arrival time = event time + md5-derived
    delay < 10 min — and audits THAT arrival sequence. Production
    callers pass their real arrival column through the identical
    machinery; the simulation is the gate's planted data, not part of
    the operator.

    Scale shape — distributed prefix-max, never a global window over
    rows: arrival time is range-bucketed into 1-hour chunks (the
    hypertable pattern); the running max of event time is computed
    WITHIN each bucket (partitioned window, bounded by the hourly
    event rate), and a cumulative max over the tiny hour-grain bucket
    summary (calendar-bounded single-partition window — the documented
    safe class) carries the prefix across buckets. Lateness is a
    DIFFERENCE of integer microseconds, so any session-TZ offset in
    the timestamp decoding cancels; the final fractions are one double
    division of exact counts.
    """
    ev = load_events(spark, sf_dir).select(
        "event_id",
        F.unix_micros("ts").alias("micros"),
    )
    jit = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % JITTER_WINDOW_US
    )
    # lazily checkpointed: arr feeds BOTH the per-bucket window and the
    # bucket summary — without it each branch re-scans the source and
    # re-derives the md5 jitter
    arr = (
        ev.select("event_id", "micros", (F.col("micros") + jit).alias("arr_us"))
        .withColumn("bucket", F.expr(f"arr_us div {ARRIVAL_BUCKET_US}"))
        .localCheckpoint(eager=False)
    )

    in_bucket = Window.partitionBy("bucket").orderBy("arr_us", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = arr.withColumn("local_max", F.max("micros").over(in_bucket))

    bsum = arr.groupBy("bucket").agg(F.max("micros").alias("bmax"))
    carry_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    carry = bsum.withColumn("carry_in", F.max("bmax").over(carry_w)).select(
        "bucket", "carry_in"
    )

    late = (
        local.join(F.broadcast(carry), "bucket")
        .select(
            F.greatest(
                F.coalesce("local_max", F.lit(-(1 << 62))),
                F.coalesce("carry_in", F.lit(-(1 << 62))),
            ).alias("pm"),
            "micros",
        )
        .select(
            F.when(F.col("pm") > F.col("micros"), F.col("pm") - F.col("micros"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("late_us")
        )
    )
    # coalesce: an EMPTY arrival log must report zero drops, not NULLs
    aggs = [F.count(F.lit(1)).alias("n_total")] + [
        F.coalesce(
            F.sum(F.when(F.col("late_us") > d * 1_000_000, 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias(f"d{d}")
        for d in LATENESS_DELAYS_S
    ]
    one = late.agg(*aggs)
    stack_expr = "stack({n}, {items}) as (delay_s, n_dropped)".format(
        n=len(LATENESS_DELAYS_S),
        items=", ".join(
            f"cast({d} as bigint), d{d}" for d in LATENESS_DELAYS_S
        ),
    )
    return one.select(F.expr(stack_expr), "n_total").select(
        "delay_s",
        "n_dropped",
        F.round(
            F.col("n_dropped") / F.when(F.col("n_total") != 0, F.col("n_total")),
            4,
        ).alias("frac_dropped"),
    )


def oracle_watermark_lateness_audit() -> str:
    grid = ", ".join(str(d) for d in LATENESS_DELAYS_S)
    return f"""
with e as (
    select event_id, epoch_us(ts) as micros,
        epoch_us(ts) + cast(('0x' || substr(md5(cast(event_id as varchar)), 1, 8))::int64
                            % {JITTER_WINDOW_US} as int64) as arr_us
    from events
),
w as (
    select micros,
        max(micros) over (order by arr_us, event_id
                          rows between unbounded preceding and 1 preceding) as pm
    from e
),
l as materialized (
    select case when pm > micros then pm - micros else cast(0 as bigint) end as late_us
    from w
),
g as (select unnest([{grid}]) as delay_s)
select cast(g.delay_s as bigint) as delay_s,
    cast(sum(case when l.late_us > g.delay_s * 1000000 then 1 else 0 end) as bigint)
        as n_dropped,
    round(cast(sum(case when l.late_us > g.delay_s * 1000000 then 1 else 0 end) as double)
          / count(*), 4) as frac_dropped
from g cross join l
group by 1
"""


# ------------------------------------------------- CDC changelog compaction

CDC_DELETE_TYPE = "error"  # changelog op mapping: 'error' rows tombstone


def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog COMPACTION — the batch "latest snapshot from a
    change feed" op (Debezium topic → current-state table): events are
    read as a per-user changelog ordered by (ts, event_id);
    ``CDC_DELETE_TYPE`` rows are tombstones, everything else upserts
    the user's state. Output = one row per LIVE user (users whose
    latest change is a delete are absent).

    Scale shape: ONE map-side-combinable hash aggregate —
    ``max(struct(ts, event_id, event_type, value))`` per user — never
    the ``row_number() over (partition by user order by ts desc)``
    window formulation, which funnels every change for a hot key into
    a single task. The streaming sibling (`stream_cdc_apply`) folds
    the same changelog incrementally through
    ``lakehouse.apply_changes`` and shares this oracle verbatim.
    """
    ev = load_events(spark, sf_dir)
    last = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("last")
    )
    return last.where(F.col("last.event_type") != CDC_DELETE_TYPE).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("last.ts").alias("last_ts"),
        F.col("last.event_type").alias("last_event_type"),
        F.col("last.value").alias("last_value"),
    )


ORACLE_CDC_LATEST_STATE = f"""
with r as (
    select user_id, ts, event_type, value,
        row_number() over (
            partition by user_id order by ts desc, event_id desc
        ) as rn
    from events
)
select cast(user_id as bigint) as user_id,
    ts as last_ts,
    event_type as last_event_type,
    value as last_value
from r
where rn = 1 and event_type <> '{CDC_DELETE_TYPE}'
"""


def oracle_stream_distinct_sketch() -> str:
    """Oracle for the streaming HLL key: the batch oracle minus the
    exact-count column (exact distinct needs corpus-scale online state;
    the registers are the thing the stream maintains). Register
    max-merge associativity + idempotence make the streamed estimates
    equal the batch estimates bit-for-bit."""
    return (
        "select event_type, est_m16, est_m256, est_m4096 from ("
        + oracle_sketch_distinct_users()
        + ") _batch_sketch"
    )

"""Statistical marts over the order facts: trend regression, weekday
seasonality, robust (winsorized) revenue statistics, inter-purchase
intervals, and a price/size pareto frontier.

Reference analogue: the reference's gold marts stop at grouped sums
(models/gold/gold_revenue_analysis.sql aggregates by month); these are
the next-step statistics an analyst derives from the same facts. Each
is expressed so both engines do EXACT integer/decimal arithmetic until
one final IEEE double division — the repo-wide determinism recipe
(SURVEY §3): order-independent bigint sums, never float accumulation.

Scale shape notes per mart are on the functions; the common pattern is
"aggregate to a bounded grain first" (day / weekday / segment), so the
statistics run over calendar- or catalog-bounded inputs no matter the
fact scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.sources.registry import load_table

EPOCH = "1970-01-01"

# Winsorization percentiles (per hundred, exact integer ranks).
WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


def _order_cents() -> F.Column:
    """Exact money: o_totalprice double → decimal(18,2) → bigint cents."""
    return (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")


def _epoch_day() -> F.Column:
    return F.datediff(F.to_date(F.col("o_orderdate")), F.lit(EPOCH).cast("date"))


def revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region least-squares revenue trend (cents/day) over DAILY
    revenue.

    Numerics: pre-aggregating to day grain bounds every OLS sum by the
    calendar (|x| <= day span, y = daily cents), so all five moment sums
    (n, Sx, Sy, Sxy, Sxx) stay exact bigints far below 2^63 even at
    sf1000; x is re-based to the GLOBAL min order date (one scalar
    broadcast, same trick as the as-of marts) to keep Sxx small. Slope
    and intercept are then single IEEE double expressions over those
    exact integers — bit-identical on any engine.

    Scale shape: one fact shuffle to (region, day) grain with map-side
    partial aggregation, then a 5-group rollup; the nation⋈region dim is
    broadcast. The OLS itself runs over <= |regions| x |days| rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", F.col("r_name").alias("region_name")
        )
    )
    daily = (
        orders.select(
            "o_custkey",
            _epoch_day().alias("eday"),
            _order_cents().alias("cents"),
        )
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(dims, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("region_name", "eday")
        .agg(F.sum("cents").alias("day_cents"))
    )
    # One-row global minimum day, broadcast to re-base x.
    min_day = orders.agg(F.min(_epoch_day()).alias("min_eday"))
    based = daily.crossJoin(F.broadcast(min_day)).select(
        "region_name",
        (F.col("eday") - F.col("min_eday")).cast("bigint").alias("x"),
        F.col("day_cents").alias("y"),
    )
    moments = based.groupBy("region_name").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return moments.select(
        "region_name",
        "n_days",
        slope.alias("slope_cents_per_day"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n_days").cast("double")
        ).alias("intercept_cents"),
    )


def oracle_revenue_trend() -> str:
    return f"""
with daily as (
    select r.r_name as region_name,
        datediff('day', date '{EPOCH}', cast(o.o_orderdate as date)) as eday,
        sum(cast(cast(o.o_totalprice as decimal(18,2)) * 100 as bigint)) as day_cents
    from orders o
    join customer c on o.o_custkey = c.c_custkey
    join nation n on c.c_nationkey = n.n_nationkey
    join region r on n.n_regionkey = r.r_regionkey
    group by 1, 2
),
based as (
    select region_name,
        cast(eday - (select min(datediff('day', date '{EPOCH}',
            cast(o_orderdate as date))) from orders) as bigint) as x,
        day_cents as y
    from daily
),
moments as (
    select region_name, count(*) as n_days,
        sum(x) as sx, sum(y) as sy, sum(x * y) as sxy, sum(x * x) as sxx
    from based group by 1
)
select region_name, n_days,
    cast(n_days * sxy - sx * sy as double)
        / cast(n_days * sxx - sx * sx as double) as slope_cents_per_day,
    (cast(sy as double)
        - (cast(n_days * sxy - sx * sy as double)
           / cast(n_days * sxx - sx * sx as double)) * cast(sx as double))
        / cast(n_days as double) as intercept_cents
from moments
"""


def revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality index: (avg daily revenue on weekday w) /
    (overall avg daily revenue), per weekday 0=Mon..6=Sun.

    The weekday is derived arithmetically — ``(epoch_day + 3) mod 7``
    (1970-01-01 was a Thursday) — instead of each engine's dayofweek()
    function, whose origin and week start differ across engines/locales.
    The index is a ratio of four exact bigints arranged as ONE double
    division: (dow_sum * total_days) / (dow_days * total_sum).

    Scale shape: facts collapse to day grain in one partial-aggregated
    shuffle; everything after runs on <= |calendar| rows, and the grand
    totals are a single-row broadcast join.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(_epoch_day().alias("eday"), _order_cents().alias("cents"))
        .groupBy("eday")
        .agg(F.sum("cents").alias("day_cents"))
    )
    by_dow = daily.groupBy(((F.col("eday") + 3) % 7).alias("weekday")).agg(
        F.count("*").alias("n_days"),
        F.sum("day_cents").alias("dow_cents"),
    )
    totals = daily.agg(
        F.count("*").alias("total_days"), F.sum("day_cents").alias("total_cents")
    )
    joined = by_dow.crossJoin(F.broadcast(totals))
    return joined.select(
        F.col("weekday").cast("bigint").alias("weekday"),
        "n_days",
        (F.col("dow_cents").cast("double") / F.lit(100.0)).alias("dow_revenue"),
        (
            (F.col("dow_cents") * F.col("total_days")).cast("double")
            / (F.col("n_days") * F.col("total_cents")).cast("double")
        ).alias("seasonality_index"),
    )


def oracle_revenue_seasonality() -> str:
    return f"""
with daily as (
    select datediff('day', date '{EPOCH}', cast(o_orderdate as date)) as eday,
        sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as day_cents
    from orders group by 1
),
by_dow as (
    select (eday + 3) % 7 as weekday, count(*) as n_days,
        sum(day_cents) as dow_cents
    from daily group by 1
),
totals as (
    select count(*) as total_days, sum(day_cents) as total_cents from daily
)
select cast(weekday as bigint) as weekday, n_days,
    cast(dow_cents as double) / 100.0 as dow_revenue,
    cast(dow_cents * total_days as double)
        / cast(n_days * total_cents as double) as seasonality_index
from by_dow, totals
"""


def winsorized_revenue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment robust revenue stats: order totals winsorized
    (clamped) at the exact p05/p95 order statistics, then averaged.

    The percentile is defined EXPLICITLY as "the value at ascending rank
    ceil(p*n/100), ties broken by order key" — computed with the same
    row_number expression on both engines, because builtin quantile
    functions (percentile_disc / quantile_disc / percentile_approx)
    disagree across engines on interpolation and tie handling. Clamped
    cents are exact bigints; the mean is one double division.

    Scale shape: one shuffle to (segment) partitions for the rank
    window. Segment count is catalog-bounded but segment SIZE scales
    with the facts — at 100 TB the rank-window would be replaced by the
    two-pass "count then filter to rank neighborhood" plan; at any SF
    the windowed version is one shuffle + one linear pass, no driver
    collect.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    seg = orders.select("o_orderkey", "o_custkey", _order_cents().alias("cents")).join(
        customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "o_orderkey")
    ranked = seg.select(
        "c_mktsegment",
        "cents",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("c_mktsegment")).alias("n"),
    )
    lo_rk = -F.floor(-(F.col("n") * WINSOR_LO_PCT) / 100)  # ceil(n*5/100)
    hi_rk = -F.floor(-(F.col("n") * WINSOR_HI_PCT) / 100)
    cuts = (
        ranked.where((F.col("rk") == lo_rk) | (F.col("rk") == hi_rk))
        .groupBy("c_mktsegment")
        .agg(F.min("cents").alias("lo_cents"), F.max("cents").alias("hi_cents"))
    )
    clamped = ranked.join(F.broadcast(cuts), "c_mktsegment").select(
        "c_mktsegment",
        "n",
        F.greatest(F.col("lo_cents"), F.least(F.col("hi_cents"), F.col("cents"))).alias(
            "wcents"
        ),
    )
    return clamped.groupBy("c_mktsegment").agg(
        F.max("n").alias("n_orders"),
        (F.min("wcents").cast("double") / 100).alias("winsor_lo"),
        (F.max("wcents").cast("double") / 100).alias("winsor_hi"),
        (
            F.sum("wcents").cast("double") / (F.max("n") * 100).cast("double")
        ).alias("winsorized_mean"),
    )


def oracle_winsorized_revenue_stats() -> str:
    return f"""
with seg as (
    select c.c_mktsegment, o.o_orderkey,
        cast(cast(o.o_totalprice as decimal(18,2)) * 100 as bigint) as cents
    from orders o join customer c on o.o_custkey = c.c_custkey
),
ranked as (
    select c_mktsegment, cents,
        row_number() over (partition by c_mktsegment
                           order by cents, o_orderkey) as rk,
        count(*) over (partition by c_mktsegment) as n
    from seg
),
cuts as (
    select c_mktsegment, min(cents) as lo_cents, max(cents) as hi_cents
    from ranked
    where rk = ceil(n * {WINSOR_LO_PCT} / 100.0)
       or rk = ceil(n * {WINSOR_HI_PCT} / 100.0)
    group by 1
),
clamped as (
    select r.c_mktsegment, r.n,
        greatest(c.lo_cents, least(c.hi_cents, r.cents)) as wcents
    from ranked r join cuts c on r.c_mktsegment = c.c_mktsegment
)
select c_mktsegment, max(n) as n_orders,
    cast(min(wcents) as double) / 100 as winsor_lo,
    cast(max(wcents) as double) / 100 as winsor_hi,
    cast(sum(wcents) as double) / cast(max(n) * 100 as double) as winsorized_mean
from clamped group by 1
"""


def customer_interpurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution per market segment: gaps in
    days between a customer's consecutive orders (ties on the same day
    count as 0-day gaps, ordered by order key).

    Scale shape: ONE shuffle on o_custkey for the lag window (per-
    customer partitions are order-count bounded), then a partial-
    aggregated rollup to the 5 segments. Exact bigint day gaps; the
    mean is the single final double division.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("eday", "o_orderkey")
    gaps = (
        orders.select("o_orderkey", "o_custkey", _epoch_day().alias("eday"))
        .withColumn("prev_eday", F.lag("eday").over(w))
        .where(F.col("prev_eday").isNotNull())
        .select(
            "o_custkey", (F.col("eday") - F.col("prev_eday")).cast("bigint").alias("gap")
        )
    )
    return (
        gaps.join(
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_repeat_customers"),
            F.count("*").alias("n_gaps"),
            F.min("gap").alias("min_gap_days"),
            F.max("gap").alias("max_gap_days"),
            (F.sum("gap").cast("double") / F.count("*").cast("double")).alias(
                "avg_gap_days"
            ),
        )
    )


def oracle_customer_interpurchase() -> str:
    return f"""
with gaps as (
    select o_custkey,
        datediff('day', date '{EPOCH}', cast(o_orderdate as date))
        - lag(datediff('day', date '{EPOCH}', cast(o_orderdate as date)))
            over (partition by o_custkey
                  order by datediff('day', date '{EPOCH}',
                                    cast(o_orderdate as date)), o_orderkey)
            as gap
    from orders
)
select c.c_mktsegment,
    count(distinct g.o_custkey) as n_repeat_customers,
    count(*) as n_gaps,
    cast(min(g.gap) as bigint) as min_gap_days,
    cast(max(g.gap) as bigint) as max_gap_days,
    cast(sum(g.gap) as double) / cast(count(*) as double) as avg_gap_days
from gaps g join customer c on g.o_custkey = c.c_custkey
where g.gap is not null
group by 1
"""


def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/size skyline over the part catalog: parts not dominated by
    any other part (dominated = another part is no more expensive AND no
    smaller, strictly better on at least one axis; exact-tie twins are
    both kept).

    Spark-first skyline: instead of the O(n²) NOT EXISTS self-join (the
    oracle), collapse to one row per distinct price (max size per
    price — a partial-aggregated shuffle), take the running max size
    over strictly cheaper prices (a window over |distinct prices| rows),
    and keep parts whose size equals their price-group max and strictly
    exceeds every cheaper group's. The frontier test then broadcasts
    back to the catalog — total cost one agg shuffle + one bounded
    window + one broadcast join, vs the oracle's quadratic pair scan.
    Price compares in exact cents (double money would make "tie" engine-
    dependent).
    """
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    by_price = p.groupBy("price_cents").agg(F.max("size").alias("gmax"))
    w = Window.orderBy("price_cents").rowsBetween(Window.unboundedPreceding, -1)
    marked = by_price.withColumn("cheaper_max", F.max("gmax").over(w))
    frontier_prices = marked.where(
        F.col("cheaper_max").isNull() | (F.col("gmax") > F.col("cheaper_max"))
    ).select("price_cents", F.col("gmax").alias("frontier_size"))
    return (
        p.join(F.broadcast(frontier_prices), "price_cents")
        .where(F.col("size") == F.col("frontier_size"))
        .select(
            "p_partkey",
            (F.col("price_cents").cast("double") / 100).alias("retail_price"),
            F.col("size").alias("p_size"),
        )
    )


def oracle_pareto_frontier_parts() -> str:
    return """
with p as (
    select p_partkey,
        cast(cast(p_retailprice as decimal(18,2)) * 100 as bigint) as price_cents,
        cast(p_size as bigint) as size
    from part
)
select a.p_partkey,
    cast(a.price_cents as double) / 100 as retail_price,
    a.size as p_size
from p a
where not exists (
    select 1 from p b
    where b.price_cents <= a.price_cents and b.size >= a.size
      and (b.price_cents < a.price_cents or b.size > a.size)
)
"""


HHI_BP_ONE = 10_000  # shares quantized to basis points


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report per supplier region: the Herfindahl-
    Hirschman index over supplier revenue shares, with shares quantized
    to integer BASIS POINTS before squaring — Σ(share_bp²) is exact
    bigint arithmetic at ANY corpus scale (raw cent-squares overflow
    bigint beyond ~sf1 and decimal→double casts cost engine ULPs; the
    ≤1bp quantization error is the documented price of bit-portability).
    HHI > 2500 (0.25 normalized) is the standard "highly concentrated"
    line — here it flags regions where one supplier's failure is a
    revenue event.

    Scale shape: one fact shuffle to supplier grain (partial agg), the
    nation⋈region dim broadcast, region totals a 5-row broadcast join,
    then a 5-group rollup. Floor-division shares mean Σshare_bp ≤ 10000
    per region (remainder dust < n_suppliers bp).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", F.col("r_name").alias("region_name")
        )
    )
    rev = (
        li.select(
            "l_suppkey",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("cents").alias("sup_cents"))
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
    )
    totals = rev.groupBy("region_name").agg(F.sum("sup_cents").alias("reg_cents"))
    shares = rev.join(F.broadcast(totals), "region_name").select(
        "region_name",
        "sup_cents",
        F.expr(f"(sup_cents * {HHI_BP_ONE}) div reg_cents").alias("share_bp"),
    )
    return shares.groupBy("region_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.max("share_bp").cast("bigint").alias("top_share_bp"),
        F.sum(F.col("share_bp") * F.col("share_bp")).cast("bigint").alias("hhi_bp2"),
        (
            F.sum(F.col("share_bp") * F.col("share_bp")).cast("double")
            / F.lit(float(HHI_BP_ONE * HHI_BP_ONE))
        ).alias("hhi"),
    )


def oracle_supplier_hhi() -> str:
    return f"""
with rev as (
    select l.l_suppkey,
        sum(cast(cast(l.l_extendedprice as decimal(18,2)) * 100 as bigint))
            as sup_cents
    from lineitem l group by 1
),
located as (
    select r.r_name as region_name, v.sup_cents
    from rev v
    join supplier s on v.l_suppkey = s.s_suppkey
    join nation n on s.s_nationkey = n.n_nationkey
    join region r on n.n_regionkey = r.r_regionkey
),
tot as (
    select region_name, sum(sup_cents) as reg_cents from located group by 1
),
shares as (
    select l.region_name,
        (l.sup_cents * {HHI_BP_ONE}) // t.reg_cents as share_bp
    from located l join tot t on l.region_name = t.region_name
)
select region_name,
    count(*) as n_suppliers,
    cast(max(share_bp) as bigint) as top_share_bp,
    cast(sum(share_bp * share_bp) as bigint) as hhi_bp2,
    cast(sum(share_bp * share_bp) as double) / {HHI_BP_ONE * HHI_BP_ONE}.0 as hhi
from shares group by 1
"""


def part_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per part-type price quartiles (q1/median/q3 + IQR) as EXPLICIT
    order statistics: value at ascending rank ceil(k·n/4), computed by
    one value-grain cumulative-count pass per group and a single
    conditional aggregation for all three quartiles — no builtin
    quantile functions (engines disagree on interpolation), no per-row
    rank window (the cum window runs over (type, distinct cents), both
    catalog-bounded).
    """
    part = load_table(spark, sf_dir, "part")
    vals = part.select(
        "p_type",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    cnt = vals.groupBy("p_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("p_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cnt.withColumn("cum", F.sum("c").over(w))
    tot = vals.groupBy("p_type").agg(F.count(F.lit(1)).alias("n"))
    j = cum.join(F.broadcast(tot), "p_type")
    qsel = lambda k: F.min(
        F.when(F.col("cum") >= F.expr(f"({k} * n + 3) div 4"), F.col("cents"))
    )
    return (
        j.groupBy("p_type")
        .agg(
            F.max("n").alias("n_parts"),
            qsel(1).alias("q1c"),
            qsel(2).alias("q2c"),
            qsel(3).alias("q3c"),
        )
        .select(
            "p_type",
            "n_parts",
            (F.col("q1c").cast("double") / 100).alias("q1_price"),
            (F.col("q2c").cast("double") / 100).alias("median_price"),
            (F.col("q3c").cast("double") / 100).alias("q3_price"),
            ((F.col("q3c") - F.col("q1c")).cast("double") / 100).alias("iqr"),
        )
    )


def oracle_part_price_quartiles() -> str:
    return """
with vals as (
    select p_type,
        cast(cast(p_retailprice as decimal(18,2)) * 100 as bigint) as cents
    from part
),
cnt as (select p_type, cents, count(*) as c from vals group by 1, 2),
cum as (
    select p_type, cents,
        sum(c) over (partition by p_type order by cents
                     rows between unbounded preceding and current row) as cum
    from cnt
),
tot as (select p_type, count(*) as n from vals group by 1)
select c.p_type,
    max(t.n) as n_parts,
    cast(min(case when c.cum >= (1 * t.n + 3) // 4 then c.cents end) as double)
        / 100 as q1_price,
    cast(min(case when c.cum >= (2 * t.n + 3) // 4 then c.cents end) as double)
        / 100 as median_price,
    cast(min(case when c.cum >= (3 * t.n + 3) // 4 then c.cents end) as double)
        / 100 as q3_price,
    cast(min(case when c.cum >= (3 * t.n + 3) // 4 then c.cents end)
         - min(case when c.cum >= (1 * t.n + 3) // 4 then c.cents end) as double)
        / 100 as iqr
from cum c join tot t on c.p_type = t.p_type
group by 1
"""


def customer_decile_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by customer decile: customers ranked by
    lifetime spend, cut into 10 EXPLICIT integer-rank deciles
    (decile = ((rank-1)*10) div n — no ntile(), whose remainder
    distribution is engine-defined), each decile's share of total
    revenue. The \"top decile drives X% of revenue\" chart.

    One shuffle to customer grain, one rank window over customers
    (catalog-scale; at true 100 TB the rank would ride the value-grain
    trick like the quartile marts — spend ties are rare enough here
    that the direct window documents the simpler shape), then a
    10-group rollup. Shares are exact bigint cents, one double
    division each.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_order_cents()).alias("cust_cents")
    )
    w = Window.orderBy(F.desc("cust_cents"), F.asc("o_custkey"))
    ranked = per_cust.select(
        "cust_cents",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).alias("n"),
    )
    deciles = ranked.groupBy(
        F.expr("((rk - 1) * 10) div n").cast("bigint").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cust_cents").alias("dec_cents"),
    )
    total = per_cust.agg(F.sum("cust_cents").alias("tot_cents"))
    return deciles.crossJoin(F.broadcast(total)).select(
        "decile",
        "n_customers",
        (F.col("dec_cents").cast("double") / 100).alias("decile_revenue"),
        (
            F.col("dec_cents").cast("double") / F.col("tot_cents").cast("double")
        ).alias("revenue_share"),
    )


def oracle_customer_decile_revenue() -> str:
    return """
with per_cust as (
    select o_custkey,
        sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as cust_cents
    from orders group by 1
),
ranked as (
    select cust_cents,
        row_number() over (order by cust_cents desc, o_custkey) as rk,
        count(*) over () as n
    from per_cust
),
deciles as (
    select cast(((rk - 1) * 10) // n as bigint) as decile,
        count(*) as n_customers,
        sum(cust_cents) as dec_cents
    from ranked group by 1
),
total as (select sum(cust_cents) as tot_cents from per_cust)
select decile, n_customers,
    cast(dec_cents as double) / 100 as decile_revenue,
    cast(dec_cents as double) / cast(tot_cents as double) as revenue_share
from deciles cross join total
"""


def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split into NEW customers (first-ever order falls
    in that month) vs RETURNING — the growth-accounting mart every
    subscription/commerce dashboard leads with.

    A customer's first month comes from one min() at customer grain
    (no window over the fact table), joined back onto the month-grain
    rollup of that same aggregate — two shrinking shuffles, exact cents
    everywhere, shares as single double divisions.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        _order_cents().alias("cents"),
    )
    cust_month = base.groupBy("o_custkey", "month").agg(
        F.sum("cents").alias("cm_cents")
    )
    first_month = cust_month.groupBy("o_custkey").agg(
        F.min("month").alias("first_month")
    )
    tagged = cust_month.join(first_month, "o_custkey").select(
        "o_custkey",
        "month",
        "cm_cents",
        (F.col("month") == F.col("first_month")).alias("is_new"),
    )
    agg = tagged.groupBy("month").agg(
        F.sum(F.when(F.col("is_new"), F.col("cm_cents")).otherwise(0)).alias("new_c"),
        F.sum(F.when(~F.col("is_new"), F.col("cm_cents")).otherwise(0)).alias("ret_c"),
        F.countDistinct(F.when(F.col("is_new"), F.col("o_custkey"))).alias(
            "n_new_customers"
        ),
        F.countDistinct(F.when(~F.col("is_new"), F.col("o_custkey"))).alias(
            "n_returning_customers"
        ),
    )
    return agg.select(
        "month",
        "n_new_customers",
        "n_returning_customers",
        (F.col("new_c").cast("double") / 100).alias("new_revenue"),
        (F.col("ret_c").cast("double") / 100).alias("returning_revenue"),
        (
            F.col("new_c").cast("double")
            / (F.col("new_c") + F.col("ret_c")).cast("double")
        ).alias("new_share"),
    )


def oracle_new_vs_returning_revenue() -> str:
    return """
with base as (
    select o_custkey, strftime(cast(o_orderdate as date), '%Y-%m') as month,
        cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) as cents
    from orders
),
cust_month as (
    select o_custkey, month, sum(cents) as cm_cents from base group by 1, 2
),
first_month as (
    select o_custkey, min(month) as first_month from cust_month group by 1
),
tagged as (
    select c.month, c.cm_cents, c.o_custkey,
        c.month = f.first_month as is_new
    from cust_month c join first_month f on c.o_custkey = f.o_custkey
)
select month,
    count(distinct case when is_new then o_custkey end) as n_new_customers,
    count(distinct case when not is_new then o_custkey end)
        as n_returning_customers,
    cast(sum(case when is_new then cm_cents else 0 end) as double) / 100
        as new_revenue,
    cast(sum(case when not is_new then cm_cents else 0 end) as double) / 100
        as returning_revenue,
    cast(sum(case when is_new then cm_cents else 0 end) as double)
        / cast(sum(cm_cents) as double) as new_share
from tagged
group by 1
"""

"""dbt-style data-quality engine (reference test parity).

The reference declares generic tests in models/*/*.yml (unique, not_null,
relationships, accepted_values) plus two singular tests
(tests/assert_customer_email_format.sql, tests/assert_positive_revenue.sql —
stub files in the reference; given real semantics here).

One declarative CHECKS list is the single source of truth; it drives BOTH
the Spark implementation (lazy DataFrame per check, unioned into one
result) and the DuckDB oracle SQL generator — so the DQ engine itself is
under the driver's hash-parity gate.

Scale: each check is one aggregation over one model; Spark executes the
union as independent jobs sharing scan/shuffle lineage. At 100 TB you run
this per layer after materialization (runner.py), not per query.

NOTE (reference parity): silver.yml:74-77 accepts only
['credit_card','bank_transfer','paypal','cash','other'] for
payment_method although silver_payments.sql can emit 'digital_wallet' —
the reference's own dbt test fails on any digital-wallet payment. We
reproduce that check verbatim (nonzero failures expected) and add an
``accepted_values_extended`` check with the full domain (0 failures).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.models import bronze, silver, gold
from ecommerce_dbt_medallion_spark.sources import mapping
from ecommerce_dbt_medallion_spark.oracle import medallion as omed

# model name → Spark DataFrame builder (spark, sf_dir) -> DataFrame
MODEL_REGISTRY = {
    "raw_customers": mapping.raw_customers,
    "raw_orders": mapping.raw_orders,
    "raw_payments": mapping.raw_payments,
    "bronze_customers": bronze.bronze_customers,
    "bronze_orders": bronze.bronze_orders,
    "bronze_payments": bronze.bronze_payments,
    "silver_customers": silver.silver_customers,
    "silver_orders": silver.silver_orders,
    "silver_payments": silver.silver_payments,
    "gold_customer_summary": gold.gold_customer_summary,
    "gold_order_metrics": gold.gold_order_metrics,
    "gold_revenue_analysis": gold.gold_revenue_analysis,
}


@dataclass(frozen=True)
class Check:
    model: str
    column: str
    # unique | not_null | relationships | accepted_values[_extended] |
    # non_negative (dbt_utils.accepted_range(min_value=0) parity)
    test: str
    to_model: str = ""      # relationships: parent model
    to_column: str = ""     # relationships: parent column
    values: tuple[str, ...] = field(default_factory=tuple)  # accepted_values
    # How dq_failed_rows renders offending values of this column —
    # drives BOTH engines (see _render_value / _render_value_sql):
    # "str" (int/string: plain cast), "decimal" (fixed decimal(38,6)
    # rendering), "timestamp" (explicit µs format).
    value_type: str = "str"


ACCEPTED_STATUSES = ("completed", "pending", "cancelled", "unknown")
REF_ACCEPTED_METHODS = ("credit_card", "bank_transfer", "paypal", "cash", "other")
FULL_ACCEPTED_METHODS = REF_ACCEPTED_METHODS + ("digital_wallet",)

# Rendering parity (dq_failed_rows): Spark cast(string) and DuckDB
# cast(varchar) agree for ints and strings but diverge for double/
# decimal/timestamp (scientific notation, trailing zeros, T-separator).
# A check on such a column must declare ``value_type`` so both engines
# render through the same explicit normalization ("decimal": fixed
# decimal(38,6) → string, identical digits; "timestamp": explicit
# µs-precision format string). Round 6 removed the old int/string-only
# constraint; the non_negative check on bronze_payments.payment_amount
# (decimal(18,4), seeded negatives) exercises the decimal path under
# the hash gate. Declared value_type is VALIDATED against the column's
# actual dtype at run time (_assert_value_type) — a double under the
# default 'str' rendering would silently reintroduce the cross-engine
# formatting divergence this mechanism exists to prevent.
CHECKS: list[Check] = [
    # sources — models/bronze/bronze.yml:13-42 (dirt is seeded → nonzero)
    Check("raw_customers", "id", "unique"),
    Check("raw_customers", "id", "not_null"),
    Check("raw_customers", "email", "unique"),
    Check("raw_customers", "first_name", "not_null"),
    Check("raw_customers", "last_name", "not_null"),
    Check("raw_orders", "id", "unique"),
    Check("raw_orders", "id", "not_null"),
    Check("raw_orders", "user_id", "not_null"),
    Check("raw_orders", "user_id", "relationships", to_model="raw_customers", to_column="id"),
    Check("raw_orders", "amount", "not_null"),
    Check("raw_payments", "id", "unique"),
    Check("raw_payments", "id", "not_null"),
    Check("raw_payments", "order_id", "not_null"),
    Check("raw_payments", "amount", "not_null"),
    # bronze — models/bronze/bronze.yml:44-62
    Check("bronze_customers", "customer_id", "unique"),
    Check("bronze_customers", "customer_id", "not_null"),
    Check("bronze_orders", "order_id", "unique"),
    Check("bronze_orders", "order_id", "not_null"),
    Check("bronze_payments", "payment_id", "unique"),
    Check("bronze_payments", "payment_id", "not_null"),
    # dbt_utils.accepted_range(min_value=0) parity on a DECIMAL column:
    # the raw feed seeds negative amounts, bronze passes them through
    # (silver filters them), so this reports truthfully nonzero.
    Check("bronze_payments", "payment_amount", "non_negative", value_type="decimal"),
    # silver — models/silver/silver.yml
    Check("silver_customers", "customer_key", "unique"),
    Check("silver_customers", "customer_key", "not_null"),
    Check("silver_customers", "customer_id", "unique"),
    Check("silver_customers", "customer_id", "not_null"),
    Check("silver_customers", "email", "unique"),
    Check("silver_customers", "email", "not_null"),
    Check("silver_customers", "full_name", "not_null"),
    Check("silver_customers", "first_name", "not_null"),
    Check("silver_customers", "last_name", "not_null"),
    Check("silver_orders", "order_key", "unique"),
    Check("silver_orders", "order_key", "not_null"),
    Check("silver_orders", "customer_key", "not_null"),
    Check("silver_orders", "customer_key", "relationships",
          to_model="silver_customers", to_column="customer_key"),
    Check("silver_orders", "order_status", "accepted_values", values=ACCEPTED_STATUSES),
    Check("silver_orders", "order_amount", "not_null"),
    Check("silver_payments", "payment_key", "unique"),
    Check("silver_payments", "payment_key", "not_null"),
    Check("silver_payments", "order_key", "not_null"),
    Check("silver_payments", "order_key", "relationships",
          to_model="silver_orders", to_column="order_key"),
    Check("silver_payments", "payment_method", "accepted_values", values=REF_ACCEPTED_METHODS),
    Check("silver_payments", "payment_method", "accepted_values_extended",
          values=FULL_ACCEPTED_METHODS),
    # gold — models/gold/gold.yml
    Check("gold_customer_summary", "customer_key", "unique"),
    Check("gold_customer_summary", "customer_key", "not_null"),
    Check("gold_order_metrics", "order_date", "not_null"),
    Check("gold_revenue_analysis", "order_year_month", "unique"),
    Check("gold_revenue_analysis", "order_year_month", "not_null"),
]


# ------------------------------------------------------------- spark side

def _check_df(spark: SparkSession, sf_dir: str, chk: Check,
              cache: dict[str, DataFrame]) -> DataFrame:
    def model(name: str) -> DataFrame:
        # Deliberately a PLAN cache, not a materialization: each check
        # aggregates 1-2 columns, and Catalyst prunes the model pipeline
        # down to those columns per check. Checkpointing the full-width
        # model here was measured SLOWER at sf0.1 (18.6 s → 21.7 s) —
        # re-running the pruned pipeline beats scanning wide
        # materialized rows.
        if name not in cache:
            cache[name] = MODEL_REGISTRY[name](spark, sf_dir)
        return cache[name]

    df = model(chk.model)
    col = F.col(chk.column)
    if chk.test == "unique":
        failures = (
            df.where(col.isNotNull())
            .groupBy(chk.column)
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .agg(F.count("*").alias("failures"))
        )
    elif chk.test == "not_null":
        failures = df.where(col.isNull()).agg(F.count("*").alias("failures"))
    elif chk.test == "relationships":
        parent = model(chk.to_model).select(F.col(chk.to_column).alias("__pk")).distinct()
        failures = (
            df.where(col.isNotNull())
            .join(parent, col == F.col("__pk"), "left_anti")
            .agg(F.count("*").alias("failures"))
        )
    elif chk.test.startswith("accepted_values"):
        failures = df.where(~col.isin(list(chk.values))).agg(
            F.count("*").alias("failures")
        )
    elif chk.test == "non_negative":
        failures = df.where(col < 0).agg(F.count("*").alias("failures"))
    else:  # pragma: no cover
        raise ValueError(chk.test)
    return failures.select(
        F.lit(chk.model).alias("model_name"),
        F.lit(chk.column).alias("column_name"),
        F.lit(chk.test).alias("test_name"),
        F.col("failures").cast("long").alias("failures"),
    )


def dq_generic_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #10: one row per declared generic test with failure count."""
    cache: dict[str, DataFrame] = {}
    out = None
    for chk in CHECKS:
        d = _check_df(spark, sf_dir, chk, cache)
        out = d if out is None else out.unionByName(d)
    return out


EMAIL_REGEX = "^[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}$"


def dq_singular_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #11: the reference's two singular tests, given semantics.

    - assert_customer_email_format (tests/assert_customer_email_format.sql):
      silver emails must match a conservative RFC-ish pattern.
    - assert_positive_revenue (tests/assert_positive_revenue.sql):
      no customer may have negative lifetime value.
    """
    sc = silver.silver_customers(spark, sf_dir)
    email_fail = sc.where(~F.col("email").rlike(EMAIL_REGEX)).agg(
        F.count("*").alias("failures")
    )
    gcs = gold.gold_customer_summary(spark, sf_dir)
    rev_fail = gcs.where(F.col("lifetime_value") < 0).agg(
        F.count("*").alias("failures")
    )
    return email_fail.select(
        F.lit("assert_customer_email_format").alias("test_name"),
        F.col("failures").cast("long").alias("failures"),
    ).unionByName(
        rev_fail.select(
            F.lit("assert_positive_revenue").alias("test_name"),
            F.col("failures").cast("long").alias("failures"),
        )
    )


# ---------------------------------------------------- store_failures side

# dbt `store_failures` persists the failing ROWS of every test, not just
# the count (dbt-core: tests materialized as tables under a `dbt_test__audit`
# schema when store_failures is set). Parity here: one row per
# (check, offending value) with its occurrence count, capped per test so a
# catastrophically-failing test can't blow up the audit table — dbt has the
# same guard via `store_failures` + `limit`. The cap is deterministic
# (highest count first, then value) so the result is hash-stable.
STORE_FAILURES_LIMIT = 25


def _render_value(col, value_type: str):
    """Engine-portable string rendering of an offending value (Spark
    side; must mirror :func:`_render_value_sql` exactly)."""
    if value_type == "decimal":
        # Fixed decimal(38,6) → string: both engines print all 6 scale
        # digits, no scientific notation, sign included.
        return col.cast("decimal(38,6)").cast("string")
    if value_type == "timestamp":
        # Explicit µs-precision pattern; the default casts diverge
        # (DuckDB omits trailing zero fractions, Spark keeps seconds).
        # to_utc_timestamp(col, current_timezone()) pins the rendering
        # to the instant's UTC wall clock REGARDLESS of the session TZ
        # (plain date_format renders in session TZ, and the driver's
        # session TZ is not ours to control — round-7 review; the
        # DuckDB twin prints naive-as-UTC, so parity needs UTC here).
        return F.date_format(
            F.to_utc_timestamp(col, F.current_timezone()),
            "yyyy-MM-dd HH:mm:ss.SSSSSS",
        )
    return col.cast("string")


def _render_value_sql(expr: str, value_type: str) -> str:
    """DuckDB twin of :func:`_render_value`."""
    if value_type == "decimal":
        return f"cast(cast({expr} as decimal(38,6)) as varchar)"
    if value_type == "timestamp":
        return f"strftime({expr}, '%Y-%m-%d %H:%M:%S.%f')"
    return f"cast({expr} as varchar)"


def _assert_value_type(df: DataFrame, chk: Check) -> None:
    """Fail FAST (with the column named) when a check's declared
    value_type cannot render its column's actual dtype portably —
    the alternative is an opaque hash mismatch at the driver gate
    (round-7 review)."""
    dt = dict(df.dtypes).get(chk.column)
    if dt is None:
        raise ValueError(f"{chk.model}.{chk.column}: no such column")
    if chk.value_type == "decimal":
        ok = dt.startswith("decimal")
    elif chk.value_type == "timestamp":
        ok = dt.startswith("timestamp")
    else:
        # 'str' is safe for int/string/bool/date AND fixed-point
        # decimals (both engines print every scale digit, no scientific
        # notation — raw_orders.amount is certified green this way; use
        # value_type='decimal' when the two engines' scales differ).
        # NOT safe for float/double (shortest-repr vs %g divergence)
        # or timestamps (separator/fraction/TZ divergence).
        ok = not (dt in ("double", "float") or dt.startswith("timestamp"))
    if not ok:
        raise ValueError(
            f"{chk.model}.{chk.column} is {dt} but the check declares "
            f"value_type={chk.value_type!r}; declare the matching "
            "value_type so both engines render identically"
        )


def _failed_rows_df(spark: SparkSession, sf_dir: str, chk: Check,
                    cache: dict[str, DataFrame]) -> DataFrame:
    """Failing VALUES for one check: (offending_value, n_rows)."""
    def model(name: str) -> DataFrame:
        # Plan cache, not materialization — see _check_df.
        if name not in cache:
            cache[name] = MODEL_REGISTRY[name](spark, sf_dir)
        return cache[name]

    df = model(chk.model)
    _assert_value_type(df, chk)
    col = F.col(chk.column)
    # group by the RAW column and render AFTER aggregation: grouping by
    # the rendered string could merge distinct raw values under a
    # non-injective rendering (decimal scale > 6, sub-µs timestamps),
    # making this audit disagree with dq_generic_tests' raw-column
    # counts (round-7 review). Renders stay injective for current
    # checks, so values are unchanged — the shape is now future-proof.
    rendered = _render_value(F.col("__raw"), chk.value_type).alias(
        "offending_value"
    )

    def _grouped(filtered: DataFrame) -> DataFrame:
        return (
            filtered.groupBy(col.alias("__raw"))
            .agg(F.count("*").alias("n_rows"))
            .select(rendered, "n_rows")
        )

    if chk.test == "unique":
        vals = (
            df.where(col.isNotNull())
            .groupBy(col.alias("__raw"))
            .agg(F.count("*").alias("n_rows"))
            .where(F.col("n_rows") > 1)
            .select(rendered, "n_rows")
        )
    elif chk.test == "not_null":
        vals = (
            df.where(col.isNull())
            .agg(F.count("*").alias("n_rows"))
            .where(F.col("n_rows") > 0)
            .select(F.lit(None).cast("string").alias("offending_value"), "n_rows")
        )
    elif chk.test == "relationships":
        parent = model(chk.to_model).select(F.col(chk.to_column).alias("__pk")).distinct()
        vals = _grouped(
            df.where(col.isNotNull()).join(parent, col == F.col("__pk"), "left_anti")
        )
    elif chk.test.startswith("accepted_values"):
        vals = _grouped(df.where(~col.isin(list(chk.values))))
    elif chk.test == "non_negative":
        vals = _grouped(df.where(col < 0))
    else:  # pragma: no cover
        raise ValueError(chk.test)
    return vals.select(
        F.lit(chk.model).alias("model_name"),
        F.lit(chk.column).alias("column_name"),
        F.lit(chk.test).alias("test_name"),
        F.col("offending_value"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def dq_failed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``store_failures`` parity: the offending values behind every
    failure count in :func:`dq_generic_tests`, capped at
    STORE_FAILURES_LIMIT per test.

    Scale shape: each check aggregates only its FAILING rows (tiny after
    the seeded dirt rate); the cap is a per-test window over those small
    grouped results, so the exchange carries O(failing values), never the
    model. The audit output is bounded at checks × limit rows by
    construction.
    """
    from pyspark.sql import Window

    cache: dict[str, DataFrame] = {}
    out = None
    for chk in CHECKS:
        d = _failed_rows_df(spark, sf_dir, chk, cache)
        out = d if out is None else out.unionByName(d)
    w = (
        Window.partitionBy("model_name", "column_name", "test_name")
        .orderBy(F.desc("n_rows"), F.coalesce("offending_value", F.lit("")))
    )
    return (
        out.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= STORE_FAILURES_LIMIT)
        .drop("rk")
    )


def _failed_rows_sql(chk: Check) -> str:
    # mirror of _failed_rows_df: group by the RAW column, render after
    rendered = _render_value_sql("__raw", chk.value_type)
    if chk.test == "unique":
        sub = (
            f"select {rendered} as offending_value, n_rows from ("
            f"select {chk.column} as __raw, count(*) as n_rows "
            f"from {chk.model} where {chk.column} is not null "
            f"group by 1 having count(*) > 1)"
        )
    elif chk.test == "not_null":
        sub = (
            f"select cast(null as varchar) as offending_value, count(*) as n_rows "
            f"from {chk.model} where {chk.column} is null having count(*) > 0"
        )
    elif chk.test == "relationships":
        sub = (
            f"select {rendered} as offending_value, n_rows from ("
            f"select c.{chk.column} as __raw, count(*) as n_rows "
            f"from {chk.model} c where c.{chk.column} is not null "
            f"and not exists (select 1 from {chk.to_model} p "
            f"where p.{chk.to_column} = c.{chk.column}) group by 1)"
        )
    elif chk.test.startswith("accepted_values"):
        vals = ", ".join(f"'{v}'" for v in chk.values)
        sub = (
            f"select {rendered} as offending_value, n_rows from ("
            f"select {chk.column} as __raw, count(*) as n_rows "
            f"from {chk.model} "
            f"where {chk.column} not in ({vals}) group by 1)"
        )
    elif chk.test == "non_negative":
        sub = (
            f"select {rendered} as offending_value, n_rows from ("
            f"select {chk.column} as __raw, count(*) as n_rows "
            f"from {chk.model} "
            f"where {chk.column} < 0 group by 1)"
        )
    else:  # pragma: no cover
        raise ValueError(chk.test)
    return (
        f"select '{chk.model}' as model_name, '{chk.column}' as column_name, "
        f"'{chk.test}' as test_name, offending_value, "
        f"cast(n_rows as bigint) as n_rows from ({sub})"
    )


def oracle_dq_failed_rows() -> str:
    union = "\nunion all\n".join(_failed_rows_sql(c) for c in CHECKS)
    final = f"""
select model_name, column_name, test_name, offending_value, n_rows
from (
  select *, row_number() over (
      partition by model_name, column_name, test_name
      order by n_rows desc, coalesce(offending_value, '')) as rk
  from ({union})
)
where rk <= {STORE_FAILURES_LIMIT}
"""
    return omed.assemble_many(_deps_for_checks(), final)


# ------------------------------------------------------------ oracle side

def _check_sql(chk: Check) -> str:
    if chk.test == "unique":
        sub = (
            f"select count(*) from (select {chk.column} from {chk.model} "
            f"where {chk.column} is not null group by {chk.column} "
            f"having count(*) > 1)"
        )
    elif chk.test == "not_null":
        sub = f"select count(*) from {chk.model} where {chk.column} is null"
    elif chk.test == "relationships":
        sub = (
            f"select count(*) from {chk.model} c where c.{chk.column} is not null "
            f"and not exists (select 1 from {chk.to_model} p "
            f"where p.{chk.to_column} = c.{chk.column})"
        )
    elif chk.test.startswith("accepted_values"):
        vals = ", ".join(f"'{v}'" for v in chk.values)
        sub = f"select count(*) from {chk.model} where {chk.column} not in ({vals})"
    elif chk.test == "non_negative":
        sub = f"select count(*) from {chk.model} where {chk.column} < 0"
    else:  # pragma: no cover
        raise ValueError(chk.test)
    return (
        f"select '{chk.model}' as model_name, '{chk.column}' as column_name, "
        f"'{chk.test}' as test_name, cast(({sub}) as bigint) as failures"
    )


def _deps_for_checks() -> list[str]:
    deps: set[str] = set()
    for chk in CHECKS:
        deps.add(chk.model)
        if chk.to_model:
            deps.add(chk.to_model)
    return sorted(deps)


def oracle_dq_generic_sql() -> str:
    union = "\nunion all\n".join(_check_sql(c) for c in CHECKS)
    return omed.assemble_many(_deps_for_checks(), union)


def oracle_dq_singular_sql() -> str:
    final = f"""
select 'assert_customer_email_format' as test_name,
       cast((select count(*) from silver_customers
             where not regexp_matches(email, '{EMAIL_REGEX}')) as bigint) as failures
union all
select 'assert_positive_revenue' as test_name,
       cast((select count(*) from gold_customer_summary
             where lifetime_value < 0) as bigint) as failures
"""
    return omed.assemble_many(["silver_customers", "gold_customer_summary"], final)

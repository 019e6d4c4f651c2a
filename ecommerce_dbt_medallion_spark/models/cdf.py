"""Driver-gated lakehouse exercise: CREATE → MERGE → change data feed.

Round 6: the transaction-log engine (lakehouse.py) was fully covered by
tests/test_lakehouse.py but had no ``queries()`` key, so the driver's
hash gate never saw it. ``lakehouse_cdf`` closes that: a deterministic
CREATE TABLE from silver_orders, one keyed MERGE batch, then
``table_changes(v0→v1)`` — the oracle reconstructs the exact expected
change rows (Delta CDF semantics) in pure SQL, so MERGE matching,
whole-row-hash carry-over cancellation, and CDF classification are all
under the value-hash gate.

Scale shape: the MERGE rewrites only files containing matched keys
(file-skipping via min/max key stats); the CDF reads only files that
entered/left the live set — both proportional to churn, not table size
(lakehouse.py:237,580).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark import lakehouse
from ecommerce_dbt_medallion_spark.models.silver import silver_orders
from ecommerce_dbt_medallion_spark.streaming.drain import gate_scratch


def _facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silver_orders(spark, sf_dir).select(
        "order_id",
        "order_status",
        F.col("order_amount").cast("double").alias("amount"),
    )


def lakehouse_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32c: change-data-feed between two committed versions.

    v0 = orders with order_id % 3 != 0; the MERGE batch is orders with
    order_id % 2 == 0, amounts bumped by 1 (so every matched row really
    changes). Expected CDF: batch keys absent from v0 → insert; present
    → update_postimage (post-image values); carried-over rows in
    rewritten files must NOT appear (whole-row hash cancellation) — the
    oracle encodes exactly this, making the classification itself the
    thing under test.
    """
    (table,) = gate_scratch(sf_dir, "cdf_gate")

    facts = _facts(spark, sf_dir)
    base = facts.where(F.col("order_id") % 3 != 0)
    batch = facts.where(F.col("order_id") % 2 == 0).withColumn(
        "amount", F.col("amount") + F.lit(1.0)
    )
    lakehouse.create_or_replace(spark, table, base, key="order_id")
    lakehouse.merge_into(spark, table, batch, "order_id")
    return lakehouse.table_changes(spark, table, 0, 1, key="order_id").select(
        F.col("order_id").cast("long").alias("order_id"),
        "_change_type",
        "order_status",
        F.col("amount").cast("double").alias("amount"),
    )


SCD2_T1 = "2025-12-01 00:00:00"  # first snapshot batch (before BATCH_TS)


def scd2_snapshot_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32d: the SCD2 snapshot BUILD under the hash gate
    (dbt ``snapshot`` check-strategy parity; scd2_customer_orders gates
    only the consumption side).

    Two deterministic customer-tier batches run through
    runner.snapshot: batch 1 (at SCD2_T1) omits keys k % 11 == 0;
    batch 2 (at BATCH_TS) drops keys k % 7 == 0 and bumps the tier of
    k % 5 == 0. The oracle reconstructs the full expected version
    history — unchanged open rows, changed rows closed + reopened,
    missing keys closed, new keys opened — so the snapshot engine's
    change detection and version bookkeeping are value-checked.
    """
    from ecommerce_dbt_medallion_spark.config import BATCH_TS
    from ecommerce_dbt_medallion_spark.runner import snapshot
    from ecommerce_dbt_medallion_spark.sources.registry import load_table

    (path,) = gate_scratch(sf_dir, "scd2_gate")

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("customer_id"),
        (F.col("c_custkey") % 4).cast("long").alias("tier"),
    )
    b1 = c.where(F.col("customer_id") % 11 != 0)
    b2 = c.where(F.col("customer_id") % 7 != 0).withColumn(
        "tier",
        F.col("tier")
        + F.when(F.col("customer_id") % 5 == 0, 1).otherwise(0).cast("long"),
    )
    snapshot(spark, b1, path, "customer_id", ["tier"], batch_ts=SCD2_T1)
    final = snapshot(spark, b2, path, "customer_id", ["tier"], batch_ts=BATCH_TS)
    return final.select("customer_id", "tier", "valid_from", "valid_to")


def oracle_scd2_snapshot_build() -> str:
    from ecommerce_dbt_medallion_spark.config import BATCH_TS

    return f"""
with c as (
    select cast(c_custkey as bigint) as k,
           cast(c_custkey % 4 as bigint) as tier1
    from customer
),
b1 as (select k, tier1 as tier from c where k % 11 <> 0),
b2 as (
    select k, tier1 + (case when k % 5 = 0 then 1 else 0 end) as tier
    from c where k % 7 <> 0
)
select k as customer_id, tier, valid_from, valid_to from (
    -- unchanged keys: single open version from batch 1
    select b1.k, b1.tier,
        TIMESTAMP '{SCD2_T1}' as valid_from,
        cast(null as timestamp) as valid_to
    from b1 join b2 on b1.k = b2.k and b1.tier = b2.tier
    union all
    -- changed keys: batch-1 version closed at batch 2
    select b1.k, b1.tier, TIMESTAMP '{SCD2_T1}', TIMESTAMP '{BATCH_TS}'
    from b1 join b2 on b1.k = b2.k and b1.tier <> b2.tier
    union all
    -- changed keys: new open version
    select b2.k, b2.tier, TIMESTAMP '{BATCH_TS}', cast(null as timestamp)
    from b1 join b2 on b1.k = b2.k and b1.tier <> b2.tier
    union all
    -- keys missing from batch 2: closed
    select b1.k, b1.tier, TIMESTAMP '{SCD2_T1}', TIMESTAMP '{BATCH_TS}'
    from b1 where not exists (select 1 from b2 where b2.k = b1.k)
    union all
    -- keys new in batch 2: opened
    select b2.k, b2.tier, TIMESTAMP '{BATCH_TS}', cast(null as timestamp)
    from b2 where not exists (select 1 from b1 where b1.k = b2.k)
)
"""


def oracle_lakehouse_cdf() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    final = """
, o as (
    select order_id, order_status, cast(order_amount as double) as amount
    from silver_orders
),
base as (select * from o where order_id % 3 <> 0),
batch as (
    select order_id, order_status, amount + 1.0 as amount
    from o where order_id % 2 = 0
)
select cast(b.order_id as bigint) as order_id,
       case when e.order_id is null then 'insert'
            else 'update_postimage' end as _change_type,
       b.order_status,
       cast(b.amount as double) as amount
from batch b left join base e on e.order_id = b.order_id
"""
    return assemble("silver_orders", final_select=final)


def ivm_mart_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32e: INCREMENTAL VIEW MAINTENANCE under the hash gate.

    Sequence: fact table v0 = silver_orders (order_id key); per-customer
    mart full-built from v0; then a MERGE batch (order_id % 2 == 0,
    amount +1.00) and a DELETE (order_id % 9 == 0) hit the facts; then
    ``runner.incremental_mart_refresh`` brings the mart up to date by
    recomputing ONLY CDF-dirty customers. The returned mart must equal
    a from-scratch aggregate over the FINAL fact state — which is
    exactly what the pure-SQL oracle computes, so the whole
    CDF→dirty-groups→semi-join→MERGE→delete-gone-groups chain is value-
    checked. Amounts stay decimal(18,2) through every sum (exact,
    order-independent); double only at the output boundary.
    """
    from ecommerce_dbt_medallion_spark.runner import incremental_mart_refresh

    fact, mart = gate_scratch(sf_dir, "ivm_fact", "ivm_mart")

    facts = silver_orders(spark, sf_dir).select(
        "order_id",
        "customer_id",
        F.col("order_amount").cast("decimal(18,2)").alias("amount"),
    )

    def agg_fn(df: DataFrame) -> DataFrame:
        return df.groupBy("customer_id").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("amount").cast("decimal(18,2)").alias("total_dec"),
        )

    v0 = lakehouse.create_or_replace(spark, fact, facts, key="order_id")
    lakehouse.create_or_replace(
        spark, mart, agg_fn(lakehouse.read(spark, fact)), key="customer_id"
    )
    batch = facts.where(F.col("order_id") % 2 == 0).withColumn(
        "amount", (F.col("amount") + 1).cast("decimal(18,2)")
    )
    lakehouse.merge_into(spark, fact, batch, "order_id")
    lakehouse.delete_where(spark, fact, "order_id % 9 = 0")
    incremental_mart_refresh(
        spark, fact, mart, "customer_id", agg_fn, from_version=v0
    )
    return lakehouse.read(spark, mart).select(
        F.col("customer_id").cast("long").alias("customer_id"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total_dec").cast("double").alias("total_amount"),
    )


def oracle_ivm_mart_refresh() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
select cast(customer_id as bigint) as customer_id,
    cast(count(*) as bigint) as n_orders,
    cast(sum(cast(case when order_id % 2 = 0
                  then cast(order_amount as decimal(18,2)) + 1
                  else cast(order_amount as decimal(18,2)) end
             as decimal(18,2))) as double) as total_amount
from silver_orders
where order_id % 9 != 0
group by 1
""",
    )


def wap_audited_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32f: WRITE-AUDIT-PUBLISH under the hash gate. A base
    table of positive-amount silver orders takes two staged batches:
    a CLEAN one (order_id % 5 == 4, amounts unchanged) and a DIRTY one
    (order_id % 5 == 3 with amounts negated — violating the audit rule
    "no negative amounts"). The audit publishes the first and discards
    the second, so the final table must equal base + clean batch and
    contain not a single dirty row — which is exactly what the pure-SQL
    oracle states. A leak of unpublished/discarded data into reads, a
    half-applied publish, or audit-on-wrong-bytes all hash-mismatch.
    """
    (table,) = gate_scratch(sf_dir, "wap_gate")

    facts = silver_orders(spark, sf_dir).select(
        "order_id",
        "customer_id",
        F.col("order_amount").cast("decimal(18,2)").alias("amount"),
    )
    base = facts.where(F.col("order_id") % 5 <= 2)
    clean = facts.where(F.col("order_id") % 5 == 4)
    dirty = facts.where(F.col("order_id") % 5 == 3).withColumn(
        "amount", (-F.col("amount")).cast("decimal(18,2)")
    )
    lakehouse.create_or_replace(spark, table, base, key="order_id")

    def audit(df: DataFrame) -> bool:
        return df.where(F.col("amount") <= 0).limit(1).count() == 0

    _, ok_clean = lakehouse.audited_append(spark, table, clean, "order_id", audit)
    _, ok_dirty = lakehouse.audited_append(spark, table, dirty, "order_id", audit)
    if not ok_clean or ok_dirty:
        raise RuntimeError("WAP audit verdicts diverged from construction")
    return lakehouse.read(spark, table).select(
        F.col("order_id").cast("long").alias("order_id"),
        F.col("customer_id").cast("long").alias("customer_id"),
        F.col("amount").cast("double").alias("amount"),
    )


def lakehouse_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32g (round 7): the Z-ORDER CONSUMER under the hash
    gate. OPTIMIZE ZORDER (Morton interleave of customer_id × order_id,
    lakehouse.py _zorder_column) re-clusters the fact table so per-file
    min/max stats stay tight on BOTH dimensions at once; the 2-D range
    scan (``read_pruned_multi``) then answers a ~10%×10% box by reading
    a FILE SUBSET. Construction raises unless at least one file was
    actually skipped, so the driver's green row certifies skipping
    happened AND (via the plain-filter SQL oracle) that the pruned scan
    is value-exact — data skipping with zero rows lost.

    Bounds are derived from max(customer_id)/max(order_id) with pure
    integer arithmetic (``(max*20)//100`` etc.) so the static oracle
    recomputes them identically inside SQL at any SF.

    Scale: this is the 100 TB point-lookup/BI shape — a z-clustered
    layout turns O(table) scans into O(matching-files); the skip check
    is metadata-only (log stats), no data IO before the residual scan.
    """
    import math

    (table,) = gate_scratch(sf_dir, "zorder_gate")

    facts = silver_orders(spark, sf_dir).select(
        "order_id",
        "customer_id",
        F.col("order_amount").cast("decimal(18,2)").alias("amount"),
    )
    lakehouse.create_or_replace(
        spark, table, facts.repartition(16, "order_id"), key="order_id"
    )
    total = sum(a["rows"] for a in lakehouse.live_files(table))
    lakehouse.optimize(
        spark,
        table,
        key="order_id",
        target_rows=max(1, math.ceil(total / 16)),
        small_file_rows=total + 1,  # compact everything into the z-layout
        zorder_by=["customer_id", "order_id"],
    )

    # maxima from the COMMITTED table (one parquet scan), not a third
    # execution of the full bronze→silver lineage (round-7 review)
    mx = lakehouse.read(spark, table).agg(
        F.max("customer_id").alias("mc"), F.max("order_id").alias("mo")
    ).collect()[0]
    bounds = {
        "customer_id": ((mx["mc"] * 20) // 100, (mx["mc"] * 30) // 100),
        "order_id": ((mx["mo"] * 40) // 100, (mx["mo"] * 50) // 100),
    }

    live = lakehouse.live_files(table)
    # same selection the pruned read uses (shared helper — the skip
    # guard and the actual scan cannot drift)
    kept = lakehouse.pruned_files(table, bounds)
    if len(kept) >= len(live):
        raise RuntimeError(
            f"ZORDER produced no file skipping: {len(kept)}/{len(live)} "
            "files intersect the 2-D bounds"
        )

    return lakehouse.read_pruned_multi(spark, table, bounds).select(
        F.col("order_id").cast("long").alias("order_id"),
        F.col("customer_id").cast("long").alias("customer_id"),
        F.col("amount").cast("double").alias("amount"),
    )


def lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32h (round 7): ADDITIVE SCHEMA EVOLUTION under the
    hash gate. v0 = even-order facts with (order_id, customer_id,
    amount); v1 = an APPEND of the odd-order facts carrying a NEW
    ``channel`` column with ``merge_schema=True``. The final read must
    serve the LOG schema — pre-evolution files null-fill ``channel``,
    post-evolution rows carry their values — which is exactly what the
    pure-SQL oracle states (evens → null channel, odds → derived
    channel). A reader that takes its schema from an arbitrary parquet
    footer (the bug class the round-7 read_pruned fix closed) would
    drop or mistype the column and hash-mismatch.
    """
    (table,) = gate_scratch(sf_dir, "evo_gate")

    facts = silver_orders(spark, sf_dir).select(
        "order_id",
        "customer_id",
        F.col("order_amount").cast("decimal(18,2)").alias("amount"),
    )
    base = facts.where(F.col("order_id") % 2 == 0)
    evolved = facts.where(F.col("order_id") % 2 == 1).withColumn(
        "channel", F.concat(F.lit("ch_"), (F.col("order_id") % 3).cast("string"))
    )
    lakehouse.create_or_replace(spark, table, base, key="order_id")
    lakehouse.append(spark, table, evolved, key="order_id", merge_schema=True)
    return lakehouse.read(spark, table).select(
        F.col("order_id").cast("long").alias("order_id"),
        F.col("customer_id").cast("long").alias("customer_id"),
        F.col("amount").cast("double").alias("amount"),
        "channel",
    )


def oracle_lakehouse_schema_evolution() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
select cast(order_id as bigint) as order_id,
    cast(customer_id as bigint) as customer_id,
    cast(cast(order_amount as decimal(18,2)) as double) as amount,
    case when order_id % 2 = 1
         then 'ch_' || cast(order_id % 3 as varchar) end as channel
from silver_orders
""",
    )


def lakehouse_restore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32i (round 7): RESTORE AS OF under the hash gate.
    v0 CREATE (orders with order_id % 4 != 0) → v1 MERGE (order_id %
    2 == 0, amounts +1) → v2 DELETE (order_id % 3 == 0) → v3 RESTORE
    to v1. The final read must equal the state AS OF v1 — the merge
    applied, the delete rolled back — by re-declaring v1's live set BY
    REFERENCE (metadata-only; no file read or written). The oracle
    states v1 directly: base ∪ merge with post-merge amounts. A
    restore that leaks v2's deletions (or misses v1's merge) hash-
    mismatches.
    """
    (table,) = gate_scratch(sf_dir, "restore_gate")

    facts = _facts(spark, sf_dir)
    base = facts.where(F.col("order_id") % 4 != 0)
    batch = facts.where(F.col("order_id") % 2 == 0).withColumn(
        "amount", F.col("amount") + F.lit(1.0)
    )
    lakehouse.create_or_replace(spark, table, base, key="order_id")
    lakehouse.merge_into(spark, table, batch, "order_id")
    lakehouse.delete_where(spark, table, "order_id % 3 = 0")
    lakehouse.restore(table, 1)
    return lakehouse.read(spark, table).select(
        F.col("order_id").cast("long").alias("order_id"),
        "order_status",
        F.col("amount").cast("double").alias("amount"),
    )


def oracle_lakehouse_restore_read() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
, o as (
    select order_id, order_status,
           cast(cast(order_amount as decimal(18,2)) as double) as amount
    from silver_orders
)
select cast(order_id as bigint) as order_id, order_status,
    case when order_id % 2 = 0 then amount + 1.0 else amount end as amount
from o
where order_id % 4 <> 0 or order_id % 2 = 0
""",
    )


def lakehouse_clone_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32j (round 8): SHALLOW CLONE under the hash gate —
    the dev/test branching primitive. src v0 = orders with
    order_id % 4 != 0; clone_table (zero bytes copied — raises unless
    the clone's data dir is empty); DELETE on the CLONE
    (order_id % 3 == 0, copy-on-write: drops references + writes local
    files); then a MERGE on the SOURCE (amounts +1 for order_id % 2 ==
    0) as the isolation probe. The returned CLONE read must show the
    delete but NOT the source's merge — the clone pinned the source's
    v0 file list, and the source's rewrite wrote NEW files (old bytes
    stay for time travel). Either isolation leak hash-mismatches the
    oracle, which states the clone's state directly: base minus the
    deleted residue at ORIGINAL amounts.
    """
    import os as _os

    src, branch = gate_scratch(sf_dir, "clone_src", "clone_branch")

    facts = _facts(spark, sf_dir)
    base = facts.where(F.col("order_id") % 4 != 0)
    lakehouse.create_or_replace(spark, src, base, key="order_id")
    lakehouse.clone_table(src, branch)
    data_dir = _os.path.join(branch, lakehouse._DATA_DIR)
    if _os.path.isdir(data_dir) and any(
        f.endswith(".parquet") for f in _os.listdir(data_dir)
    ):
        raise AssertionError("shallow clone copied data bytes")
    lakehouse.delete_where(spark, branch, "order_id % 3 = 0")
    probe = facts.where(F.col("order_id") % 2 == 0).withColumn(
        "amount", F.col("amount") + F.lit(1.0)
    )
    lakehouse.merge_into(spark, src, probe, "order_id")
    return lakehouse.read(spark, branch).select(
        F.col("order_id").cast("long").alias("order_id"),
        "order_status",
        F.col("amount").cast("double").alias("amount"),
    )


def oracle_lakehouse_clone_read() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
select cast(order_id as bigint) as order_id, order_status,
    cast(cast(order_amount as decimal(18,2)) as double) as amount
from silver_orders
where order_id % 4 <> 0 and order_id % 3 <> 0
""",
    )


def oracle_lakehouse_zorder_prune() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
select cast(order_id as bigint) as order_id,
    cast(customer_id as bigint) as customer_id,
    cast(cast(order_amount as decimal(18,2)) as double) as amount
from silver_orders
where customer_id between (select (max(customer_id)*20)//100 from silver_orders)
                      and (select (max(customer_id)*30)//100 from silver_orders)
  and order_id between (select (max(order_id)*40)//100 from silver_orders)
                   and (select (max(order_id)*50)//100 from silver_orders)
""",
    )


def oracle_wap_audited_ingest() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
select cast(order_id as bigint) as order_id,
    cast(customer_id as bigint) as customer_id,
    cast(cast(order_amount as decimal(18,2)) as double) as amount
from silver_orders
where order_id % 5 <= 2 or order_id % 5 = 4
""",
    )


def lakehouse_rename_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32k (round 8): COLUMN MAPPING under the hash gate —
    RENAME COLUMN as a metadata-only commit. v0 CREATE (even-order
    facts with ``amount``) → v1 RENAME amount → net_amount (the key
    RAISES if the rename touched any data file: metadata-only is the
    feature, Delta/Iceberg column-mapping semantics) → v2 APPEND of
    the odd-order facts already carrying the NEW logical name (the
    write boundary maps it back to the file-physical name, so both
    file generations stay physically identical) → final read serves
    every row under the renamed logical schema. A reader that matched
    parquet columns by logical name would null out the renamed column
    on every file and hash-mismatch the oracle.
    """
    (table,) = gate_scratch(sf_dir, "rename_gate")

    facts = silver_orders(spark, sf_dir).select(
        "order_id",
        "customer_id",
        F.col("order_amount").cast("decimal(18,2)").alias("amount"),
    )
    lakehouse.create_or_replace(
        spark, table, facts.where(F.col("order_id") % 2 == 0), key="order_id"
    )
    before = sorted(a["file"] for a in lakehouse.live_files(table))
    lakehouse.rename_column(table, "amount", "net_amount")
    after = sorted(a["file"] for a in lakehouse.live_files(table))
    if after != before:
        raise RuntimeError(
            "RENAME COLUMN rewrote data files — column mapping must be "
            "metadata-only"
        )
    lakehouse.append(
        spark,
        table,
        facts.where(F.col("order_id") % 2 == 1).withColumnRenamed(
            "amount", "net_amount"
        ),
    )
    return lakehouse.read(spark, table).select(
        F.col("order_id").cast("long").alias("order_id"),
        F.col("customer_id").cast("long").alias("customer_id"),
        F.col("net_amount").cast("double").alias("net_amount"),
    )


def oracle_lakehouse_rename_read() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
select cast(order_id as bigint) as order_id,
    cast(customer_id as bigint) as customer_id,
    cast(cast(order_amount as decimal(18,2)) as double) as net_amount
from silver_orders
""",
    )


def lakehouse_optimize_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32l (round 9): INCREMENTAL OPTIMIZE under the hash
    gate — the churn-repair loop a 100 TB table lives by. Construction
    deliberately decays clustering in ONE key region: the low half of
    the key space is written range-clustered (4 disjoint files, depth
    1), the high half lands as three interleaved mod-slices whose files
    all span the full high range (one overlap cluster, depth ≥ 6 —
    raises if the decay didn't materialize). ``optimize_incremental``
    must then (a) rewrite ONLY the decayed cluster — every clean
    low-half file must survive BY NAME, raises otherwise, (b) restore
    bounded depth (≤ its max_depth arg, raises otherwise) — and the
    final read must still be exactly the created rows (hash gate: an
    OPTIMIZE that drops/duplicates rows while shuffling files
    mismatches the oracle, which states the input directly).

    The half-split point is a driver-side SCALAR (max key / 2 — same
    O(1)-result discipline as the substring dials); everything row-
    shaped stays distributed.
    """
    (table,) = gate_scratch(sf_dir, "optimize_gate")

    facts = _facts(spark, sf_dir)
    mid = facts.agg((F.max("order_id") / 2).cast("long")).first()[0]
    low = (
        facts.where(F.col("order_id") <= mid)
        .repartitionByRange(4, "order_id")
        .sortWithinPartitions("order_id")
    )
    high = facts.where(F.col("order_id") > mid)
    lakehouse.create_or_replace(spark, table, low, key="order_id")
    clean = {a["file"] for a in lakehouse.live_files(table)}
    for m in range(3):
        lakehouse.append(
            spark, table, high.where(F.col("order_id") % 3 == m).repartition(2)
        )
    before = lakehouse.clustering_depth(table, "order_id")
    if before["depth"] < 6:
        raise RuntimeError(
            f"construction failed to decay clustering: depth={before['depth']}"
        )
    v_prior = lakehouse.versions(table)[-1]
    v = lakehouse.optimize_incremental(spark, table, max_depth=2)
    if v == v_prior:
        raise RuntimeError("optimize_incremental skipped a depth-6 cluster")
    after = lakehouse.clustering_depth(table, "order_id")
    if after["depth"] > 2:
        raise RuntimeError(
            f"optimize left clustering depth {after['depth']} > 2"
        )
    survivors = {a["file"] for a in lakehouse.live_files(table)}
    if not clean <= survivors:
        raise RuntimeError(
            "incremental OPTIMIZE rewrote well-clustered files: "
            f"{sorted(clean - survivors)[:3]}"
        )
    return lakehouse.read(spark, table).select(
        F.col("order_id").cast("long").alias("order_id"),
        "order_status",
        F.col("amount").cast("double").alias("amount"),
    )


def oracle_lakehouse_optimize_read() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
select cast(order_id as bigint) as order_id, order_status,
    cast(cast(order_amount as decimal(18,2)) as double) as amount
from silver_orders
""",
    )


def lakehouse_snapshot_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32m (round 9): CONSISTENT CROSS-TABLE CUT under the
    hash gate — ``snapshot_versions`` pins one version per table such
    that all pinned versions coexisted, then both tables are read
    THROUGH the cut while later writers race past it.

    Construction: table A (order facts) reaches v1 = full order set;
    table B (per-order exact-decimal lineitem revenue) reaches v1 =
    even-order revenues bumped +1 by MERGE. The cut is taken HERE —
    raises unless it pins exactly {A: 1, B: 1}. Then both tables are
    poisoned (A: an APPEND of shifted phantom orders at amount −999;
    B: a DELETE of every 5th order's revenue row). The returned join
    reads both sides AS OF the cut: any leak of a post-cut write —
    phantom rows, vanished revenue — hash-mismatches the oracle, which
    states the v1⊗v1 state in pure SQL.
    """
    from ecommerce_dbt_medallion_spark.models.analytics import _discounted_rev
    from ecommerce_dbt_medallion_spark.sources.registry import load_table

    a_path, b_path = gate_scratch(sf_dir, "cut_orders", "cut_revenue")

    facts = _facts(spark, sf_dir)
    lakehouse.create_or_replace(
        spark, a_path, facts.where(F.col("order_id") % 3 != 0), key="order_id"
    )
    lakehouse.append(spark, a_path, facts.where(F.col("order_id") % 3 == 0))

    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").cast("long").alias("order_id"))
        .agg(F.sum(_discounted_rev()).cast("decimal(28,4)").alias("revenue"))
    )
    lakehouse.create_or_replace(spark, b_path, rev, key="order_id")
    bump = (
        lakehouse.read(spark, b_path)
        .where(F.col("order_id") % 2 == 0)
        .withColumn("revenue", (F.col("revenue") + F.lit(1)).cast("decimal(28,4)"))
    )
    lakehouse.merge_into(spark, b_path, bump, "order_id")

    cut = lakehouse.snapshot_versions([a_path, b_path])
    if cut != {a_path: 1, b_path: 1}:
        raise RuntimeError(f"cut pinned unexpected versions: {cut}")

    # post-cut racing writers: both must be invisible through the cut
    lakehouse.append(
        spark,
        a_path,
        facts.where(F.col("order_id") % 7 == 0).select(
            (F.col("order_id") + F.lit(10_000_000)).alias("order_id"),
            "order_status",
            F.lit(-999.0).alias("amount"),
        ),
    )
    lakehouse.delete_where(spark, b_path, "order_id % 5 = 0")

    orders_cut = lakehouse.read_snapshot(spark, cut, a_path)
    rev_cut = lakehouse.read_snapshot(spark, cut, b_path)
    return (
        orders_cut.join(rev_cut, "order_id", "left")
        .select(
            F.col("order_id").cast("long").alias("order_id"),
            "order_status",
            F.col("amount").cast("double").alias("amount"),
            F.coalesce(F.col("revenue").cast("double"), F.lit(0.0)).alias(
                "revenue"
            ),
        )
    )


def oracle_lakehouse_snapshot_cut() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
, rev as (
    select cast(l_orderkey as bigint) as order_id,
        cast(sum(cast(cast(l_extendedprice as decimal(18,2))
            * (1 - cast(l_discount as decimal(4,2))) as decimal(18,4))) as decimal(28,4)) as revenue
    from lineitem group by 1
), bumped as (
    select order_id,
        cast(case when order_id % 2 = 0 then revenue + 1 else revenue end as decimal(28,4)) as revenue
    from rev
)
select cast(o.order_id as bigint) as order_id, o.order_status,
    cast(cast(o.order_amount as decimal(18,2)) as double) as amount,
    cast(coalesce(b.revenue, 0) as double) as revenue
from silver_orders o left join bumped b on o.order_id = b.order_id
""",
    )


DEFER_DEL_BATCH = 40  # erasure-request batch size (bounded, driver-side)


def lakehouse_deferred_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32n (round 10, VERDICT r9 #5): MERGE-ON-READ deferred
    deletes under the hash gate — the GDPR erasure-request path, the
    one lakehouse surface whose leak is a compliance bug rather than a
    wrong number.

    Construction: v0 CREATE (orders with order_id % 4 != 0, keyed);
    ``delete_keys_deferred`` deletes the ``DEFER_DEL_BATCH`` smallest
    order_ids with order_id % 10 == 1 (a metadata commit: the files
    holding them are re-added with the keys in their deletion vectors,
    so the live file names must be the same across it); then THREE
    tagged reads are unioned, so every contract is inside one value
    hash:

    - ``v0_travel``: time travel to v0 WHILE the deletes are pending —
      the full base; a deletion vector must not rewrite history.
    - ``mor``: the HEAD read, which drops each file's DV'd rows — base
      minus the deleted keys, with zero files rewritten (a resurrected
      key here is the GDPR bug).
    - ``final``: the HEAD read after ``materialize_tombstones`` paid
      the rewrite — the SAME rows (rewrite ≡ filter), no deletion
      vector left.

    The oracle states all three states in plain SQL; any leaked delete,
    history rewrite, or rewrite/filter divergence hash-mismatches.

    Scale shape: the deferred commit finds the files holding the keys
    by their key range ∩ bloom and a read of only those files' key
    column; the materialization rewrites exactly the files the log
    names — churn-proportional, never O(table).
    """
    (table,) = gate_scratch(sf_dir, "defer_del_gate")

    facts = _facts(spark, sf_dir)
    base = facts.where(F.col("order_id") % 4 != 0)
    lakehouse.create_or_replace(spark, table, base, key="order_id")

    # the erasure batch: bounded + deterministic (smallest N of a key
    # residue class — the oracle restates exactly this in SQL); the
    # driver-side collect is the op's natural shape (an erasure request
    # IS a small explicit key list)
    victims = [
        r["order_id"]
        for r in lakehouse.read(spark, table)
        .where(F.col("order_id") % 10 == 1)
        .select("order_id")
        .orderBy("order_id")
        .limit(DEFER_DEL_BATCH)
        .collect()
    ]
    files_before = sorted(a["file"] for a in lakehouse.live_files(table))
    lakehouse.delete_keys_deferred(spark, table, victims)
    files_after = sorted(a["file"] for a in lakehouse.live_files(table))
    if files_before != files_after:
        raise AssertionError("deferred delete touched data files")
    if sorted(lakehouse.pending_tombstones(table)) != sorted(victims):
        raise AssertionError("deletion vectors diverged from the request")

    def _tagged(df: DataFrame, state: str) -> DataFrame:
        return df.select(
            F.lit(state).alias("state"),
            F.col("order_id").cast("long").alias("order_id"),
            "order_status",
            F.col("amount").cast("double").alias("amount"),
        )

    v0_travel = _tagged(lakehouse.read(spark, table, version=0), "v0_travel")
    mor = _tagged(lakehouse.read(spark, table), "mor")

    lakehouse.materialize_tombstones(spark, table)
    if lakehouse.pending_tombstones(table):
        raise AssertionError("materialization left deletion vectors live")
    final = _tagged(lakehouse.read(spark, table), "final")
    return v0_travel.unionByName(mor).unionByName(final)


def oracle_lakehouse_deferred_delete() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select=f"""
, o as (
    select order_id, order_status,
           cast(cast(order_amount as decimal(18,2)) as double) as amount
    from silver_orders where order_id % 4 <> 0
), del as (
    select order_id from o where order_id % 10 = 1
    order by order_id limit {DEFER_DEL_BATCH}
), kept as (
    select * from o where order_id not in (select order_id from del)
)
select 'v0_travel' as state, cast(order_id as bigint) as order_id,
    order_status, amount from o
union all
select 'mor' as state, cast(order_id as bigint) as order_id,
    order_status, amount from kept
union all
select 'final' as state, cast(order_id as bigint) as order_id,
    order_status, amount from kept
""",
    )


def lakehouse_vacuum_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory #32o (round 11, session 2): retention-bounded VACUUM
    under the hash gate — the storage-reclaim half of the table
    lifecycle (OPTIMIZE compacts, VACUUM reclaims what time travel past
    the horizon no longer needs; Delta's VACUUM RETAIN trade).

    Construction: v0 CREATE (full order facts, keyed); v1 DELETE WHERE
    order_id % 5 = 1 (rewrites every touched file, so v0's originals
    leave the live set but stay on disk for time travel);
    ``vacuum_retain(retain_last=1)`` then reclaims every file reachable
    ONLY from v0. Contracts enforced at construction (the zorder-gate
    raise pattern):

    - the vacuum MUST reclaim at least one file (a no-op vacuum means
      the delete never rewrote anything — the gate is vacuous);
    - RESTORE to the vacuumed v0 MUST refuse with the vacuumed-file
      error (history stays auditable, data is gone — a restore that
      "succeeds" onto missing files would wedge every reader);
    - the HEAD read is taken BOTH before and after the vacuum and both
      are unioned under the value hash — a vacuum that touches a live
      file hash-mismatches (the reclaim-a-needed-file bug is the one
      that corrupts production tables).

    Scale shape: vacuum is metadata-only driver work (log replay to
    build the keep-set + file unlinks) — O(versions × files) names,
    never a data scan; the gated reads are ordinary pruned scans.
    """
    (table,) = gate_scratch(sf_dir, "vacuum_gate")

    facts = _facts(spark, sf_dir)
    lakehouse.create_or_replace(spark, table, facts, key="order_id")
    lakehouse.delete_where(spark, table, "order_id % 5 = 1")

    def _tagged(df: DataFrame, state: str) -> DataFrame:
        return df.select(
            F.lit(state).alias("state"),
            F.col("order_id").cast("long").alias("order_id"),
            "order_status",
            F.col("amount").cast("double").alias("amount"),
        )

    head = _tagged(lakehouse.read(spark, table), "head")

    n_reclaimed = lakehouse.vacuum_retain(table, retain_last=1)
    if n_reclaimed < 1:
        raise AssertionError("vacuum reclaimed nothing; the gate is vacuous")
    try:
        lakehouse.restore(table, 0)
    except FileNotFoundError:
        pass
    else:
        raise AssertionError("restore onto vacuumed v0 did not refuse")

    post = _tagged(lakehouse.read(spark, table), "post_vacuum")
    return head.unionByName(post)


def oracle_lakehouse_vacuum_read() -> str:
    from ecommerce_dbt_medallion_spark.oracle import assemble

    return assemble(
        "silver_orders",
        final_select="""
, kept as (
    select order_id, order_status,
           cast(cast(order_amount as decimal(18,2)) as double) as amount
    from silver_orders where order_id % 5 <> 1
)
select 'head' as state, cast(order_id as bigint) as order_id,
    order_status, amount from kept
union all
select 'post_vacuum' as state, cast(order_id as bigint) as order_id,
    order_status, amount from kept
""",
    )

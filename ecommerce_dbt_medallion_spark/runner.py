"""Materialization runner — the engine's equivalent of ``dbt run`` /
``dbt snapshot`` (reference: dbt_project.yml materialization config:
bronze=view, silver=table, gold=table).

- **view** (bronze): nothing is written — bronze stays a lazy projection
  fused into downstream scans, exactly like a SQL view.
- **table** (silver/gold): written to ``<warehouse>/<layer>/<model>`` as
  parquet, unpartitioned, as the reference's dbt ``table``s are. Gold is
  built FROM the materialized silver parquet (layered reads, not
  recomputation) — at 100 TB each layer is computed once per batch.
  ``materialize_bucketed_facts`` is the separate bucketed layout of the
  two join-heavy facts, for shuffle-free marts.
- **incremental** (dbt's incremental materialization): merge-by-unique-key.
  A real MERGE INTO on a transaction-log table
  (``incremental_merge_delta`` → lakehouse.py) with stats-pruned file
  skipping and time travel.
- **snapshot** (dbt's SCD2 check-strategy snapshot): tracks row-version
  history with dbt-style ``valid_from``/``valid_to``/``scd_id``.

``run`` schedules the six silver/gold tables as a DAG, the way ``dbt run
--threads`` does: each model is built, written and (when a dependent
reads it) re-read on a worker thread as soon as its upstream tables are
materialized, so ``gold_order_metrics`` overlaps ``silver_payments`` and
the three gold tables overlap each other. The pool is as wide as the DAG
(3 threads). Workers are wrapped with ``pyspark.inheritable_thread_target``,
so every model's jobs carry the caller's job group and local properties;
each model's jobs are described by the model's name.
When a model fails, its dependents are skipped, the models in flight
finish, and the first error is raised.

The runner also executes the DQ engine per layer (the ``dbt test`` step)
and returns a manifest.
"""

from __future__ import annotations

import os
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.config import BATCH_TS
from ecommerce_dbt_medallion_spark.models import bronze as mb
from ecommerce_dbt_medallion_spark.models import gold as mg
from ecommerce_dbt_medallion_spark.models import silver as ms


def _write(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


@dataclass(frozen=True)
class _Model:
    """One node of ``run``'s DAG: ``build(spark, sf_dir, upstream)`` makes
    the model's frame from its upstream models' materialized tables
    (``upstream`` maps name → re-read frame); it is written to
    ``<warehouse>/<layer>/<name>``."""

    name: str
    layer: str
    upstream: tuple[str, ...]
    build: Callable[[SparkSession, str, dict[str, DataFrame]], DataFrame]


# Declared in manifest order.
# Bronze views are built inside their silver model (nothing is written).
# Every table is written unpartitioned, as the reference's are: each
# dependent scans the whole table, so partitions prune nothing and only
# multiply the files a build writes and every reader opens.
_MODELS: tuple[_Model, ...] = (
    _Model(
        "silver_customers", "silver", (),
        lambda spark, sf, up: ms.silver_customers_df(mb.bronze_customers(spark, sf)),
    ),
    _Model(
        "silver_orders", "silver", ("silver_customers",),
        lambda spark, sf, up: ms.silver_orders_df(
            mb.bronze_orders(spark, sf), up["silver_customers"]
        ),
    ),
    _Model(
        "silver_payments", "silver", ("silver_orders",),
        lambda spark, sf, up: ms.silver_payments_df(
            mb.bronze_payments(spark, sf), up["silver_orders"]
        ),
    ),
    _Model(
        "gold_customer_summary", "gold",
        ("silver_customers", "silver_orders", "silver_payments"),
        lambda spark, sf, up: mg.gold_customer_summary_df(
            up["silver_customers"], up["silver_orders"], up["silver_payments"]
        ),
    ),
    _Model(
        "gold_order_metrics", "gold", ("silver_orders",),
        lambda spark, sf, up: mg.gold_order_metrics_df(up["silver_orders"]),
    ),
    _Model(
        "gold_revenue_analysis", "gold", ("silver_orders", "silver_payments"),
        lambda spark, sf, up: mg.gold_revenue_analysis_df(
            up["silver_orders"], up["silver_payments"]
        ),
    ),
)
# The DAG's width: gold_order_metrics, gold_customer_summary and
# gold_revenue_analysis can all be in flight at once.
_THREADS = 3


def _materialize(
    spark: SparkSession, sf_dir: str, warehouse: str, m: _Model,
    upstream: dict[str, DataFrame],
) -> DataFrame | None:
    """Build, write and (when a dependent reads it) re-read one model."""
    # runs on the model's worker thread: names this model's jobs in the UI
    spark.sparkContext.setJobDescription(m.name)
    path = os.path.join(warehouse, m.layer, m.name)
    df = m.build(spark, sf_dir, upstream)
    _write(df, path)
    if any(m.name in d.upstream for d in _MODELS):
        # the written schema is known: reading with it skips the footer
        # job that schema inference would run before each dependent starts
        return spark.read.schema(df.schema).parquet(path)
    return None


def run(spark: SparkSession, sf_dir: str, warehouse: str) -> dict[str, str]:
    """Full ``dbt run``: bronze views → silver tables → gold tables.

    Returns model → materialized path ('' for views).
    """
    tables: dict[str, DataFrame | None] = {}
    pending = list(_MODELS)
    running: dict[Future, _Model] = {}
    error: Exception | None = None
    with ThreadPoolExecutor(_THREADS, thread_name_prefix="runner-model") as pool:
        while True:
            for m in [m for m in pending if all(u in tables for u in m.upstream)]:
                pending.remove(m)
                # wrapped here, on the caller's thread, so each model gets
                # its own copy of the caller's local properties (job group)
                work = inheritable_thread_target(spark)(_materialize)
                up = {u: tables[u] for u in m.upstream}
                running[pool.submit(work, spark, sf_dir, warehouse, m, up)] = m
            if not running:
                break  # what is still pending depends on a failed model
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                m = running.pop(fut)
                try:
                    tables[m.name] = fut.result()
                except Exception as exc:  # re-raised once in-flight models end
                    error = error or exc
    if error is not None:
        raise error

    manifest = dict.fromkeys(("bronze_customers", "bronze_orders", "bronze_payments"), "")
    for m in _MODELS:
        manifest[m.name] = os.path.join(warehouse, m.layer, m.name)
    return manifest


def incremental_merge_delta(
    spark: SparkSession,
    new_rows: DataFrame,
    table_path: str,
    unique_key: str,
) -> DataFrame:
    """dbt incremental materialization (merge strategy) as a REAL MERGE
    INTO on a transaction-log table (lakehouse.py): only the data files
    containing matched keys are rewritten (stats-pruned + semi-join
    discovery); untouched files carry over by reference, and every batch
    is a new time-travelable version.

    (delta-spark / Iceberg jars are not installable in this environment;
    lakehouse.py implements the Delta commit-protocol core directly —
    see its module docstring.)
    """
    from ecommerce_dbt_medallion_spark import lakehouse

    lakehouse.merge_into(spark, table_path, new_rows, unique_key)
    return lakehouse.read(spark, table_path)


def snapshot(
    spark: SparkSession,
    current: DataFrame,
    snapshot_path: str,
    unique_key: str,
    check_cols: list[str],
    batch_ts: str = BATCH_TS,
) -> DataFrame:
    """dbt SCD2 snapshot (check strategy).

    First run: every row becomes a version with valid_from=batch_ts,
    valid_to=null. Later runs: rows whose check_cols changed get their
    open version closed (valid_to=batch_ts) and a new open version
    inserted; new keys are inserted; unchanged rows untouched.
    """
    ts = F.lit(batch_ts).cast("timestamp")
    # to_json(struct(...)) — not concat_ws — for the check hash:
    # concat_ws SKIPS nulls, so ('v', NULL) and (NULL, 'v') collided
    # and a real change was classified unchanged; JSON encoding keeps
    # nulls and quotes separators (round-7 review; dbt coalesces NULLs
    # to a sentinel for the same reason)
    hashed = current.withColumn(
        "scd_hash",
        F.md5(F.to_json(F.struct(*[F.col(c) for c in check_cols]))),
    ).withColumn(
        "scd_id", F.md5(F.concat_ws("||", F.col(unique_key).cast("string"), F.lit(batch_ts)))
    )
    # dbt aborts on duplicate snapshot keys; a duplicate here would fan
    # out the open-row join and write a self-inconsistent history
    dup = (
        hashed.groupBy(unique_key)
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"snapshot batch has duplicate {unique_key!r} (e.g. "
            f"{dup[0][unique_key]!r}); SCD2 requires one row per key"
        )

    import os

    # path existence, not exception-swallowing: a transient read error
    # must not trigger the first-run overwrite that erases the history
    exists = os.path.exists(snapshot_path)
    history = spark.read.parquet(snapshot_path) if exists else None

    if not exists:
        out = hashed.withColumn("valid_from", ts).withColumn(
            "valid_to", F.lit(None).cast("timestamp")
        )
        out.write.mode("overwrite").parquet(snapshot_path)
        return spark.read.parquet(snapshot_path)

    open_rows = history.where(F.col("valid_to").isNull())
    closed_rows = history.where(F.col("valid_to").isNotNull())

    cmp = open_rows.alias("o").join(
        hashed.select(
            F.col(unique_key).alias("__k"), F.col("scd_hash").alias("__h")
        ).alias("n"),
        F.col(f"o.{unique_key}") == F.col("__k"),
        "left",
    )
    unchanged = cmp.where(F.col("__h").isNotNull() & (F.col("o.scd_hash") == F.col("__h"))).select("o.*")
    to_close = cmp.where(F.col("__h").isNull() | (F.col("o.scd_hash") != F.col("__h"))).select("o.*")
    closed_now = to_close.withColumn("valid_to", ts)

    changed_or_new = hashed.join(
        unchanged.select(F.col(unique_key).alias("__uk")),
        F.col(unique_key) == F.col("__uk"),
        "left_anti",
    ).withColumn("valid_from", ts).withColumn("valid_to", F.lit(None).cast("timestamp"))

    out = closed_rows.unionByName(closed_now).unionByName(unchanged).unionByName(changed_or_new)
    staged = out.localCheckpoint(eager=True)
    staged.write.mode("overwrite").parquet(snapshot_path)
    return spark.read.parquet(snapshot_path)


# applicationId -> the sf_dir whose facts silver_orders_b/silver_payments_b
# hold in that application's catalog (a stopped session's in-memory
# catalog forgets the tables; a new one has a new id)
_BUCKETED_HOLDS: dict[str, str] = {}


def materialize_bucketed_facts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Bucketed materialization of the two join-heavy facts.

    Writing silver_orders and silver_payments bucketed (and sorted) by
    their join key means every downstream orders⋈payments join is
    shuffle-free — both sides are already co-partitioned on disk. This is
    the 100 TB answer to the pipeline's dominant shuffle; at cluster
    scale the bucket count follows data volume (e.g. 4096); here 32
    matches local[32] so the bucketed scan keeps every core busy.

    Each table is repartitioned on the bucket key before the write so
    every bucket is exactly ONE file — that is the condition under which
    Spark trusts the sortBy metadata and the downstream SortMergeJoin
    skips both the Exchange AND the per-partition Sort.

    Both tables are rewritten only when they do not already hold
    ``sf_dir``'s facts in this application. Returns the two table names
    (Spark-SQL managed tables).
    """
    import shutil
    from urllib.parse import urlparse

    tables = ("silver_orders_b", "silver_payments_b")
    app = spark.sparkContext.applicationId
    if _BUCKETED_HOLDS.get(app) == sf_dir:
        return tables
    n_buckets = 32
    so = ms.silver_orders(spark, sf_dir)
    sp = ms.silver_payments_df(mb.bronze_payments(spark, sf_dir), so)
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    _BUCKETED_HOLDS.pop(app, None)  # a failed rewrite leaves them unknown
    for name, df in zip(tables, (so, sp)):
        spark.sql(f"drop table if exists {name}")
        # the in-memory catalog forgets tables across sessions but their
        # files persist — clear the managed location too
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        (
            df.repartition(n_buckets, F.col("order_id"))
            .write.mode("overwrite")
            .bucketBy(n_buckets, "order_id")
            .sortBy("order_id")
            .saveAsTable(name)
        )
    _BUCKETED_HOLDS[app] = sf_dir
    return tables


def incremental_mart_refresh(
    spark: SparkSession,
    fact_table: str,
    mart_table: str,
    group_key: str,
    agg_fn,
    from_version: int,
) -> int:
    """Incremental view maintenance: bring an AGGREGATE mart up to date
    with its fact table by recomputing ONLY the groups whose fact rows
    changed since ``from_version`` (the mart's last-refreshed fact
    version), then MERGE-ing them in. The Delta-Live-Tables refresh
    shape: at 100 TB a nightly batch touches a sliver of groups, and
    this makes the mart cost scale with the CHURN, not the table —
    CDF discovers dirty keys from only the files that changed, the
    semi-join prunes the recompute, and the MERGE rewrites only the
    mart files holding those groups.

    ``agg_fn(facts) -> DataFrame`` must produce one row per
    ``group_key`` (the same function that full-builds the mart —
    correctness by construction: refresh(subset) ≡ full(subset)).
    Groups whose LAST fact row was deleted disappear from the mart via
    ``delete_where`` (their keys are collected — churn-scale by
    definition, refused beyond 100,000).

    Returns the fact-table version this refresh caught up to (pass it
    back as ``from_version`` next time).
    """
    from ecommerce_dbt_medallion_spark import lakehouse

    max_deleted_groups = 100_000
    to_version = lakehouse.versions(fact_table)[-1]
    if to_version == from_version:
        return to_version
    # include_preimage: an update that REASSIGNS a row's group must
    # dirty the group it left, not only the one it joined — post-image
    # alone left the old group's mart row permanently stale (round-7
    # review)
    changes = lakehouse.table_changes(
        spark, fact_table, from_version, to_version, include_preimage=True
    )
    dirty = changes.select(group_key).distinct().localCheckpoint(eager=True)
    facts = lakehouse.read(spark, fact_table, to_version)
    # checkpoint: merge_into evaluates its source several times (key
    # range, bloom probe, discovery join, rewrite) and the gone
    # anti-join + emptiness check each re-evaluate it too
    refreshed = agg_fn(facts.join(dirty, group_key, "semi")).localCheckpoint(
        eager=True
    )
    # groups with no surviving fact rows: present in dirty, absent from
    # the recompute → remove from the mart
    gone = [
        r[group_key]
        for r in dirty.join(refreshed, group_key, "left_anti")
        .limit(max_deleted_groups + 1)
        .collect()
    ]
    if len(gone) > max_deleted_groups:
        raise ValueError(
            f"refresh would delete >{max_deleted_groups} groups; "
            "rebuild the mart instead"
        )
    if refreshed.limit(1).count() > 0:
        lakehouse.merge_into(spark, mart_table, refreshed, group_key)
    if gone:
        pred = lakehouse._sql_in(group_key, gone)
        if None in gone:
            pred += f" OR `{group_key}` IS NULL"
        lakehouse.delete_where(spark, mart_table, pred)
    return to_version

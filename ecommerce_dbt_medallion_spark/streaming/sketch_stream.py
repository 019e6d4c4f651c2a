"""Streaming quantile-sketch maintenance (SURVEY §2 #37d).

The mergeable sketch's whole point is that its state algebra survives
ANY partitioning of the input — shards, partitions, or MICRO-BATCHES.
This module closes the loop on the streaming claim: each micro-batch's
sketch state (ops/sketch.quantile_sketch_state — integer cells, exact
cross-engine) APPENDs into a versioned lakehouse state table tagged
with its batch id, and quantile extraction merges across batch tags
with ``merge_sketch_states``, the same merge that combines shards.
Because the algebra is associative and commutative, the streamed
result is BIT-IDENTICAL to the batch computation over the union of the
batches — which is exactly what the gate oracle asserts (the gated key
shares ``oracle_quantile_sketch_mergeable``).

Scale shape: per batch, the exchange is bounded by the state's cell
count (≤ ~1300 cells × groups after map-side combine), never the batch
row count; the state table grows by ≤ cells × batches rows (compact
with OPTIMIZE or a periodic re-base if batch counts grow unbounded —
the cells themselves never do).

REPLAY IDEMPOTENCY: a batch replayed after checkpoint loss would
double its counts under blind addition. Batch states are batch-tagged
and the append anti-joins already-stored batch ids, so a replay
appends nothing and the state is unchanged (test-pinned).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark import lakehouse
from ecommerce_dbt_medallion_spark.ops.sketch import (
    _qsk_quantiles_from_state,
    merge_sketch_states,
    quantile_sketch_state,
)
from ecommerce_dbt_medallion_spark.streaming.ingest_stream import _ckpt_dir


def stage_microbatch_files_by(src_dir: str, df, n: int) -> None:
    """Stage ``df`` as ``n`` deterministic micro-batch files
    ``src_dir/b{k}.parquet`` with strictly increasing mtimes —
    FileStreamSource orders by (mtime, name), so this pins batch order.
    ``df`` carries an int ``__b`` batch column in [0, n); ONE
    partitioned write stages every batch. ``repartition(n, "__b")`` puts
    every batch value in exactly one task, so each ``__b=k`` directory
    holds exactly one file; partition columns are not written into the
    data files, so the staged files carry exactly the data columns, as
    before. A batch value with NO rows gets an empty schema-carrying
    file (readStream declares the schema explicitly) — batch COUNT and
    ORDER are part of the gates' oracle contract and must not shift."""
    import shutil as _sh
    import time as _time

    import pyarrow.parquet as _pq
    from pyspark.sql.pandas.types import to_arrow_schema

    staging = os.path.join(src_dir, "_stage_all")
    data_schema = df.drop("__b").schema
    (
        df.repartition(n, "__b")
        .write.mode("overwrite")
        .partitionBy("__b")
        .parquet(staging)
    )
    base = _time.time()
    for k in range(n):
        d = os.path.join(staging, f"__b={k}")
        parts = (
            [
                f
                for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(".")
            ]
            if os.path.isdir(d)
            else []
        )
        dst = os.path.join(src_dir, f"b{k}.parquet")
        if parts:
            (part,) = parts
            os.replace(os.path.join(d, part), dst)
        else:
            # empty batch: stage a 0-row file with the data schema so
            # the stream still sees (and numbers) this batch
            _pq.write_table(to_arrow_schema(data_schema).empty_table(), dst)
        os.utime(dst, (base + k * 10, base + k * 10))
    _sh.rmtree(staging, ignore_errors=True)


def _gate_scratch(sf_dir: str, *names: str) -> list[str]:
    """Fresh streaming-gate scratch paths under the gitignored gate
    root — ONE sanitization recipe with models/cdf._gate_path (the
    round-7 'inline copies drift' review; this module had grown four
    verbatim copies). Each path AND its streaming-checkpoint sibling
    is reset; callers mkdir their source dir."""
    import re as _re
    import shutil as _sh

    from ecommerce_dbt_medallion_spark.models.cdf import _GATE_ROOT

    tag = _re.sub(
        r"[^A-Za-z0-9_]", "_", os.path.basename(os.path.normpath(sf_dir))
    )
    out = []
    for n in names:
        path = os.path.normpath(os.path.join(_GATE_ROOT, f"{n}_{tag}"))
        for q in (path, _ckpt_dir(path)):
            _sh.rmtree(q, ignore_errors=True)
        out.append(path)
    return out


def stream_quantile_sketch_ingest(
    spark: SparkSession,
    source_dir: str,
    state_table: str,
    schema,
    max_files_per_trigger: int = 1,
) -> int:
    """Drain ``source_dir`` (rows of (grp string, cents bigint)) into a
    batch-tagged sketch-state lakehouse table; returns the final state
    version. Each row feeds its own group AND the ALL group via a
    constant 2-element explode (the same one-scan shape as the batch
    key)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def _batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # replay safety: a batch id already merged never re-appends.
        # The guard resolves DRIVER-SIDE when the state table is
        # metadata-scale (it always is: sketch cells × batches) — the
        # former read+anti-join+checkpoint cost one Spark job per
        # micro-batch to test an integer tag (round 14); the distributed
        # anti-join remains as the fallback.
        seen_ids = (
            lakehouse.distinct_values_local(state_table, "batch_id")
            if lakehouse.versions(state_table)
            else None
        )
        if seen_ids is not None and int(batch_id) in seen_ids:
            return
        bdf = quantile_sketch_state(
            batch_df.select(
                F.explode(F.array(F.col("grp"), F.lit("ALL"))).alias("grp"),
                "cents",
            ),
            "cents",
            ["grp"],
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        # ONE job: collect the bounded cell state (sketch cells, never
        # batch rows) and pass the rows alongside — create/append then
        # stage the file DRIVER-SIDE with zero further Spark jobs
        # (round 15; replaces eager checkpoint + distributed staging
        # write = 2 jobs/batch)
        brows = bdf.collect()
        bstate = spark.createDataFrame(brows, bdf.schema)
        if not lakehouse.versions(state_table):
            lakehouse.create_or_replace(
                spark, state_table, bstate, local_rows=brows
            )
            return
        if seen_ids is not None:
            lakehouse.append(spark, state_table, bstate, local_rows=brows)
            return
        seen = lakehouse.read(spark, state_table).select("batch_id").distinct()
        fresh = bstate.join(seen, "batch_id", "left_anti").localCheckpoint(
            eager=True
        )
        if not fresh.isEmpty():
            lakehouse.append(spark, state_table, fresh)

    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", _ckpt_dir(state_table))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    vs = lakehouse.versions(state_table)
    return vs[-1] if vs else -1


def stream_state_quantiles(spark: SparkSession, state_table: str) -> DataFrame:
    """Quantiles from the STORED streaming state: merge across batch
    tags (the shard-merge algebra) then extract — state-only compute,
    never the fact."""
    merged = merge_sketch_states(
        lakehouse.read(spark, state_table).select("grp", "bucket", "cnt")
    )
    return _qsk_quantiles_from_state(merged, "grp").orderBy("grp", "q")


def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated key (#37d): the STREAMING sibling of
    ``quantile_sketch_mergeable`` — orders split into 3 deterministic
    micro-batches (o_orderkey % 3, mtime-ordered files), per-batch
    states maintained in a lakehouse table, quantiles extracted from
    the stored state. Associativity of the state algebra makes the
    result equal the batch computation over all orders, so the key
    shares the batch oracle verbatim — the strongest possible
    state-maintenance gate."""

    from ecommerce_dbt_medallion_spark.sources.registry import load_table

    src, state_table = _gate_scratch(
        sf_dir, "qsketchstream_src", "qsketchstream_state"
    )
    os.makedirs(src, exist_ok=True)

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    stage_microbatch_files_by(
        src,
        orders.select(
            "grp", "cents", (F.col("o_orderkey") % 3).cast("int").alias("__b")
        ),
        3,
    )

    stream_quantile_sketch_ingest(
        spark, src, state_table, schema="grp string, cents bigint"
    )
    return stream_state_quantiles(spark, state_table)


# ------------------------------------------ streaming HLL maintenance


def stream_hll_ingest(
    spark: SparkSession,
    source_dir: str,
    state_table: str,
    schema,
    max_files_per_trigger: int = 1,
) -> int:
    """Drain ``source_dir`` (rows of (event_type string, user_id
    bigint)) into a batch-tagged HLL register-state lakehouse table;
    returns the final state version.

    Per batch the exchange is bounded by the REGISTER count (types ×
    4368 rows after map-side partial max), never the batch row count —
    the same bounded-state shape as the quantile sibling above. Replay
    idempotency mirrors it too: batch-tagged rows + an anti-join on
    already-stored batch ids (a max-merge is idempotent under exact
    replay anyway — max(a, a) = a — but the tag keeps the state table's
    growth deterministic and the guard uniform across sketch kinds).
    """
    from ecommerce_dbt_medallion_spark.models.events import hll_register_state

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def _batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # driver-side replay guard, same shape as the quantile sibling
        seen_ids = (
            lakehouse.distinct_values_local(state_table, "batch_id")
            if lakehouse.versions(state_table)
            else None
        )
        if seen_ids is not None and int(batch_id) in seen_ids:
            return
        bdf = hll_register_state(
            batch_df.where(F.col("user_id").isNotNull()).select(
                "event_type", "user_id"
            )
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        # ONE job + zero-job driver-side staging (see quantile sibling)
        brows = bdf.collect()
        bstate = spark.createDataFrame(brows, bdf.schema)
        if not lakehouse.versions(state_table):
            lakehouse.create_or_replace(
                spark, state_table, bstate, local_rows=brows
            )
            return
        if seen_ids is not None:
            # an all-NULL-user batch yields an EMPTY register state:
            # appending it would commit a zero-row file + version per
            # such batch (ADVICE r14) — keep the anti-join path's
            # non-empty guard on the driver fast path too
            if brows:
                lakehouse.append(spark, state_table, bstate, local_rows=brows)
            return
        seen = lakehouse.read(spark, state_table).select("batch_id").distinct()
        fresh = bstate.join(seen, "batch_id", "left_anti").localCheckpoint(
            eager=True
        )
        if not fresh.isEmpty():
            lakehouse.append(spark, state_table, fresh)

    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", _ckpt_dir(state_table))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    vs = lakehouse.versions(state_table)
    return vs[-1] if vs else -1


def stream_state_hll_estimates(spark: SparkSession, state_table: str) -> DataFrame:
    """Distinct-user estimates from the STORED streaming register
    state: max-merge across batch tags, then the shared estimator —
    state-only compute, never the fact."""
    from ecommerce_dbt_medallion_spark.models.events import hll_estimates_from_regs

    merged = (
        lakehouse.read(spark, state_table)
        .groupBy("event_type", "p", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    return hll_estimates_from_regs(merged)


def stream_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated key (#37e): the STREAMING sibling of
    ``sketch_distinct_users`` — events split into 3 deterministic
    micro-batches (event_id % 3, mtime-ordered files), per-batch HLL
    register states maintained in a lakehouse table, estimates
    extracted from the stored state. max() is associative, commutative
    AND idempotent, so the streamed registers equal the batch registers
    over the union — even across batches that share users — and the key
    shares the batch estimator column-for-column (the oracle is the
    batch oracle minus its exact-count column, which would need
    corpus-scale state to maintain online)."""

    from ecommerce_dbt_medallion_spark.models.events import load_events

    src, state_table = _gate_scratch(
        sf_dir, "hllstream_src", "hllstream_state"
    )
    os.makedirs(src, exist_ok=True)

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "user_id")
    stage_microbatch_files_by(
        src,
        ev.select(
            "event_type",
            "user_id",
            (F.col("event_id") % 3).cast("int").alias("__b"),
        ),
        3,
    )

    stream_hll_ingest(
        spark, src, state_table, schema="event_type string, user_id bigint"
    )
    return stream_state_hll_estimates(spark, state_table)


# -------------------------------------- streaming heavy hitters (CMS)

HH_CAND_PER_BATCH = 50  # per-batch candidate top-M (SpaceSaving-style)
HH_TOPK = 20


def stream_cms_ingest(
    spark: SparkSession,
    source_dir: str,
    cms_table: str,
    cand_table: str,
    schema,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``source_dir`` (rows of (user_id bigint)) into TWO
    lakehouse state tables: an additive count-min-sketch cell table
    (batch-tagged, replay-guarded — same algebra as the quantile
    sibling: sums merge across any partitioning, so the merged cells
    equal the batch CMS over the union) and a candidate table holding
    the union of per-batch top-``HH_CAND_PER_BATCH`` users (the
    SpaceSaving insight at micro-batch grain: a global heavy hitter is
    batch-local-heavy in at least one batch long before it matters;
    the candidate set is bounded by M × batches, never the key space).

    Per batch the CMS exchange is bounded by the CELL count (4 rows ×
    256 buckets after map-side combine) and the candidate exchange by
    M — never the batch row count.
    """
    from ecommerce_dbt_medallion_spark.ops.sketch import cms_cell_structs

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    cell_structs = cms_cell_structs(F.col("user_id"))

    def _batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ev = batch_df.where(F.col("user_id").isNotNull())
        # driver-side replay guard (round 14, the quantile/HLL shape):
        # the batch tag test and the candidate-novelty test both run
        # against METADATA-SCALE state (cells × batches / M × batches
        # rows), so they resolve driver-side with zero Spark jobs; the
        # distributed anti-joins remain as fallbacks.
        cms_seen = (
            lakehouse.distinct_values_local(cms_table, "batch_id")
            if lakehouse.versions(cms_table)
            else None
        )
        if cms_seen is None or int(batch_id) not in cms_seen:
            bdf = (
                ev.select(F.explode(cell_structs).alias("rb"))
                .select("rb.row_i", "rb.bucket")
                .groupBy("row_i", "bucket")
                .agg(F.count("*").alias("cell_count"))
                .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
            )
            # ONE job + zero-job driver-side staging (quantile sibling)
            brows = bdf.collect()
            bcells = spark.createDataFrame(brows, bdf.schema)
            if not lakehouse.versions(cms_table):
                lakehouse.create_or_replace(
                    spark, cms_table, bcells, local_rows=brows
                )
            elif cms_seen is not None:
                # same non-empty guard as the HLL fast path (ADVICE r14)
                if brows:
                    lakehouse.append(spark, cms_table, bcells, local_rows=brows)
            else:
                seen = (
                    lakehouse.read(spark, cms_table)
                    .select("batch_id")
                    .distinct()
                )
                fresh = bcells.join(
                    seen, "batch_id", "left_anti"
                ).localCheckpoint(eager=True)
                if not fresh.isEmpty():
                    lakehouse.append(spark, cms_table, fresh)
        # deterministic per-batch top-M: (count desc, user_id) is a
        # total order, so the candidate set is engine-reproducible —
        # and orderBy().limit() under a total order IS row_number<=M,
        # compiled as TakeOrderedAndProject (distributed per-partition
        # top-M + merge; an unpartitioned Window would single-thread
        # the batch's user grain at 100 TB)
        bcand_df = (
            ev.groupBy("user_id")
            .agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("user_id"))
            .limit(HH_CAND_PER_BATCH)
            .select("user_id")
        )
        # ≤ HH_CAND_PER_BATCH rows by construction: one TakeOrdered job,
        # then LocalRelation → zero-job driver-side create/append
        bcand_rows = bcand_df.collect()
        bcand = spark.createDataFrame(bcand_rows, bcand_df.schema)
        if not lakehouse.versions(cand_table):
            lakehouse.create_or_replace(
                spark, cand_table, bcand, key="user_id", local_rows=bcand_rows
            )
            return
        # novelty filter: the known candidate set is metadata-scale
        # (M × batches), so resolve it driver-side when possible — the
        # batch candidates are already in hand, so the filter is a plain
        # Python set test (ADVICE r14: the previous ~isin() was
        # NULL-poisonable and embedded an unbounded literal list)
        known = lakehouse.distinct_values_local(cand_table, "user_id")
        if known is not None:
            new_rows = [r for r in bcand_rows if r["user_id"] not in known]
            if new_rows:
                lakehouse.append(
                    spark,
                    cand_table,
                    spark.createDataFrame(new_rows, bcand_df.schema),
                    local_rows=new_rows,
                )
        else:
            knownf = lakehouse.read(spark, cand_table).select("user_id")
            new = bcand.join(knownf, "user_id", "left_anti").localCheckpoint(
                eager=True
            )
            if not new.isEmpty():
                lakehouse.append(spark, cand_table, new)

    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", _ckpt_dir(cms_table))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_state_heavy_hitters(
    spark: SparkSession, cms_table: str, cand_table: str
) -> DataFrame:
    """Top-``HH_TOPK`` heavy hitters from the STORED state: sum-merge
    the CMS cells across batch tags, probe only the candidate set,
    rank under a total order — state-only compute, never the fact."""
    from ecommerce_dbt_medallion_spark.ops.sketch import cms_cell_structs

    merged = (
        lakehouse.read(spark, cms_table)
        .groupBy("row_i", "bucket")
        .agg(F.sum("cell_count").alias("cell_count"))
    )
    cand = lakehouse.read(spark, cand_table)
    cell_structs = cms_cell_structs(F.col("user_id"))
    return (
        cand.select("user_id", F.explode(cell_structs).alias("rb"))
        .select("user_id", "rb.row_i", "rb.bucket")
        .join(F.broadcast(merged), ["row_i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cell_count").cast("long").alias("est_count"))
        .orderBy(F.desc("est_count"), "user_id")
        .limit(HH_TOPK)
        .select(F.col("user_id").cast("long").alias("user_id"), "est_count")
    )


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated key (#37f): streaming heavy hitters — events split into 3
    deterministic micro-batches (event_id % 3, mtime-ordered files),
    per-batch CMS cells SUM-maintained and per-batch top-M candidates
    unioned in lakehouse state, top-K extracted from the stored state
    only. Additivity makes the merged cells equal the batch CMS over
    the union of batches; the ORACLE restates the whole construction —
    per-batch deterministic top-M candidates + global CMS estimates —
    in pure SQL, so candidate selection, cell maintenance, and the min
    estimator are all under the value hash."""

    from ecommerce_dbt_medallion_spark.models.events import load_events

    src, cms_table, cand_table = _gate_scratch(
        sf_dir, "hhstream_src", "hhstream_cms", "hhstream_cand"
    )
    os.makedirs(src, exist_ok=True)

    ev = load_events(spark, sf_dir).select("event_id", "user_id")
    stage_microbatch_files_by(
        src,
        ev.select("user_id", (F.col("event_id") % 3).cast("int").alias("__b")),
        3,
    )

    stream_cms_ingest(
        spark, src, cms_table, cand_table, schema="user_id bigint"
    )
    return stream_state_heavy_hitters(spark, cms_table, cand_table)


def oracle_stream_heavy_hitters() -> str:
    from ecommerce_dbt_medallion_spark.ops.sketch import CMS_ROWS, CMS_SALT

    rows = ", ".join(str(i) for i in range(CMS_ROWS))
    return f"""
with ev as (
    select event_id, user_id from events where user_id is not null
),
bc as (
    select event_id % 3 as batch_id, user_id, count(*) as c
    from ev group by 1, 2
),
cand as (
    select distinct user_id from (
        select batch_id, user_id,
            row_number() over (
                partition by batch_id order by c desc, user_id) as rn
        from bc
    ) where rn <= {HH_CAND_PER_BATCH}
),
salts as (select unnest([{rows}]) as row_i),
cells as (
    select s.row_i,
        substr(md5(cast(e.user_id as varchar) || '{CMS_SALT}' || s.row_i), 1, 2)
            as bucket,
        count(*) as cell_count
    from ev e cross join salts s
    group by 1, 2
),
est as (
    select cd.user_id, min(c.cell_count) as est_count
    from cand cd
    cross join salts s
    join cells c
      on c.row_i = s.row_i
     and c.bucket = substr(
            md5(cast(cd.user_id as varchar) || '{CMS_SALT}' || s.row_i), 1, 2)
    group by 1
)
select cast(user_id as bigint) as user_id,
    cast(est_count as bigint) as est_count
from est
order by est_count desc, user_id
limit {HH_TOPK}
"""


# -------------------------------------- streaming Gram-matrix maintenance


def stream_gram_ingest(
    spark: SparkSession,
    source_dir: str,
    state_table: str,
    max_files_per_trigger: int = 1,
    schema=None,
) -> int:
    """Drain raw-embedding micro-batches into a batch-tagged partial-
    Gram state table (2080 integer cells per batch after the in-batch
    fold). Same algebra story as the quantile sketch: the cells are
    exact bigints, so any chop of the corpus into micro-batches sums to
    the same state; same replay guard (batch-tagged anti-join).

    ``schema`` defaults to the staged files' OWN parquet schema (one
    footer read, metadata-scale) — the source contract permits
    array<float> OR array<double> embeddings, and a hardcoded float
    schema would break the vectorized reader on a double-encoded
    dataset (double→float is not an allowed parquet upcast). When the
    source directory has no parquet footers YET (the start-the-stream-
    before-files-arrive pattern), inference is impossible, so the
    documented default ``vec_id bigint, embedding array<float>``
    applies — a later double-encoded producer must pass ``schema``
    explicitly in that pattern."""
    from pyspark.errors import AnalysisException

    from ecommerce_dbt_medallion_spark.ops.cluster import _quantize_embeddings
    from ecommerce_dbt_medallion_spark.ops.quantize import gram_partial_sums

    if schema is None:
        try:
            schema = spark.read.parquet(source_dir).schema
        except AnalysisException:
            # Empty dir: no footers to infer from (r12 ADVICE).
            schema = "vec_id bigint, embedding array<float>"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def _batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bstate = gram_partial_sums(
            _quantize_embeddings(batch_df)
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        bstate = bstate.localCheckpoint(eager=True)
        if not lakehouse.versions(state_table):
            lakehouse.create_or_replace(spark, state_table, bstate)
            return
        seen = lakehouse.read(spark, state_table).select("batch_id").distinct()
        fresh = bstate.join(seen, "batch_id", "left_anti").localCheckpoint(
            eager=True
        )
        if not fresh.isEmpty():
            lakehouse.append(spark, state_table, fresh)

    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", _ckpt_dir(state_table))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    vs = lakehouse.versions(state_table)
    return vs[-1] if vs else -1


def stream_gram_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated key (#34f4): STREAMING maintenance of the integer Gram
    matrix — the incremental-covariance shape a 100 TB embedding
    pipeline actually runs (each ingest slice folds its d×d partial
    into stored state; PCA/whitening consumers read the state, never
    the corpus). The embeddings table splits into 3 deterministic
    micro-batches (vec_id % 3, mtime-ordered files); each batch's
    2080-cell partial lands batch-tagged in a lakehouse state table;
    the published report merges across tags. Exact-bigint
    commutativity makes the streamed state EQUAL the batch
    computation, so the key shares ``oracle_embedding_gram_matrix``
    verbatim (the stream_quantile_sketch contract)."""

    from ecommerce_dbt_medallion_spark.ops.quantize import gram_finalize
    from ecommerce_dbt_medallion_spark.sources.registry import load_table

    src, state_table = _gate_scratch(
        sf_dir, "gramstream_src", "gramstream_state"
    )
    os.makedirs(src, exist_ok=True)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stage_microbatch_files_by(
        src,
        emb.withColumn("__b", (F.col("vec_id") % 3).cast("int")),
        3,
    )
    stream_gram_ingest(spark, src, state_table)
    return gram_finalize(
        lakehouse.read(spark, state_table).drop("batch_id")
    )

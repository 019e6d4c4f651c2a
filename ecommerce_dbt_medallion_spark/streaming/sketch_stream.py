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
double its counts under blind addition. Every state table here is
batch-tagged and committed through ``drain.commit_batch_state``, which
commits nothing for a batch id the table already holds, so a replay
leaves the state unchanged (test-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark import lakehouse
from ecommerce_dbt_medallion_spark.ops.sketch import (
    _qsk_quantiles_from_state,
    merge_sketch_states,
    quantile_sketch_state,
)
from ecommerce_dbt_medallion_spark.streaming.drain import (
    commit_batch_state,
    drain_batches,
    gate_scratch,
    stage_microbatch_files_by,
    stored_values,
)


def stream_quantile_sketch_ingest(
    spark: SparkSession,
    source_dir: str,
    state_table: str,
    schema,
) -> int:
    """Drain ``source_dir`` (rows of (grp string, cents bigint)) into a
    batch-tagged sketch-state lakehouse table; returns the final state
    version. Each row feeds its own group AND the ALL group via a
    constant 2-element explode (the same one-scan shape as the batch
    key)."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        bdf = quantile_sketch_state(
            batch_df.select(
                F.explode(F.array(F.col("grp"), F.lit("ALL"))).alias("grp"),
                "cents",
            ),
            "cents",
            ["grp"],
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        commit_batch_state(spark, state_table, bdf, batch_id)

    return drain_batches(spark, source_dir, schema, state_table, _batch)


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

    src, state_table = gate_scratch(
        sf_dir, "qsketchstream_src", "qsketchstream_state"
    )
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
) -> int:
    """Drain ``source_dir`` (rows of (event_type string, user_id
    bigint)) into a batch-tagged HLL register-state lakehouse table;
    returns the final state version.

    Per batch the exchange is bounded by the REGISTER count (types ×
    4368 rows after map-side partial max), never the batch row count —
    the same bounded-state shape as the quantile sibling above, and the
    same ``commit_batch_state`` replay guard (a max-merge is idempotent
    under exact replay anyway — max(a, a) = a — but the tag keeps the
    state table's growth deterministic). An all-NULL-user batch yields
    an EMPTY register state, which commits nothing after the first
    batch (ADVICE r14).
    """
    from ecommerce_dbt_medallion_spark.models.events import hll_register_state

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        bdf = hll_register_state(
            batch_df.where(F.col("user_id").isNotNull()).select(
                "event_type", "user_id"
            )
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        commit_batch_state(spark, state_table, bdf, batch_id)

    return drain_batches(spark, source_dir, schema, state_table, _batch)


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

    src, state_table = gate_scratch(sf_dir, "hllstream_src", "hllstream_state")
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
) -> None:
    """Drain ``source_dir`` (rows of (user_id bigint)) into TWO
    lakehouse state tables: an additive count-min-sketch cell table
    (batch-tagged, replay-guarded by ``commit_batch_state`` — same
    algebra as the quantile sibling: sums merge across any partitioning,
    so the merged cells equal the batch CMS over the union) and a
    candidate table holding
    the union of per-batch top-``HH_CAND_PER_BATCH`` users (the
    SpaceSaving insight at micro-batch grain: a global heavy hitter is
    batch-local-heavy in at least one batch long before it matters;
    the candidate set is bounded by M × batches, never the key space).

    Per batch the CMS exchange is bounded by the CELL count (4 rows ×
    256 buckets after map-side combine) and the candidate exchange by
    M — never the batch row count.
    """
    from ecommerce_dbt_medallion_spark.ops.sketch import cms_cell_structs

    cell_structs = cms_cell_structs(F.col("user_id"))

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        ev = batch_df.where(F.col("user_id").isNotNull())
        cells = (
            ev.select(F.explode(cell_structs).alias("rb"))
            .select("rb.row_i", "rb.bucket")
            .groupBy("row_i", "bucket")
            .agg(F.count("*").alias("cell_count"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        commit_batch_state(spark, cms_table, cells, batch_id)
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
        # ≤ HH_CAND_PER_BATCH rows by construction: one TakeOrdered job
        bcand_rows = bcand_df.collect()
        # novelty filter: the known candidate set is metadata-scale
        # (M × batches) and the batch candidates are in hand, so the
        # filter is a plain Python set test. append CREATEs the table on
        # the first batch, even with no candidates.
        exists = bool(lakehouse.versions(cand_table))
        known = stored_values(spark, cand_table, "user_id") if exists else set()
        new_rows = [r for r in bcand_rows if r["user_id"] not in known]
        if new_rows or not exists:
            lakehouse.append(
                spark,
                cand_table,
                spark.createDataFrame(new_rows, bcand_df.schema),
                key="user_id",
                local_rows=new_rows,
            )

    drain_batches(spark, source_dir, schema, cms_table, _batch)


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

    src, cms_table, cand_table = gate_scratch(
        sf_dir, "hhstream_src", "hhstream_cms", "hhstream_cand"
    )
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
) -> int:
    """Drain raw-embedding micro-batches into a batch-tagged partial-
    Gram state table (2080 integer cells per batch after the in-batch
    fold). Same algebra story as the quantile sketch: the cells are
    exact bigints, so any chop of the corpus into micro-batches sums to
    the same state; same replay guard (``commit_batch_state``).

    The stream schema is the staged files' OWN parquet schema (one
    footer read, metadata-scale) — the source contract permits
    array<float> OR array<double> embeddings, and a hardcoded float
    schema would break the vectorized reader on a double-encoded
    dataset (double→float is not an allowed parquet upcast). When the
    source directory has no parquet footers YET (the start-the-stream-
    before-files-arrive pattern), inference is impossible, so
    ``vec_id bigint, embedding array<float>`` applies."""
    from pyspark.errors import AnalysisException

    from ecommerce_dbt_medallion_spark.ops.cluster import _quantize_embeddings
    from ecommerce_dbt_medallion_spark.ops.quantize import gram_partial_sums

    try:
        schema = spark.read.parquet(source_dir).schema
    except AnalysisException:
        # Empty dir: no footers to infer from (r12 ADVICE).
        schema = "vec_id bigint, embedding array<float>"

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        bstate = gram_partial_sums(
            _quantize_embeddings(batch_df)
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        commit_batch_state(spark, state_table, bstate, batch_id)

    return drain_batches(spark, source_dir, schema, state_table, _batch)


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

    src, state_table = gate_scratch(sf_dir, "gramstream_src", "gramstream_state")
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

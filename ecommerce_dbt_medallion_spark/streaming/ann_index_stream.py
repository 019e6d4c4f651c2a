"""Persisted, incrementally-maintained IVF-PQ ANN index (SURVEY §2).

Round-10 VERDICT #2: every ``ann_*`` key retrained quantizers and
re-encoded the whole corpus inside the query plan — fine for a gate,
wrong at 100 TB, where the index must be a STORED artifact that
queries only READ and ingestion only EXTENDS. This module makes the
IVF-PQ index from ops/cluster.py exactly that:

- **codebook tables** — the coarse quantizer (list_id → centroid) and
  the PQ_M residual codebooks ((m, code) → codeword), trained ONCE on
  the bounded deterministic bootstrap sample (vec_id <
  IVFPQ_TRAIN_MAX) and frozen. Training never re-runs; a production
  deployment retrains on drift by building a v2 index table set.
- **code table** — (vec_id, list_id, code0..code{M-1}), one 16-bit-ish
  row per vector, created from the bootstrap slice CLUSTERED BY
  list_id (create_or_replace(partition_by="list_id")), then extended
  per micro-batch: foreachBatch quantizes the arriving raw embeddings,
  encodes them against the FROZEN stored codebooks (broadcast joins,
  one pass over the batch — ops/cluster._ivfpq_encode), and MERGEs on
  vec_id into the code table (the stream_dedup_ingest state pattern).
  MERGE makes replay idempotent BY CONTENT: a batch re-delivered after
  checkpoint loss updates every row to the value it already has.
- **search** — ops/cluster._ivfpq_search over the STORED code table:
  probe lists are decided from the tiny stored coarse table, the code
  scan reads only files whose logged list_id stats intersect the
  probed lists (lakehouse file skipping — the clustering pays off
  here), and ranking runs on asymmetric-distance LUTs without ever
  touching original vectors.

Correctness contract (the stream_quantile_sketch pattern): encoding is
pointwise per vector against frozen codebooks, so WHICH batch a vector
arrives in cannot change its codes — the streamed code table equals
the one the one-shot batch pipeline (``ann_topk_ivfpq``) builds, and
the gated key shares ``oracle_ann_topk_ivfpq`` VERBATIM. The oracle
replays training + encoding + search from the raw table; the gate
additionally proves the stored-state plumbing produced the same state.

Scale shape: bootstrap cost is O(sample); each micro-batch costs
O(batch) encode + a MERGE that rewrites only files whose vec_id range
intersects the batch (new ids append); search reads ~PROBE/LISTS of
the code table via file skipping. Nothing re-reads the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark import lakehouse
from ecommerce_dbt_medallion_spark.config import ANN_N_QUERIES
from ecommerce_dbt_medallion_spark.ops.cluster import (
    IVFPQ_TRAIN_MAX,
    PQ_M,
    _ivfpq_encode,
    _ivfpq_encode_local,
    _ivfpq_probe,
    _ivfpq_search,
    _ivfpq_train,
    _quantize_embeddings,
)
from ecommerce_dbt_medallion_spark.sources.registry import load_table
from ecommerce_dbt_medallion_spark.streaming.drain import (
    drain_batches,
    gate_scratch,
    stage_microbatch_files_by,
)


# How much of the corpus the BOOTSTRAP build encodes; everything at or
# above this vec_id arrives through the maintenance stream. Distinct
# from (and smaller than) IVFPQ_TRAIN_MAX so the streamed path is
# exercised at every test SF — the gate's training sample stays the
# batch pipeline's sample (vec_id < IVFPQ_TRAIN_MAX, the whole corpus
# at SFs under the bound) so oracle_ann_topk_ivfpq applies verbatim;
# a production deployment trains on whatever day-0 corpus it has.
ANN_INDEX_BOOT = 128


def ann_index_bootstrap(
    spark: SparkSession,
    train_vectors: DataFrame,
    boot_vectors: DataFrame,
    coarse_table: str,
    pq_table: str,
    codes_table: str,
) -> None:
    """Train coarse + PQ codebooks on the bounded sample inside
    ``train_vectors`` (vec_id < IVFPQ_TRAIN_MAX — _ivfpq_train applies
    the bound), persist them frozen, and seed the code table with the
    encoded ``boot_vectors`` slice. Both inputs are quantized
    (vec_id, q) frames."""
    coarse, codebooks = _ivfpq_train(train_vectors)
    # collect once (the quantizers are metadata-scale by construction)
    # and reuse for the coarse table, the pq table AND the seed encode —
    # with the rows in hand all three CREATEs stage driver-side with
    # zero Spark jobs (round 15); the previous 4-way unionByName pq
    # plan alone paid a distributed staging write for ~PQ_K·PQ_M rows
    coarse_rows = coarse.select("cluster", "cq").collect()
    cb_rows = [cb.collect() for cb in codebooks]
    lakehouse.create_or_replace(
        spark,
        coarse_table,
        spark.createDataFrame(coarse_rows, "cluster long, cq array<bigint>"),
        key="cluster",
        local_rows=coarse_rows,
    )
    pq_local = [
        (m, r["cluster"], r["cq"])
        for m, rows in enumerate(cb_rows)
        for r in rows
    ]
    lakehouse.create_or_replace(
        spark,
        pq_table,
        spark.createDataFrame(pq_local, "m int, cluster long, cq array<bigint>"),
        local_rows=pq_local,
    )
    # Bootstrap seed encode runs DRIVER-SIDE (round 14): the seed is
    # bounded at ANN_INDEX_BOOT rows by construction, yet the
    # distributed _ivfpq_encode chain cost ~10 fixed-overhead stages
    # (assign crossJoin/groupBy + 4 per-sub-space assigns + joins) for
    # ~128 rows on every construction-timed bench run. The numpy twin
    # (_ivfpq_encode_local, test-pinned bit-exact) encodes the collected
    # seed in milliseconds; the per-batch stream encode below stays
    # fully distributed — at 100 TB only the bounded seed is local.
    boot_rows = boot_vectors.select("vec_id", "q").collect()
    code_cols = ", ".join(f"code{m} long" for m in range(PQ_M))
    code_rows = _ivfpq_encode_local(spark, boot_rows, coarse_rows, cb_rows)
    codes_local = spark.createDataFrame(
        code_rows, f"vec_id long, list_id long, {code_cols}"
    )
    lakehouse.create_or_replace(
        spark,
        codes_table,
        codes_local,
        key="vec_id",
        partition_by="list_id",
        local_rows=code_rows,
    )


def _stored_codebooks(spark: SparkSession, coarse_table: str, pq_table: str):
    """Read back the frozen quantizers: (coarse, [codebooks]) in the
    exact (cluster, cq) shape _ivfpq_encode/_ivfpq_search expect.
    Integer arrays round-trip parquet bit-exactly, so stored-codebook
    encoding equals in-plan encoding."""
    coarse = lakehouse.read(spark, coarse_table).select("cluster", "cq")
    pq = lakehouse.read(spark, pq_table)
    return coarse, [
        pq.where(F.col("m") == m).select("cluster", "cq") for m in range(PQ_M)
    ]


def stream_ann_index_ingest(
    spark: SparkSession,
    source_dir: str,
    coarse_table: str,
    pq_table: str,
    codes_table: str,
) -> int:
    """Drain raw-embedding micro-batch files from ``source_dir`` into
    the stored code table. Per batch: quantize → encode against the
    FROZEN stored codebooks → MERGE on vec_id. Returns the code
    table's final version."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        coarse, codebooks = _stored_codebooks(spark, coarse_table, pq_table)
        # a micro-batch arrives as ONE parquet split — repartition by id
        # so the encode's assign/join stages use the cores (the
        # doc_signatures single-split lesson). CONDITIONAL: a 100 TB
        # batch already arrives multi-split and skips the extra
        # exchange entirely (scale-adaptive, not a local constant)
        qb = _quantize_embeddings(batch_df)
        par = spark.sparkContext.defaultParallelism
        if qb.rdd.getNumPartitions() < par:
            qb = qb.repartition(par, "vec_id")
        bcodes = _ivfpq_encode(
            qb, coarse, codebooks
        ).localCheckpoint(eager=True)  # MERGE scans its source repeatedly
        lakehouse.merge_into(spark, codes_table, bcodes, key="vec_id")

    return drain_batches(
        spark, source_dir, "vec_id long, embedding array<double>", codes_table, _batch
    )


def ann_index_search(
    spark: SparkSession,
    queries: DataFrame,
    coarse_table: str,
    pq_table: str,
    codes_table: str,
) -> DataFrame:
    """IVF-PQ search over the STORED index. The probed list ids are
    resolved first from the tiny coarse table (ANN_N_QUERIES ×
    IVFPQ_PROBE rows — metadata-scale, like the lakehouse file lists,
    never a data-path collect) so the code scan can FILE-SKIP on the
    logged list_id stats before any executor reads a row."""
    coarse, codebooks = _stored_codebooks(spark, coarse_table, pq_table)
    # same probe rule as _ivfpq_search (nearest IVFPQ_PROBE lists): run
    # it standalone on the metadata-scale inputs to learn WHICH lists
    # the scan needs, then cut the file list before reading codes
    probe_lists = sorted(
        r["list_id"]
        for r in _ivfpq_probe(queries, coarse)
        .select("list_id")
        .distinct()
        .collect()
    )
    snap = lakehouse._snapshot(codes_table)
    files = lakehouse._may_hold(
        snap.files, snap.key, "list_id", [(lid, lid) for lid in probe_lists]
    )
    codes = lakehouse._read_files(spark, snap, files).where(
        F.col("list_id").isin([int(x) for x in probe_lists])
    )
    return _ivfpq_search(queries, coarse, codebooks, codes)


def ann_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated key: the full lifecycle of a persisted IVF-PQ index —
    bootstrap-train + encode (vec_id < IVFPQ_TRAIN_MAX), then three
    raw-embedding micro-batches (vec_id % 3 over the remainder,
    mtime-ordered files, maxFilesPerTrigger=1) encoded with the frozen
    stored codebooks and MERGEd into the clustered code table, then
    top-k search served from the stored tables with list_id file
    skipping. Shares oracle_ann_topk_ivfpq VERBATIM — frozen-codebook
    encoding is pointwise, so the maintained index equals the
    batch-built one (the stream_quantile_sketch contract)."""
    coarse_table, pq_table, codes_table, src = gate_scratch(
        sf_dir, "annidx_coarse", "annidx_pq", "annidx_codes", "annidx_src"
    )

    par = spark.sparkContext.defaultParallelism
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    train = (
        _quantize_embeddings(emb.where(F.col("vec_id") < IVFPQ_TRAIN_MAX))
        .repartition(par, "vec_id")
        .localCheckpoint(eager=False)
    )
    boot = train.where(F.col("vec_id") < ANN_INDEX_BOOT)
    ann_index_bootstrap(spark, train, boot, coarse_table, pq_table, codes_table)

    rest = emb.where(F.col("vec_id") >= ANN_INDEX_BOOT)
    stage_microbatch_files_by(
        src,
        rest.withColumn("__b", (F.col("vec_id") % 3).cast("int")),
        3,
    )
    stream_ann_index_ingest(spark, src, coarse_table, pq_table, codes_table)

    queries = _quantize_embeddings(emb.where(F.col("vec_id") < ANN_N_QUERIES))
    return ann_index_search(spark, queries, coarse_table, pq_table, codes_table)

"""The streaming harness every streaming key runs through.

Each choice the streaming keys share is made here once:

- where a gate's scratch tables live (:func:`gate_path`,
  :func:`gate_scratch`) and where a table's streaming checkpoint lives
  (:func:`_ckpt_dir`);
- how a gate stages its input as ordered micro-batch files
  (:func:`stage_microbatch_files_by`);
- how a stream is drained: to a memory sink (:func:`drain_to_memory`)
  or through ``foreachBatch`` over a file source (:func:`drain_batches`),
  both with ``Trigger.AvailableNow`` so the drain ends once the input is
  consumed;
- how a batch-tagged state table absorbs a replayed micro-batch
  (:func:`commit_batch_state`).
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ecommerce_dbt_medallion_spark import lakehouse

# repo-anchored (works from any caller cwd), under gitignored
# spark-warehouse/
_GATE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    os.pardir,
    "spark-warehouse",
)


def _ckpt_dir(table: str) -> str:
    """Streaming-checkpoint directory for a lakehouse table: a SIBLING
    of the table root, never inside it. A checkpoint inside the table
    directory entangles engine-internal replay state with versioned
    storage — a byte-copy snapshot export or directory-walk consumer
    picks it up, and resetting the table destroys replay state (or vice
    versa) (round-8 ADVICE)."""
    return table.rstrip("/\\") + "_ckpt"


def gate_path(sf_dir: str, name: str) -> str:
    """The per-SF scratch path ``name`` of a gate under the gitignored
    warehouse root. Pure: nothing on disk changes."""
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(os.path.normpath(sf_dir)))
    return os.path.normpath(os.path.join(_GATE_ROOT, f"{name}_{tag}"))


def gate_scratch(sf_dir: str, *names: str) -> list[str]:
    """Fresh gate scratch paths, one per name: each path AND its
    streaming-checkpoint sibling is removed, so a gate always starts
    from an empty table and an empty checkpoint."""
    out = []
    for name in names:
        path = gate_path(sf_dir, name)
        for p in (path, _ckpt_dir(path)):
            shutil.rmtree(p, ignore_errors=True)
        out.append(path)
    return out


def stage_microbatch_files_by(src_dir: str, df: DataFrame, n: int) -> None:
    """Stage ``df`` as ``n`` deterministic micro-batch files
    ``src_dir/b{k}.parquet`` with strictly increasing mtimes —
    FileStreamSource orders by (mtime, name), so this pins batch order.
    ``df`` carries an int ``__b`` batch column in [0, n); ONE
    partitioned write stages every batch. ``repartition(n, "__b")`` puts
    every batch value in exactly one task, so each ``__b=k`` directory
    holds exactly one file; partition columns are not written into the
    data files, so the staged files carry exactly the data columns. A
    batch value with NO rows gets an empty schema-carrying file
    (readStream declares the schema explicitly) — batch COUNT and ORDER
    are part of the gates' oracle contract and must not shift."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(src_dir, exist_ok=True)
    staging = os.path.join(src_dir, "_stage_all")
    data_schema = df.drop("__b").schema
    (
        df.repartition(n, "__b")
        .write.mode("overwrite")
        .partitionBy("__b")
        .parquet(staging)
    )
    base = time.time()
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
            pq.write_table(to_arrow_schema(data_schema).empty_table(), dst)
        os.utime(dst, (base + k * 10, base + k * 10))
    shutil.rmtree(staging, ignore_errors=True)


def drain_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Run the streaming query ``df`` to completion into a memory sink
    and return the sink's contents as a batch DataFrame."""
    sink = f"stream_{uuid.uuid4().hex[:8]}"
    (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(sink)


def drain_batches(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: str,
    batch_fn: Callable[[DataFrame, int], None],
) -> int:
    """Drain the parquet files in ``source_dir`` through
    ``batch_fn(batch_df, batch_id)``, one file per micro-batch,
    checkpointing beside ``table``. Empty micro-batches
    never reach ``batch_fn``. Returns ``table``'s final version (-1 if
    it has none)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            batch_fn(batch_df, int(batch_id))

    (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", _ckpt_dir(table))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    vs = lakehouse.versions(table)
    return vs[-1] if vs else -1


def stored_values(spark: SparkSession, table: str, col: str) -> set:
    """Distinct values of ``col`` in a metadata-scale state table:
    read driver-side with zero Spark jobs when
    ``lakehouse.distinct_values_local`` can, else one distributed
    distinct."""
    local = lakehouse.distinct_values_local(table, col)
    if local is not None:
        return local
    return {
        r[0] for r in lakehouse.read(spark, table).select(col).distinct().collect()
    }


def commit_batch_state(
    spark: SparkSession, table: str, bdf: DataFrame, batch_id: int
) -> None:
    """Commit one micro-batch's state rows ``bdf`` (tagged ``batch_id``)
    into a batch-tagged state table, replay-safe: a batch id the table
    already holds commits nothing, so a batch replayed after checkpoint
    loss cannot double an additive state. The guard runs before ``bdf``
    is computed.

    ``bdf`` is bounded state (sketch cells, registers, Gram cells),
    never batch rows: ONE job collects it, and the commit stages the
    rows driver-side. The first batch CREATEs the table even when its
    state is empty; a later empty state commits nothing."""
    exists = bool(lakehouse.versions(table))
    if exists and batch_id in stored_values(spark, table, "batch_id"):
        return
    rows = bdf.collect()
    if rows or not exists:
        lakehouse.append(
            spark, table, spark.createDataFrame(rows, bdf.schema), local_rows=rows
        )

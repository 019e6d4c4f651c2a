"""The benchmark's operations against the package's public API.

The op families are the things a user of the reference dbt project does
(each workload runs some of them, see ``run.WORKLOADS``):

- ``build``: one ``runner.run`` (the ``dbt run`` analogue: bronze views,
  3 silver and 3 gold parquet tables) into a fresh warehouse.
- ``marts`` / ``ops``: one pass over ``api.queries()`` keys, each timed
  from the call to the last result row delivered to the client.
- ``merge_small`` / ``merge_large`` / ``read``: the dbt incremental
  loop on a lakehouse table: ``runner.incremental_merge_delta`` batches
  below and above the 20k-row driver-path dial, each followed by a full
  aggregate ``lakehouse.read``, ``read_pruned`` key ranges and
  ``read_keys`` point lookups.
- ``cdc``: one drain of ``queries()["stream_cdc_apply"]`` over a
  generated changelog.

Each op is checked outside its timed section: build tables and query
keys against the DuckDB oracle (``api.oracle_sql()``) on the generated
inputs, the lakehouse table against an in-memory key -> row model.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import mismatch, rows_of
from gen import draw_keys

MART_KEYS = ("gold_customer_summary",)
OP_KEYS = ("dedup_exact", "multimodal_dedup", "pack_sequences_bfd")
BUILD_TABLES = {
    "silver": ("silver_customers", "silver_orders", "silver_payments"),
    "gold": ("gold_customer_summary", "gold_order_metrics", "gold_revenue_analysis"),
}
CDC_KEY = "stream_cdc_apply"

UPSERT_SCHEMA = pa.schema(
    [
        ("order_id", pa.int64()),
        ("customer_id", pa.int64()),
        ("order_date", pa.date32()),
        ("order_status", pa.string()),
        ("order_amount", pa.float64()),
        ("batch_no", pa.int64()),
    ]
)
STATUSES = np.array(["completed", "pending", "shipped", "returned", "cancelled"])
# Share of a batch's updates that go to the newest 10% of order ids (the
# rest are uniform over all ids): incremental loads mostly touch recent
# orders. A chosen setting, not a measured traffic figure.
RECENT_SHARE = 0.8


class Oracle:
    """DuckDB oracle results over one generated input directory."""

    def __init__(self, gen_dir: str, keys, tables) -> None:
        from ecommerce_dbt_medallion_spark import api

        sql = api.oracle_sql()
        con = duckdb.connect(config={"threads": 1})  # leave the cores to the starting JVM
        try:
            for t in tables:
                con.execute(
                    f"create view {t} as select * from "
                    f"'{os.path.join(gen_dir, t + '.parquet')}'"
                )
            self.want = {k: rows_of(con.sql(sql[k]).df()) for k in dict.fromkeys(keys)}
        finally:
            con.close()

    def check(self, key: str, pdf) -> str | None:
        return mismatch(rows_of(pdf), self.want[key])


def read_build_table(warehouse: str, layer: str, name: str):
    """A table ``runner.run`` wrote, read back driver-side."""
    tbl = pq.read_table(os.path.join(warehouse, layer, name))
    return tbl.cast(
        pa.schema(
            [
                pa.field(f.name, f.type.value_type) if pa.types.is_dictionary(f.type) else f
                for f in tbl.schema
            ]
        )
    ).to_pandas()


class Upsert:
    """A silver_orders-shaped lakehouse table under the dbt incremental
    loop, mirrored by an in-memory key -> row model.

    Batches are ~70% updates of existing orders and ~30% new orders;
    ``RECENT_SHARE`` of the updates go to the newest 10% of order ids."""

    def __init__(self, root: str, seed: int, rows: int) -> None:
        self.root = root
        self.table = os.path.join(root, "silver_orders")
        self.rng = np.random.default_rng([seed, 7])
        self.ids = draw_keys(self.rng, rows)
        self.next_id = int(self.ids[-1]) + 1
        self.batch_no = 0
        self.model: dict[int, tuple] = {}
        self.source_bytes = 0
        os.makedirs(root, exist_ok=True)

    def _rows(self, ids: np.ndarray) -> pa.Table:
        n = len(ids)
        r = self.rng
        return pa.table(
            {
                "order_id": ids,
                "customer_id": r.integers(0, 15_000, n),
                "order_date": np.datetime64("2020-01-01")
                + r.integers(0, 1500, n).astype("timedelta64[D]"),
                "order_status": STATUSES[r.integers(0, len(STATUSES), n)],
                "order_amount": np.round(r.uniform(1, 5000, n), 2),
                "batch_no": np.full(n, self.batch_no, dtype=np.int64),
            },
            schema=UPSERT_SCHEMA,
        )

    def _remember(self, tbl: pa.Table) -> None:
        cols = [tbl.column(c).to_pylist() for c in UPSERT_SCHEMA.names]
        for row in zip(*cols):
            self.model[row[0]] = row

    def _stage(self, tbl: pa.Table) -> str:
        path = os.path.join(self.root, f"batch_{self.batch_no}.parquet")
        pq.write_table(tbl, path)
        return path

    def create(self, spark, lakehouse) -> None:
        """CREATE the table from the initial rows."""
        tbl = self._rows(self.ids)
        self._remember(tbl)
        lakehouse.create_or_replace(
            spark, self.table, spark.read.parquet(self._stage(tbl)), key="order_id"
        )

    def append_history(self, spark, lakehouse, prehistory: int) -> None:
        """``prehistory`` small driver-side appends, so the log spans
        checkpoints before the first timed merge."""
        sdf_schema = spark.read.parquet(self._stage(self._rows(self.ids[:1]))).schema
        for _ in range(prehistory):
            self.batch_no += 1
            ids = np.arange(self.next_id, self.next_id + 100, dtype=np.int64)
            self.next_id += 100
            self.ids = np.concatenate([self.ids, ids])
            part = self._rows(ids)
            self._remember(part)
            rows = [tuple(r.values()) for r in part.to_pylist()]
            lakehouse.append(
                spark,
                self.table,
                spark.createDataFrame(rows, sdf_schema),
                key="order_id",
                local_rows=rows,
            )

    def next_batch(self, n: int) -> tuple[str, int]:
        """Stage the next batch of ``n`` rows; returns (path, bytes)."""
        self.batch_no += 1
        n_upd = int(n * 0.7)
        recent = self.ids[-max(1, len(self.ids) // 10):]
        pick_recent = self.rng.random(n_upd) < RECENT_SHARE
        upd = np.where(
            pick_recent,
            self.rng.choice(recent, n_upd),
            self.rng.choice(self.ids, n_upd),
        )
        upd = np.unique(upd)
        new = np.arange(self.next_id, self.next_id + (n - len(upd)), dtype=np.int64)
        self.next_id += len(new)
        self.ids = np.concatenate([self.ids, new])
        tbl = self._rows(np.concatenate([upd, new]))
        self._remember(tbl)
        return self._stage(tbl), tbl.nbytes

    def read_plan(self) -> list[tuple]:
        """The fixed reads after each merge: one full aggregate, two 1%
        key ranges (one in the recent tail), 20 point lookups."""
        ids = self.ids
        span = max(1, len(ids) // 100)
        lo_old = int(self.rng.integers(0, len(ids) - span))
        recent_lo = len(ids) - span
        keys = sorted(int(k) for k in self.rng.choice(ids, 20, replace=False))
        return [
            ("full",),
            ("pruned", int(ids[lo_old]), int(ids[lo_old + span - 1])),
            ("pruned", int(ids[recent_lo]), int(ids[-1])),
            ("keys", keys),
        ]

    def check_read(self, plan: tuple, rows: list) -> str | None:
        if plan[0] == "full":
            n, amount, batches = rows[0]
            vals = self.model.values()
            want_n = len(self.model)
            want_amount = sum(v[4] for v in vals)
            want_batches = sum(v[5] for v in vals)
            if n != want_n or batches != want_batches:
                return f"full read count/batch sum {n}/{batches} != {want_n}/{want_batches}"
            if abs(amount - want_amount) > 1e-6 * max(1.0, abs(want_amount)):
                return f"full read amount {amount} != {want_amount}"
            return None
        if plan[0] == "pruned":
            lo, hi = plan[1], plan[2]
            want = sorted(v for k, v in self.model.items() if lo <= k <= hi)
        else:
            want = sorted(self.model[k] for k in plan[1] if k in self.model)
        got = sorted(tuple(r) for r in rows)
        if got != want:
            return f"{plan[0]} read: {len(got)} rows, want {len(want)} (or values differ)"
        return None

    def live_stats(self, lakehouse) -> tuple[int, int, int]:
        """(live files, live bytes, live rows) from the table's log."""
        live = lakehouse.live_files(self.table)
        size = sum(
            os.path.getsize(os.path.join(self.table, "data", a["file"])) for a in live
        )
        return len(live), size, lakehouse.table_row_count(self.table)

    def log_tail(self) -> int:
        """Log entries a read replays: versions after the newest checkpoint."""
        names = os.listdir(os.path.join(self.table, "_txn_log"))
        vs = [int(f[1:-5]) for f in names if f.startswith("v") and f.endswith(".json")]
        cks = [int(f[6:-5]) for f in names if f.startswith("ckpt-v") and f.endswith(".json")]
        head = max(vs)
        base = max((c for c in cks if c <= head), default=-1)
        return sum(1 for v in vs if v > base)

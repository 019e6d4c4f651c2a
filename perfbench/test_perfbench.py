"""Tests for the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime
import filecmp
import os
import sys
import types

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import mismatch, rows_of  # noqa: E402
from gen import SCHEMAS, TABLES, generate  # noqa: E402
from ops import UPSERT_SCHEMA, Upsert  # noqa: E402

SF = 0.002


@pytest.fixture(scope="module")
def two_runs(tmp_path_factory):
    a, b, c = (tmp_path_factory.mktemp(n) for n in ("a", "b", "c"))
    generate(str(a), seed=5, sf=SF)
    generate(str(b), seed=5, sf=SF)
    generate(str(c), seed=6, sf=SF)
    return str(a), str(b), str(c)


def test_same_seed_gives_byte_identical_files(two_runs):
    a, b, _ = two_runs
    for t in TABLES:
        assert filecmp.cmp(os.path.join(a, f"{t}.parquet"), os.path.join(b, f"{t}.parquet"),
                           shallow=False), t


def test_schema_matches_the_package_tables(two_runs):
    from ecommerce_dbt_medallion_spark.config import TESTDATA_TABLES

    a, _, _ = two_runs
    assert set(TABLES) == set(TESTDATA_TABLES)
    for t in TABLES:
        assert pq.read_schema(os.path.join(a, f"{t}.parquet")).remove_metadata() == SCHEMAS[t], t


def test_other_seed_gives_other_keys_at_same_density(two_runs):
    a, _, c = two_runs
    for t, key in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("documents", "doc_id")):
        ka = set(pq.read_table(os.path.join(a, f"{t}.parquet")).column(key).to_pylist())
        kc = set(pq.read_table(os.path.join(c, f"{t}.parquet")).column(key).to_pylist())
        assert len(ka) == len(kc)
        assert ka != kc
        # keys come from a space 8x the table size for every seed
        assert max(ka) < 8 * len(ka) and max(kc) < 8 * len(kc)


def test_referential_integrity_and_unique_payment_quads(two_runs):
    a, _, _ = two_runs
    read = lambda t: pq.read_table(os.path.join(a, f"{t}.parquet")).to_pandas()  # noqa: E731
    orders, li, cust = read("orders"), read("lineitem"), read("customer")
    assert set(orders.o_custkey) <= set(cust.c_custkey)
    assert set(li.l_orderkey) <= set(orders.o_orderkey)
    quad = ["l_orderkey", "l_linenumber", "l_suppkey", "l_partkey"]
    assert not li.duplicated(quad).any()


def test_near_duplicate_rate_and_key_spread_are_seed_independent(tmp_path):
    def near_dup_share(d):
        docs = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
        prefixes = [" ".join(t.split()[:8]) for t in docs]
        return 1 - len(set(prefixes)) / len(prefixes)

    def top_share(d):
        o = pq.read_table(os.path.join(d, "orders.parquet")).column("o_custkey").to_numpy()
        counts = np.sort(np.unique(o, return_counts=True)[1])[::-1]
        return counts[: max(1, len(counts) // 20)].sum() / len(o)

    shares, hots = [], []
    for seed in (1, 2, 3):
        d = str(tmp_path / str(seed))
        generate(d, seed=seed, sf=0.01, tables=("customer", "orders", "documents"))
        shares.append(near_dup_share(d))
        hots.append(top_share(d))
    assert all(0.02 < s < 0.09 for s in shares), shares
    # uniform order -> customer keys: the busiest 5% hold ~10%, not half
    assert max(hots) - min(hots) < 0.02 and max(hots) < 0.15, hots


def test_changelog_has_deletes(tmp_path):
    generate(str(tmp_path), seed=3, sf=0.01, cdc=True, tables=("events",))
    ev = pq.read_table(os.path.join(tmp_path, "events.parquet")).to_pandas()
    assert 0.03 < (ev.event_type == "error").mean() < 0.07
    assert ev.event_id.is_unique


def test_injected_wrong_row_is_a_failure():
    want = pd.DataFrame(
        {"k": [1, 2, 3], "v": [0.1, 2.0, None], "d": [datetime.date(2024, 1, 1)] * 3}
    )
    assert mismatch(rows_of(want.iloc[::-1]), rows_of(want)) is None
    wrong = want.copy()
    wrong.loc[1, "v"] = 2.5
    assert mismatch(rows_of(wrong), rows_of(want)) is not None
    assert mismatch(rows_of(want.iloc[:2]), rows_of(want)) is not None
    # engine differences that are not wrong rows: sum order, ROUND ties
    near = want.copy()
    near.loc[1, "v"] = 2.0 * (1 + 1e-12)
    assert mismatch(rows_of(near), rows_of(want)) is None
    tie = pd.DataFrame({"r": [1.03, 0.5]})
    assert mismatch(rows_of(tie), rows_of(pd.DataFrame({"r": [1.02, 0.5]}))) is None
    assert mismatch(rows_of(tie), rows_of(pd.DataFrame({"r": [1.01, 0.5]}))) is not None
    assert mismatch(rows_of(pd.DataFrame({"r": [1.035]})),
                    rows_of(pd.DataFrame({"r": [1.025]}))) is not None

    from run import Bench

    bench = Bench(types.SimpleNamespace(workload="build_upsert", trace=0), "unused")
    bench.check("clean op", mismatch(rows_of(want), rows_of(want)))
    bench.check("op with an injected wrong row", mismatch(rows_of(wrong), rows_of(want)))
    assert (bench.attempted, bench.failed) == (2, 1)


def test_upsert_model_flags_a_wrong_read(tmp_path):
    up = Upsert(str(tmp_path), seed=1, rows=500)
    tbl = up._rows(up.ids)
    up._remember(tbl)
    keys = [int(k) for k in up.ids[:5]]
    good = [up.model[k] for k in keys]
    assert up.check_read(("keys", keys), good) is None
    bad = list(good)
    bad[2] = bad[2][:4] + (bad[2][4] + 1.0,) + bad[2][5:]
    assert up.check_read(("keys", keys), bad) is not None
    n = len(up.model)
    amount = sum(v[4] for v in up.model.values())
    assert up.check_read(("full",), [(n, amount, 0)]) is None
    assert up.check_read(("full",), [(n - 1, amount, 0)]) is not None
    assert list(UPSERT_SCHEMA.names)[0] == "order_id"


def test_benchmark_json_names_the_workloads_and_bounded_metrics():
    import json

    from run import END_TO_END, ROOT, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END

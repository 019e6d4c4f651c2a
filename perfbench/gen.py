"""Seeded input generator for the medallion benchmark.

Writes the ten source tables the package reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, in the schema of the engine's reference testdata. Row counts
follow a scale factor (``sf=0.1`` gives 15k customers, 150k orders, ~600k
lineitems) and value distributions follow the reference data: uniform
TPC-H-style facts, a 31-word document vocabulary with ~5% near-duplicates,
unit-norm 64-d embeddings in 10 labels, a month of events.

Keys (customer, order, part, supplier, user, event, doc and vector ids)
are drawn per seed from a space 8x larger than the table, so two seeds
give different key sets with the same density, near-duplicate rate and
(uniform) key distribution. The same seed gives byte-identical files.

``cdc`` turns the events table into a changelog: ~5% delete rows
(``error``) instead of the uniform 20% ``error`` share.

Usage: ``python3 perfbench/gen.py OUT_DIR --seed N [--sf 0.01]``
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

DAY_US = 86_400_000_000
ORDER_DATE0 = np.datetime64("1995-01-01", "us")
SHIP_DATE0 = np.datetime64("1995-01-02", "us")
EVENT_TS0 = np.datetime64("2024-01-01", "us")


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf=0.1 matches the reference
    sf0.1 tables; lineitem is ~4 per order)."""
    return {
        "customer": max(50, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(50, round(200_000 * sf)),
        "orders": max(200, round(1_500_000 * sf)),
        "lineitem": max(800, round(6_000_000 * sf)),
        "events": max(500, round(1_000_000 * sf)),
        "documents": max(100, round(50_000 * sf)),
        "embeddings": max(100, min(2_000, round(50_000 * sf))),
    }


def draw_keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct sorted int64 keys from a space 8x larger than n:
    density is seed-independent, the key set is not."""
    return np.sort(rng.choice(8 * n, size=n, replace=False)).astype(np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.Table.from_pydict(cols, schema=SCHEMAS[name])
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts of 10-100 vocabulary words; ~5% are near-duplicates
    of an earlier text (a few words swapped, sometimes the tail cut) and
    ~0.2% exact copies, as in the reference corpus."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            if rng.random() < 0.5 and len(words) > 12:
                words = words[: len(words) - int(rng.integers(1, len(words) // 4 + 1))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)))
    return texts


def _events(rng: np.random.Generator, n: int, users: np.ndarray, cdc: bool) -> dict:
    ids = draw_keys(rng, n)
    # strictly increasing microsecond timestamps over 30 days
    offs = np.sort(rng.choice(30 * DAY_US, size=n, replace=False))
    ts = EVENT_TS0 + offs.astype("timedelta64[us]")
    user = rng.choice(users, size=n)
    if cdc:
        # a changelog: ~5% deletes ('error'), the rest upserts
        upserts = np.array([t for t in EVENT_TYPES if t != "error"])
        etype = np.where(rng.random(n) < 0.05, "error", upserts[rng.integers(0, 4, n)])
    else:
        etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])
    return {
        "event_id": ids,
        "ts": ts,
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": props,
    }


def generate(
    out_dir: str,
    seed: int,
    sf: float = 0.01,
    cdc: bool = False,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, int]:
    """Write ``tables`` under ``out_dir``; returns table -> row count.
    Every table draws from its own seeded stream, so a subset is
    byte-identical to the same tables of a full generation."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    streams = np.random.SeedSequence(seed).spawn(len(TABLES) + 1)
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES + ("keys",), streams)}
    kr = rng["keys"]
    cust = draw_keys(kr, n["customer"])
    supp = draw_keys(kr, n["supplier"])
    part = draw_keys(kr, n["part"])
    orders = draw_keys(kr, n["orders"])
    docs = draw_keys(kr, n["documents"])
    vecs = draw_keys(kr, n["embeddings"])
    # users are the 10% of customers active on the site
    users = np.sort(kr.choice(cust, size=max(10, len(cust) // 10), replace=False))
    counts: dict[str, int] = {}

    def emit(name: str, cols: dict) -> None:
        if name in tables:
            _write(out_dir, name, cols)
            counts[name] = len(next(iter(cols.values())))

    emit("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    emit(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
    )
    r = rng["customer"]
    emit(
        "customer",
        {
            "c_custkey": cust,
            "c_name": [f"Customer#{k:09d}" for k in cust],
            "c_nationkey": r.integers(0, 25, len(cust)).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, len(cust)),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, len(cust))],
        },
    )
    r = rng["supplier"]
    emit(
        "supplier",
        {
            "s_suppkey": supp,
            "s_name": [f"Supplier#{k:09d}" for k in supp],
            "s_nationkey": r.integers(0, 25, len(supp)).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, len(supp)),
        },
    )
    r = rng["part"]
    emit(
        "part",
        {
            "p_partkey": part,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, len(part)), r.integers(0, 8, len(part)))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, len(part))],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, len(part))],
            "p_size": r.integers(1, 51, len(part)).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(len(part)) % 1000) / 10, 1),
        },
    )
    r = rng["orders"]
    emit(
        "orders",
        {
            "o_orderkey": orders,
            "o_custkey": r.choice(cust, len(orders)),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, len(orders))],
            "o_totalprice": _money(r, 1000.0, 500000.0, len(orders)),
            "o_orderdate": ORDER_DATE0
            + (r.integers(0, 2404, len(orders)) * DAY_US).astype("timedelta64[us]"),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, len(orders))],
        },
    )
    r = rng["lineitem"]
    m = n["lineitem"]
    li = {
        "l_orderkey": r.choice(orders, m),
        "l_partkey": r.choice(part, m),
        "l_suppkey": r.choice(supp, m),
        "l_linenumber": r.integers(1, 8, m).astype(np.int32),
    }
    # (orderkey, linenumber, suppkey, partkey) is unique in the reference
    # feed; the payment id's attempt sequence relies on it
    quad = np.stack([v.astype(np.int64) for v in li.values()], axis=1)
    keep = np.sort(np.unique(quad, axis=0, return_index=True)[1])
    li = {c: v[keep] for c, v in li.items()}
    m = len(keep)
    li.update(
        {
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, m),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
            "l_shipdate": SHIP_DATE0
            + (r.integers(0, 2499, m) * DAY_US).astype("timedelta64[us]"),
        }
    )
    emit("lineitem", li)
    emit("events", _events(rng["events"], n["events"], users, cdc))
    r = rng["documents"]
    texts = _documents(r, len(docs))
    emit(
        "documents",
        {
            "doc_id": docs,
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, len(docs), p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(len(docs))],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    r = rng["embeddings"]
    centroids = r.normal(size=(10, 64))
    label = r.integers(0, 10, len(vecs))
    vec = centroids[label] * 0.5 + r.normal(size=(len(vecs), 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emit(
        "embeddings",
        {"vec_id": vecs, "embedding": list(vec), "label": label.astype(np.int32)},
    )
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--cdc", action="store_true")
    a = ap.parse_args()
    print(generate(a.out_dir, a.seed, a.sf, a.cdc))


if __name__ == "__main__":
    main()

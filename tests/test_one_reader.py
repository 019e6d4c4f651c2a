"""One driver-side reader of live table files.

``lakehouse._read_local`` is the only package code that reads a live
table's parquet files with pyarrow. It applies the read() contract
(column mapping, NULL for columns a pre-evolution file lacks, the
files' deletion vectors) and the driver-read bounds; a hand-rolled
reader elsewhere would skip part of that contract without anyone
noticing. This static scan fails on any pyarrow file read outside the
functions named in ``ALLOWED``. No Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "ecommerce_dbt_medallion_spark"

# pyarrow.parquet entry points that open a parquet file
READS = {"read_table", "ParquetFile", "read_schema", "read_metadata", "ParquetDataset"}

# (module, top-level function) -> why it may open parquet files itself.
ALLOWED = {
    ("lakehouse", "_read_local"): "the one driver-side reader of live table files",
    ("lakehouse", "_publish_staged"): "footers and key blooms of staged files, before they are live",
    ("lakehouse", "_footer_min_max"): "a staged file's NaN check, before it is live",
    ("lakehouse", "verify_table"): "footer metadata only, checked against the log",
}


def _parquet_opens() -> set[tuple[str, str | None, int]]:
    """(module, enclosing top-level definition, line) of every call to a
    ``READS`` name in the package."""
    out = set()
    for path in sorted((REPO / PKG).rglob("*.py")):
        module = ".".join(path.relative_to(REPO / PKG).with_suffix("").parts)
        for top in ast.parse(path.read_text(), str(path)).body:
            owner = getattr(top, "name", None)
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                f = n.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in READS:
                    out.add((module, owner, n.lineno))
    return out


def test_only_the_one_reader_opens_live_table_files():
    stray = sorted(
        f"{PKG}/{m.replace('.', '/')}.py:{line} in {owner}"
        for m, owner, line in _parquet_opens()
        if (m, owner) not in ALLOWED
    )
    assert not stray, (
        "pyarrow reads outside lakehouse._read_local (route them through it): "
        + ", ".join(stray)
    )


def test_allowed_readers_still_read():
    """An entry whose function no longer opens a parquet file is stale."""
    assert {(m, owner) for m, owner, _ in _parquet_opens()} == set(ALLOWED)

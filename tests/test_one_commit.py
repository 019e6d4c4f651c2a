"""One commit function for every lakehouse write.

``lakehouse._commit_op`` is the only package code that builds a log
entry and publishes it: it numbers the entry ``snap.version + 1``,
stamps it, and picks the rebase-or-abort answer to a lost commit race.
A write that built its own entry or called the put-if-absent
``_commit`` itself would fork that choice, and whatever the commit
protocol later adds (commit metrics, fault points, ``txn`` slots)
would silently miss it. This static scan fails on any call of
``_commit`` and any log-entry dict literal (one with both ``"add"`` and
``"remove"`` keys) outside ``_commit_op``. No Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "ecommerce_dbt_medallion_spark"
OWNER = ("lakehouse", "_commit_op")


def _sites() -> dict[str, set[tuple[str, str | None, int]]]:
    """(module, enclosing top-level definition, line) of every ``_commit``
    call and every log-entry dict literal in the package."""
    out: dict[str, set] = {"commit": set(), "entry": set()}
    for path in sorted((REPO / PKG).rglob("*.py")):
        module = ".".join(path.relative_to(REPO / PKG).with_suffix("").parts)
        for top in ast.parse(path.read_text(), str(path)).body:
            owner = getattr(top, "name", None)
            for n in ast.walk(top):
                if isinstance(n, ast.Call):
                    f = n.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    if name == "_commit":
                        out["commit"].add((module, owner, n.lineno))
                    keys = {k.arg for k in n.keywords} if name == "dict" else set()
                elif isinstance(n, ast.Dict):
                    keys = {k.value for k in n.keys if isinstance(k, ast.Constant)}
                else:
                    continue
                if {"add", "remove"} <= keys:
                    out["entry"].add((module, owner, n.lineno))
    return out


def test_only_commit_op_commits():
    stray = sorted(
        f"{what}: {PKG}/{m.replace('.', '/')}.py:{line} in {owner}"
        for what, sites in _sites().items()
        for m, owner, line in sites
        if (m, owner) != OWNER
    )
    assert not stray, (
        "log entries built or published outside lakehouse._commit_op "
        "(pass the operation's fields to it instead): " + ", ".join(stray)
    )


def test_commit_op_still_commits():
    """The scan would pass vacuously if it no longer found the one site."""
    assert {what: {(m, o) for m, o, _ in s} for what, s in _sites().items()} == {
        "commit": {OWNER},
        "entry": {OWNER},
    }

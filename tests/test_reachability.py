"""Every top-level package definition is reached from the product.

The product is the medallion DAG (``runner.run``) plus the query catalogue
(``__spark_entry__.py``: ``entry``/``queries``/``oracle_sql``), and what the
benchmarks drive (``bench*.py``, ``perfbench/``). A static reachability scan
starts from those roots and follows every name, attribute, import and
identifier-shaped string constant (registries look functions up by name)
transitively; comments and docstrings are not references. A package
definition that only ``tests/`` reaches is code kept alive by its own tests:
delete it with them, or put it on ``KEEP`` with the reason it stays.

The scan is deliberately generous: an attribute ``x.foo`` whose owner it
cannot resolve reaches every definition named ``foo``. It can call dead code
live, never live code dead. No Spark session is needed.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "ecommerce_dbt_medallion_spark"

# (module, name) -> why it stays although only tests reach it.
KEEP = {
    ("lakehouse", "add_constraint"): "constraint API, race-tested lakehouse behaviour",
    ("lakehouse", "drop_constraint"): "constraint API, race-tested lakehouse behaviour",
    ("lakehouse", "current_constraints"): "constraint API, race-tested lakehouse behaviour",
    ("lakehouse", "drop_column"): "column-mapping API, race-tested lakehouse behaviour",
    ("lakehouse", "current_schema"): "column-mapping API, race-tested lakehouse behaviour",
    ("lakehouse", "current_mapping"): "column-mapping API, race-tested lakehouse behaviour",
    ("lakehouse", "vacuum"): "a lakehouse operation the fuzz and deletion-vector work exercise",
    ("lakehouse", "history"): "the commit log's reader; operation and race tests assert through it",
    ("ops.bpe", "_batched_conflict"): "reference fold the product's Python BPE twin is checked against",
    ("api", "DRIVER_WINDOW_ROUND"): "driver-window metadata the source tests read",
}


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path):
        self.name = _module_name(path)
        tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, list[ast.AST]] = {}
        self.body: list[ast.AST] = []
        self.imports: dict[str, tuple[str, str | None]] = {}
        for node in tree.body:
            names = _defined_names(node)
            for name in names:
                self.defs.setdefault(name, []).append(node)
            if not names:
                self.body.append(node)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.imports[a.asname] = (a.name, None)
                    else:
                        root = a.name.split(".")[0]
                        self.imports[root] = (root, None)
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    self.imports[a.asname or a.name] = (node.module, a.name)

    def lines(self, name: str) -> int:
        return sum(n.end_lineno - n.lineno + 1 for n in self.defs[name])


def _defined_names(node: ast.AST) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else [node.target] if isinstance(node, ast.AnnAssign) else []
    out = []
    for t in targets:
        for n in ast.walk(t):
            if isinstance(n, ast.Name):
                out.append(n.id)
    return out


def _docstrings(nodes: list[ast.AST]) -> set[int]:
    """ids of every bare string statement (docstrings and the like)."""
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant) and isinstance(n.value.value, str):
                out.add(id(n.value))
    return out


class _Scan:
    def __init__(self):
        self.modules: dict[str, _Module] = {}
        for path in sorted((REPO / PKG).rglob("*.py")):
            m = _Module(path)
            self.modules[m.name] = m
        self.by_name: dict[str, list[tuple[str, str]]] = {}
        for m in self.modules.values():
            for name in m.defs:
                self.by_name.setdefault(name, []).append((m.name, name))

    def _resolve(self, module: str, attr: str | None, seen=()) -> list[tuple[str, str | None]]:
        """Units a reference to ``module`` / ``module.attr`` reaches."""
        if module not in self.modules:
            return []
        if attr is None:
            return [(module, None)]
        mod = self.modules[module]
        out: list[tuple[str, str | None]] = [(module, None)]
        if attr in mod.defs:
            out.append((module, attr))
        elif attr in mod.imports and (module, attr) not in seen:
            out += self._resolve(*mod.imports[attr], seen=(*seen, (module, attr)))
        if f"{module}.{attr}" in self.modules:
            out.append((f"{module}.{attr}", None))
        return out

    def _refs(self, mod: _Module, nodes: list[ast.AST]) -> list[tuple[str, str | None]]:
        skip = _docstrings(nodes)
        out: list[tuple[str, str | None]] = []
        for top in nodes:
            for n in ast.walk(top):
                if isinstance(n, ast.Name):
                    if n.id in mod.defs:
                        if mod.name in self.modules:
                            out.append((mod.name, n.id))
                    elif n.id in mod.imports:
                        out += self._resolve(*mod.imports[n.id])
                elif isinstance(n, ast.Attribute):
                    owner = self._owner(mod, n.value)
                    out += self._resolve(owner, n.attr) if owner else self.by_name.get(n.attr, [])
                elif isinstance(n, ast.ImportFrom) and n.module:
                    for a in n.names:
                        out += self._resolve(n.module, a.name)
                elif isinstance(n, ast.Import):
                    for a in n.names:
                        out += self._resolve(a.name, None)
                elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in skip:
                    if n.value.isidentifier():
                        out += self.by_name.get(n.value, [])
        return out

    def _owner(self, mod: _Module, value: ast.AST) -> str | None:
        """The package module ``value`` names, if it names one."""
        if isinstance(value, ast.Name) and value.id in mod.imports:
            target, attr = mod.imports[value.id]
            full = target if attr is None else f"{target}.{attr}"
            return full if full in self.modules else None
        if isinstance(value, ast.Attribute):
            dotted = ast.unparse(value)
            return dotted if dotted in self.modules else None
        return None

    def reach(self, roots: list[_Module], extra: list[tuple[str, str | None]] = ()) -> set[tuple[str, str]]:
        """Package definitions reached from every unit of ``roots`` plus ``extra``."""
        todo = list(extra)
        for r in roots:
            todo += self._refs(r, r.body + [n for ns in r.defs.values() for n in ns])
        done: set[tuple[str, str | None]] = set()
        while todo:
            unit = todo.pop()
            if unit in done:
                continue
            done.add(unit)
            module, name = unit
            mod = self.modules[module]
            parts = module.split(".")
            todo += [(".".join(parts[:i]), None) for i in range(1, len(parts)) if ".".join(parts[:i]) in self.modules]
            if name is None:
                todo += self._refs(mod, mod.body)
            else:
                todo.append((module, None))
                todo += self._refs(mod, mod.defs[name])
        return {(m[len(PKG) + 1:], n) for m, n in done if n is not None and not n.startswith("__")}


def _files(*globs: str) -> list[_Module]:
    return [_Module(p) for g in globs for p in sorted(REPO.glob(g))]


@functools.cache
def _unreached() -> tuple[_Scan, dict[tuple[str, str], bool]]:
    """Definitions the product does not reach -> whether tests reach them."""
    scan = _Scan()
    product = scan.reach(
        _files("__spark_entry__.py", "bench*.py", "perfbench/*.py"),
        extra=[(f"{PKG}.runner", "run")],
    )
    tests = scan.reach(_files("tests/*.py"))
    every = {(m[len(PKG) + 1:], n) for m, mod in scan.modules.items() for n in mod.defs if not n.startswith("__")}
    return scan, {d: d in tests for d in sorted(every - product)}


def test_every_package_definition_is_reached_from_the_product():
    scan, unreached = _unreached()
    offenders = [
        f"{m}.{n} ({scan.modules[f'{PKG}.{m}'].lines(n)} lines, {'tests only' if by_tests else 'unreferenced'})"
        for (m, n), by_tests in unreached.items()
        if (m, n) not in KEEP
    ]
    assert not offenders, "reached only from tests/ or nowhere:\n" + "\n".join(offenders)


def test_keep_list_is_current():
    """Each kept name still exists and still needs keeping."""
    scan, unreached = _unreached()
    stale = [k for k in KEEP if k not in unreached]
    assert not stale, f"on KEEP but gone or reached from the product: {stale}"

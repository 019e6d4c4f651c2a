"""Every top-level package definition is reached from the product.

The product is the medallion DAG (``runner.run``) plus the query catalogue
(``__spark_entry__.py``: ``entry``/``queries``/``oracle_sql``), and what the
benchmarks drive (``bench*.py``, ``perfbench/``). A static reachability scan
starts from those roots and follows every name, attribute, import and
identifier-shaped string constant (registries look functions up by name)
transitively; comments and docstrings are not references. A package
definition that only ``tests/`` reaches is code kept alive by its own tests:
delete it with them, or put it on ``KEEP`` with the reason it stays.

The parameter pass is the same idea one layer down: an optional parameter
(one with a default) of a package function that no call in product-reached
code passes, by position or keyword, is a dial only tests turn or nobody
does. Delete it with its branch, or put ``(module, function, parameter)`` on
``KEEP`` with the reason it stays. A function kept for its tests counts its
tests' calls as its product's.

Both scans are deliberately generous: an attribute ``x.foo`` whose owner it
cannot resolve reaches every definition named ``foo``, and a keyword passed
to a callee the scan cannot resolve (a function held in a variable) counts
for every function with that parameter. They can call dead code live, never
live code dead. No Spark session is needed.
"""

from __future__ import annotations

import ast
import builtins
import functools
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PKG = "ecommerce_dbt_medallion_spark"

# (module, name) -> why it stays although only tests reach it;
# (module, function, parameter) -> why it stays although no product call
# passes it.
KEEP = {
    ("lakehouse", "vacuum"): "a lakehouse operation the fuzz and deletion-vector work exercise",
    ("lakehouse", "history"): "the commit log's reader; operation and race tests assert through it",
    ("ops.bpe", "_batched_conflict"): "reference fold the product's Python BPE twin is checked against",
    ("api", "DRIVER_WINDOW_ROUND"): "driver-window metadata the source tests read",
    ("lakehouse", "optimize_incremental", "target_rows"): (
        "size dial: a test re-splits a decayed cluster at 1,000 rows, which the "
        "1M-row product target only does at scale"
    ),
    ("ops.skew", "salted_join", "salt"): (
        "size dial: a property test scatters a few rows over 4 salts to cover salt collisions"
    ),
    ("ops.topk", "top_k_per_group", "salt_mod"): (
        "size dial: a test spreads 500 rows over 8 salt buckets so the two-stage top-k merges buckets"
    ),
    ("ops.substring", "substring_winnow_for", "budget_selected"): (
        "size dial: a test reaches the stride-1 floor with a small budget, which the "
        "product budget reaches only at scale"
    ),
}
BUILTINS = set(dir(builtins))


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


class _Module:
    def __init__(self, name: str, source: str):
        self.name = name
        tree = ast.parse(source, name)
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


def _params(f: ast.FunctionDef) -> list[str]:
    """Every parameter a call can name, the positional ones first."""
    a = f.args
    return [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]


def _optional(f: ast.FunctionDef) -> list[str]:
    """The parameters that have a default."""
    a = f.args
    pos = a.posonlyargs + a.args
    return [x.arg for x in pos[len(pos) - len(a.defaults):]] + [
        x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


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
    def __init__(self, modules: list[_Module]):
        self.modules = {m.name: m for m in modules}
        self.by_name: dict[str, list[tuple[str, str]]] = {}
        self.functions: dict[tuple[str, str], ast.FunctionDef] = {}
        for m in self.modules.values():
            for name, nodes in m.defs.items():
                self.by_name.setdefault(name, []).append((m.name, name))
                for n in nodes:
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        self.functions[(m.name, name)] = n
        self.by_param: dict[str, list[tuple[str, str]]] = {}
        for unit, f in self.functions.items():
            for p in _params(f):
                self.by_param.setdefault(p, []).append(unit)

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

    def units(self, files: list[_Module], defs: set[tuple[str, str]]) -> list[tuple[_Module, list[ast.AST]]]:
        """Code to scan for calls: each of ``files`` whole, and each package
        module holding one of ``defs`` with those definitions and its body."""
        out = [(f, f.body + [n for ns in f.defs.values() for n in ns]) for f in files]
        held: dict[str, list[ast.AST]] = {}
        for m, name in defs:
            held.setdefault(f"{PKG}.{m}", []).extend(self.modules[f"{PKG}.{m}"].defs[name])
        return out + [(self.modules[m], self.modules[m].body + nodes) for m, nodes in held.items()]

    def _functions(self, mod: _Module, expr: ast.AST) -> list[tuple[str, str]]:
        """Package functions that the name or module attribute ``expr`` is."""
        if isinstance(expr, ast.Name) and expr.id in mod.defs:
            units = [(mod.name, expr.id)]
        elif isinstance(expr, ast.Name) and expr.id in mod.imports:
            units = self._resolve(*mod.imports[expr.id])
        elif isinstance(expr, ast.Attribute) and (owner := self._owner(mod, expr.value)):
            units = self._resolve(owner, expr.attr)
        else:
            return []
        return [u for u in units if u in self.functions]

    def _callees(self, mod: _Module, func: ast.AST, bound: dict) -> tuple[list[tuple[str, str]], bool]:
        """Package functions a call of ``func`` may run, and whether that
        list is known (a function held in a variable may be any)."""
        if isinstance(func, ast.Name):
            if func.id in bound:
                return bound[func.id], True
            known = func.id in mod.defs or func.id in mod.imports or func.id in BUILTINS
            return self._functions(mod, func), known
        if isinstance(func, ast.Attribute):
            owner = self._owner(mod, func.value)
            units = self._resolve(owner, func.attr) if owner else self.by_name.get(func.attr, [])
            return [u for u in units if u in self.functions], True
        return [], False

    def passed(self, mod: _Module, nodes: list[ast.AST]) -> set[tuple[tuple[str, str], str]]:
        """(function, parameter) pairs the calls in ``nodes`` pass."""
        bound: dict[str, list[tuple[str, str]]] = {}
        for top in nodes:
            for n in ast.walk(top):
                for t in n.targets if isinstance(n, ast.Assign) else []:
                    tuples = isinstance(t, ast.Tuple) and isinstance(n.value, ast.Tuple)
                    for name, value in zip(t.elts, n.value.elts) if tuples else [(t, n.value)]:
                        if isinstance(name, ast.Name) and (fns := self._functions(mod, value)):
                            bound[name.id] = fns
        out = set()
        for top in nodes:
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                func, args = n.func, n.args
                if getattr(func, "id", getattr(func, "attr", None)) == "partial" and args:
                    func, args = args[0], args[1:]
                fns, known = self._callees(mod, func, bound)
                for unit in fns:
                    f = self.functions[unit]
                    positional = [x.arg for x in f.args.posonlyargs + f.args.args]
                    for i, a in enumerate(args):
                        if isinstance(a, ast.Starred):
                            out |= {(unit, p) for p in positional[i:]}
                            break
                        out |= {(unit, p) for p in positional[i:i + 1]}
                    for k in n.keywords:
                        out |= {(unit, p) for p in (_params(f) if k.arg is None else [k.arg])}
                if not known:
                    for k in n.keywords:
                        out |= {(unit, k.arg) for unit in self.by_param.get(k.arg, [])}
        return out


def _files(*globs: str) -> list[_Module]:
    return [_Module(_module_name(p), p.read_text()) for g in globs for p in sorted(REPO.glob(g))]


@functools.cache
def _package() -> tuple[_Scan, list[_Module], list[_Module]]:
    """The package's scan, the product's root files and the test files."""
    return (
        _Scan(_files(f"{PKG}/**/*.py")),
        _files("__spark_entry__.py", "bench*.py", "perfbench/*.py"),
        _files("tests/*.py"),
    )


ENTRY = [(f"{PKG}.runner", "run")]


@functools.cache
def _unreached() -> tuple[_Scan, dict[tuple[str, str], bool]]:
    """Definitions the product does not reach -> whether tests reach them."""
    scan, roots, tests = _package()
    product = scan.reach(roots, extra=ENTRY)
    by_tests = scan.reach(tests)
    every = {(m[len(PKG) + 1:], n) for m, mod in scan.modules.items() for n in mod.defs if not n.startswith("__")}
    return scan, {d: d in by_tests for d in sorted(every - product)}


def _unpassed(
    scan: _Scan, roots: list[_Module], tests: list[_Module], extra=(), kept=KEEP
) -> dict[tuple[str, str, str], bool]:
    """Optional parameters (module, function, parameter) that no call in
    code reached from ``roots`` passes -> whether tests pass them."""
    assert any(_optional(f) for f in scan.functions.values()), (
        "the scan found no optional parameter: the pass would hold vacuously"
    )

    def passed(files, defs):
        out = set()
        for mod, nodes in scan.units(files, defs):
            out |= scan.passed(mod, nodes)
        return out

    by_product = passed(roots, scan.reach(roots, extra))
    by_tests = passed(tests, scan.reach(tests))
    out = {}
    for unit, f in sorted(scan.functions.items()):
        short = (unit[0][len(PKG) + 1:], unit[1])
        for p in _optional(f):
            if (unit, p) in by_product or (short in kept and (unit, p) in by_tests):
                continue
            out[(*short, p)] = (unit, p) in by_tests
    return out


def test_every_package_definition_is_reached_from_the_product():
    scan, unreached = _unreached()
    offenders = [
        f"{m}.{n} ({scan.modules[f'{PKG}.{m}'].lines(n)} lines, {'tests only' if by_tests else 'unreferenced'})"
        for (m, n), by_tests in unreached.items()
        if (m, n) not in KEEP
    ]
    assert not offenders, "reached only from tests/ or nowhere:\n" + "\n".join(offenders)


def test_every_optional_parameter_is_passed_by_the_product():
    offenders = [
        f"{m}.{fn}({p}) ({'tests only' if by_tests else 'never passed'})"
        for (m, fn, p), by_tests in _unpassed(*_package(), extra=ENTRY).items()
        if (m, fn, p) not in KEEP
    ]
    assert not offenders, "optional parameters no product call passes:\n" + "\n".join(offenders)


def test_keep_list_is_current():
    """Each kept name still exists and still needs keeping."""
    scan, unreached = _unreached()
    unpassed = _unpassed(*_package(), extra=ENTRY)
    stale = [k for k in KEEP if k not in (unreached if len(k) == 2 else unpassed)]
    assert not stale, f"on KEEP but gone or reached from the product: {stale}"


def test_parameter_pass_sees_the_package():
    """Not vacuous on the real package: it finds optional parameters, and
    counts one that only a local name bound to the function passes
    (perfbench's traced wrapper calls ``write(df, path, partition_by)``
    after ``write = runner._write``)."""
    scan, roots, tests = _package()
    assert sum(len(_optional(f)) for f in scan.functions.values()) > 20
    assert "partition_by" in _optional(scan.functions[(f"{PKG}.runner", "_write")])
    assert ("runner", "_write", "partition_by") not in _unpassed(scan, roots, tests, extra=ENTRY)


def _planted(lib: str, root: str, test: str = "") -> dict[tuple[str, str, str], bool]:
    """The parameter pass over a planted package module ``lib``, one
    product root file and one test file."""
    imp = f"from {PKG} import lib\n"
    scan = _Scan([_Module(PKG, ""), _Module(f"{PKG}.lib", textwrap.dedent(lib))])
    return _unpassed(
        scan,
        [_Module("bench", imp + textwrap.dedent(root))],
        [_Module("tests.test_lib", imp + textwrap.dedent(test))],
        kept={},
    )


def test_planted_parameter_only_tests_pass_is_flagged():
    got = _planted(
        """
        def f(a, b=1, *, c=None, d=2):
            return a
        """,
        "lib.f(0, d=3)\n",
        "lib.f(0, b=2)\n",
    )
    assert got == {("lib", "f", "b"): True, ("lib", "f", "c"): False}


def test_planted_keyword_through_unresolved_callee_counts_everywhere():
    got = _planted(
        """
        def ingest(spark, d, phase_log=None):
            return d

        def maintain(spark, d, phase_log=None, every=None):
            return d
        """,
        """
        for fn in (lib.ingest, lib.maintain):
            fn(None, "d", phase_log=[])
        """,
    )
    assert got == {("lib", "maintain", "every"): False}


def test_planted_positional_call_through_bound_name_counts():
    got = _planted(
        """
        def _write(df, path, partition_by=None):
            return path

        def merge(spark, table, key=None):
            return table
        """,
        """
        def traced():
            write, merge = lib._write, lib.merge
            write(1, "p", ["x"])
            merge(None, "t")
        """,
    )
    assert got == {("lib", "merge", "key"): False}


def test_planted_star_forwarders_pass_everything():
    got = _planted(
        """
        def merge_into(spark, table, source, key=None, *, schema_mode=None):
            return table

        def apply_changes(spark, table, changes, seq=None):
            return table
        """,
        """
        merge_into, apply_changes = lib.merge_into, lib.apply_changes

        def traced_merge(spark, table, *a, **kw):
            return merge_into(spark, table, *a, **kw)

        def traced_apply(spark, table, *a):
            return apply_changes(spark, table, *a)
        """,
    )
    assert got == {}


def test_planted_scan_without_optional_parameters_fails():
    with pytest.raises(AssertionError, match="no optional parameter"):
        _planted("def f(a):\n    return a\n", "lib.f(0)\n")

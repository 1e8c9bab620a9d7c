"""Static check that every ``combblas_spark`` import in the scripts, the
entry points, the tests and the package itself resolves — no Spark
session, nothing imported. Scripts are never collected by pytest, so a
deleted module or renamed function would otherwise leave a dangling
import that only fails when someone runs the script; a test would fail
only when the suite reaches it."""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "combblas_spark"


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("scripts", "perfbench", "tests"):
        files += sorted((ROOT / d).glob("*.py"))
    files += sorted((ROOT / PACKAGE).rglob("*.py"))
    return files


def _module_path(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _top_level_names(path: Path) -> set[str]:
    """Names a module binds at import time: defs, classes, assignments
    and imports, including those under top-level if/try blocks."""
    names: set[str] = set()

    def visit(stmts):
        for node in stmts:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    names.add((a.asname or a.name).split(".")[0])
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
            for field in ("body", "orelse", "finalbody", "handlers"):
                visit(getattr(node, field, []))

    visit(ast.parse(path.read_text()).body)
    return names


def test_combblas_spark_imports_resolve():
    problems = []
    checked = 0
    for src in _sources():
        rel = src.relative_to(ROOT)
        for node in ast.walk(ast.parse(src.read_text())):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
                names = []
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                mods = [node.module]
                names = [a.name for a in node.names if a.name != "*"]
            else:
                continue
            for mod in mods:
                if mod != PACKAGE and not mod.startswith(PACKAGE + "."):
                    continue
                checked += 1
                path = _module_path(mod)
                if path is None:
                    problems.append(f"{rel}:{node.lineno}: no module {mod}")
                    continue
                defined = _top_level_names(path)
                for name in names:
                    if name not in defined and _module_path(f"{mod}.{name}") is None:
                        problems.append(f"{rel}:{node.lineno}: {mod} has no {name}")
    assert checked > 0
    assert not problems, "\n".join(problems)


@functools.cache
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text())


def _resolve_def(module: str, name: str, seen=None) -> ast.FunctionDef | ast.ClassDef | None:
    """The top-level ``def`` or ``class`` that ``module.name`` binds,
    following ``from combblas_spark... import`` re-exports
    (``algorithms/__init__``). None for plain assignments and names from
    other packages."""
    seen = seen or set()
    path = _module_path(module)
    if path is None or (module, name) in seen:
        return None
    seen.add((module, name))
    for node in _parse(path).body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and node.name == name):
            return node
        if (isinstance(node, ast.ImportFrom) and node.level == 0 and node.module
                and node.module.startswith(PACKAGE)):
            for a in node.names:
                if (a.asname or a.name) == name:
                    return _resolve_def(node.module, a.name, seen)
    return None


def _method(cls: ast.ClassDef, name: str) -> ast.FunctionDef | None:
    for node in cls.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == name:
            return node
    return None


def _instances(tree: ast.Module, names: dict) -> dict[str, ast.ClassDef]:
    """Variable -> package class for every ``x = SomeClass(...)`` in the
    file (a name bound to two different classes is dropped)."""
    out: dict[str, ast.ClassDef | None] = {}
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Name)):
            continue
        target = names.get(node.value.func.id)
        cls = target and _resolve_def(*target)
        if isinstance(cls, ast.ClassDef):
            var = node.targets[0].id
            out[var] = cls if out.get(var, cls) is cls else None
    return {k: v for k, v in out.items() if v is not None}


def _package_callables(tree: ast.Module, module: str | None) -> dict[str, tuple[str, str]]:
    """Local name -> (module, name) for every ``combblas_spark`` function
    a source can call by a bare name: ``from combblas_spark.x import f``
    anywhere in the file, plus, inside the package, the module's own
    top-level defs."""
    names: dict[str, tuple[str, str]] = {}
    if module is not None:
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names[node.name] = (module, node.name)
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and node.level == 0 and node.module
                and node.module.startswith(PACKAGE)):
            for a in node.names:
                names[a.asname or a.name] = (node.module, a.name)
    return names


def _call_problems(call: ast.Call, fn: ast.FunctionDef, bound: bool = False) -> list[str]:
    """``bound``: ``fn`` is a method called on an instance (``self`` is
    not passed)."""
    args = fn.args
    if args.kwarg is not None or any(k.arg is None for k in call.keywords):
        return []
    problems = []
    accepted = {a.arg for a in args.args + args.kwonlyargs}
    for k in call.keywords:
        if k.arg not in accepted:
            problems.append(f"{fn.name}() has no parameter {k.arg!r}")
    n_pos = len(args.posonlyargs) + len(args.args) - bound
    starred = any(isinstance(a, ast.Starred) for a in call.args)
    if args.vararg is None and not starred and len(call.args) > n_pos:
        problems.append(f"{fn.name}() takes {n_pos} positional arguments, "
                        f"called with {len(call.args)}")
    return problems


def test_combblas_spark_call_signatures_match():
    """Every call to a ``combblas_spark`` function from the scripts, the
    entry points, the tests and the package passes only keywords the
    function declares and no more positional arguments than it accepts —
    a keyword naming a deleted parameter fails here, not when someone
    next runs the script or the suite reaches the test. Only the keyword
    names and the positional count are checked: a positional call that
    still fits after a middle parameter was removed binds the wrong
    parameter and passes. Seen are calls by a bare imported name (not
    ``module.f(...)``) and method calls on ``Class(...)`` or on a
    variable the same file binds to ``Class(...)``; calls with ``**``
    and functions taking ``**kwargs`` are skipped."""
    problems = []
    checked = 0
    for src in _sources():
        rel = src.relative_to(ROOT)
        tree = ast.parse(src.read_text())
        module = None
        if rel.parts[0] == PACKAGE:
            module = ".".join(rel.with_suffix("").parts)
            module = module.removesuffix(".__init__")
        names = _package_callables(tree, module)
        instances = _instances(tree, names)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn, bound = None, False
            if isinstance(node.func, ast.Name):
                target = names.get(node.func.id)
                fn = target and _resolve_def(*target)
            elif isinstance(node.func, ast.Attribute):
                obj = node.func.value
                cls = instances.get(obj.id) if isinstance(obj, ast.Name) else None
                if (isinstance(obj, ast.Call) and isinstance(obj.func, ast.Name)
                        and obj.func.id in names):
                    cls = _resolve_def(*names[obj.func.id])
                if isinstance(cls, ast.ClassDef):
                    fn, bound = _method(cls, node.func.attr), True
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            checked += 1
            problems += [f"{rel}:{node.lineno}: {p}"
                         for p in _call_problems(node, fn, bound)]
    assert checked > 0
    assert not problems, "\n".join(problems)

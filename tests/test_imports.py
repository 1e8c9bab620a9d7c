"""Static check that every ``combblas_spark`` import in the scripts, the
entry points and the package itself resolves — no Spark session,
nothing imported. Scripts are never collected by pytest, so a deleted
module or renamed function would otherwise leave a dangling import
that only fails when someone runs the script."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "combblas_spark"


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("scripts", "perfbench"):
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

"""Repo-local imports of the scripts under tools/ and the repo root
resolve: every module they import exists, and every name they take from
a repo-local module is still defined there.

The scripts are not imported (several start Spark or parse argv at
import time); their source is parsed instead, so deleting a module or
function a surviving script still uses fails here rather than at the
script's next run.
"""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(REPO.glob("*.py")) + sorted((REPO / "tools").glob("*.py"))


def _module_path(dotted: str, roots: list[Path]) -> Path | None:
    """File (module or package __init__) for ``dotted`` under ``roots``."""
    parts = dotted.split(".")
    for root in roots:
        base = root.joinpath(*parts)
        for cand in (base.with_suffix(".py"), base / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _top_level_names(path: Path) -> set[str] | None:
    """Names bound at module level (None: the module defines names
    dynamically, via ``import *`` or a module ``__getattr__``)."""
    names: set[str] = set()

    def visit(stmts):
        for st in stmts:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(st.name)
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                for a in st.names:
                    if a.name == "*":
                        raise LookupError
                    names.add(a.asname or a.name.split(".")[0])
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
            elif isinstance(st, (ast.If, ast.Try, ast.With)):
                for field in ("body", "orelse", "finalbody"):
                    visit(getattr(st, field, []))
                for h in getattr(st, "handlers", []):
                    visit(h.body)

    try:
        visit(ast.parse(path.read_text()).body)
    except LookupError:
        return None
    return None if "__getattr__" in names else names


def _has_name(mod_path: Path, dotted: str, name: str, roots: list[Path]) -> bool:
    names = _top_level_names(mod_path)
    if names is None or name in names:
        return True
    # a package also exposes its submodules
    return mod_path.name == "__init__.py" and _module_path(f"{dotted}.{name}", roots) is not None


def _problems(script: Path) -> list[str]:
    # a tool runs with its own directory and the repo root on sys.path
    roots = [script.parent, REPO] if script.parent != REPO else [REPO]
    tree = ast.parse(script.read_text())
    out = []
    local_aliases: dict[str, tuple[Path, str]] = {}

    def resolve(dotted: str, line: int) -> Path | None:
        path = _module_path(dotted, roots)
        if path is None and _module_path(dotted.split(".")[0], roots) is not None:
            out.append(f"line {line}: repo-local module {dotted!r} does not exist")
        elif path is None and importlib.util.find_spec(dotted.split(".")[0]) is None:
            out.append(f"line {line}: module {dotted!r} is neither repo-local nor installed")
        return path

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                path = resolve(a.name, node.lineno)
                if path is not None and (a.asname or "." not in a.name):
                    local_aliases[a.asname or a.name] = (path, a.name)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            path = resolve(node.module, node.lineno)
            if path is None:
                continue
            for a in node.names:
                if a.name != "*" and not _has_name(path, node.module, a.name, roots):
                    out.append(f"line {node.lineno}: {node.module!r} has no {a.name!r}")
    # attribute uses of an imported repo-local module: ``bench.best_of``
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in local_aliases
        ):
            path, dotted = local_aliases[node.value.id]
            if not _has_name(path, dotted, node.attr, roots):
                out.append(f"line {node.lineno}: {dotted!r} has no {node.attr!r}")
    return out


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_repo_local_imports_resolve(script):
    assert _problems(script) == []

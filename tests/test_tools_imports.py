"""Repo-local imports of the scripts under tools/, perfbench/ and the
repo root, and of the modules of ``pbf_spark`` (relative imports
included), resolve: every module they import exists, every name they
take from a repo-local module is still defined there, and every keyword
they pass to a repo-local function is still a parameter of it.

The scripts are not imported (several start Spark or parse argv at
import time); their source is parsed instead, so deleting a module,
function or keyword a surviving script still uses fails here rather
than at the script's next run.

Every ``SparkSession.builder`` outside ``pbf_spark/session.py`` passes
the shared worker-daemon setting ``session.WORKER_DAEMON_CONF``.
"""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = (
    sorted(REPO.glob("*.py"))
    + sorted((REPO / "tools").glob("*.py"))
    + sorted((REPO / "perfbench").glob("*.py"))
)
MODULES = sorted((REPO / "pbf_spark").rglob("*.py"))
PACKAGE_DIRS = {p.parent for p in MODULES}


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


def _keywords(mod_path: Path, name: str) -> set[str] | None:
    """Keywords the module-level function ``name`` accepts (None: not a
    plain function there, or it takes ``**kwargs``)."""
    for st in ast.parse(mod_path.read_text()).body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)) and st.name == name:
            if st.args.kwarg is not None:
                return None
            return {a.arg for a in st.args.args + st.args.kwonlyargs}
    return None


def _has_name(mod_path: Path, dotted: str, name: str, roots: list[Path]) -> bool:
    names = _top_level_names(mod_path)
    if names is None or name in names:
        return True
    # a package also exposes its submodules
    return mod_path.name == "__init__.py" and _module_path(f"{dotted}.{name}", roots) is not None


def _import_target(script: Path, node: ast.ImportFrom) -> str | None:
    """Dotted module a ``from ... import`` reads, a relative one resolved
    against the package ``script`` sits in."""
    if node.level == 0:
        return node.module
    pkg = script.relative_to(REPO).parent.parts
    pkg = pkg[: len(pkg) - node.level + 1]
    return ".".join([*pkg, *([node.module] if node.module else [])])


def _problems(script: Path) -> list[str]:
    # a tool runs with its own directory and the repo root on sys.path,
    # a package module with the repo root only
    in_package = script.parent in PACKAGE_DIRS
    roots = [REPO] if in_package or script.parent == REPO else [script.parent, REPO]
    tree = ast.parse(script.read_text())
    out = []
    # a package import inside ``try: ... except ImportError`` is an
    # optional dependency (``wire/frame.py``'s lz4 and zstandard codecs)
    optional = {
        id(n)
        for t in ast.walk(tree)
        if in_package
        and isinstance(t, ast.Try)
        and any(h.type is not None and "ImportError" in ast.unparse(h.type) for h in t.handlers)
        for st in t.body
        for n in ast.walk(st)
    }
    local_aliases: dict[str, tuple[Path, str]] = {}
    local_funcs: dict[str, tuple[Path, str]] = {}

    def resolve(dotted: str, node: ast.stmt) -> Path | None:
        path = _module_path(dotted, roots)
        if path is None and _module_path(dotted.split(".")[0], roots) is not None:
            out.append(f"line {node.lineno}: repo-local module {dotted!r} does not exist")
        elif (
            path is None
            and id(node) not in optional
            and importlib.util.find_spec(dotted.split(".")[0]) is None
        ):
            out.append(f"line {node.lineno}: module {dotted!r} is neither repo-local nor installed")
        return path

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                path = resolve(a.name, node)
                if path is not None and (a.asname or "." not in a.name):
                    local_aliases[a.asname or a.name] = (path, a.name)
        elif isinstance(node, ast.ImportFrom) and (dotted := _import_target(script, node)):
            path = resolve(dotted, node)
            if path is None:
                continue
            for a in node.names:
                sub = _module_path(f"{dotted}.{a.name}", roots)
                if sub is not None:
                    local_aliases[a.asname or a.name] = (sub, f"{dotted}.{a.name}")
                elif a.name != "*" and not _has_name(path, dotted, a.name, roots):
                    out.append(f"line {node.lineno}: {dotted!r} has no {a.name!r}")
                else:
                    local_funcs[a.asname or a.name] = (path, a.name)
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
    # keywords passed to a repo-local function: ``spatial.f(level=...)``
    # or ``f(level=...)`` after ``from mod import f``
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in local_funcs:
            path, name = local_funcs[f.id]
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id in local_aliases:
            path, name = local_aliases[f.value.id][0], f.attr
        else:
            continue
        accepted = _keywords(path, name)
        if accepted is None:
            continue
        for kw in node.keywords:
            if kw.arg is not None and kw.arg not in accepted:
                out.append(f"line {node.lineno}: {name}() takes no keyword {kw.arg!r}")
    return out


@pytest.mark.parametrize("script", SCRIPTS + MODULES, ids=lambda p: str(p.relative_to(REPO)))
def test_repo_local_imports_resolve(script):
    assert _problems(script) == []


def _is_builder(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and isinstance(node.value, ast.Name)
        and node.value.id == "SparkSession"
    )


def _passes_daemon_conf(call: ast.Call) -> bool:
    """``.config(*WORKER_DAEMON_CONF)`` or ``.config(*session.WORKER_DAEMON_CONF)``."""
    return (
        isinstance(call.func, ast.Attribute)
        and call.func.attr == "config"
        and any(
            isinstance(a, ast.Starred)
            and getattr(a.value, "id", getattr(a.value, "attr", None)) == "WORKER_DAEMON_CONF"
            for a in call.args
        )
    )


def _builders_without_daemon_conf(source: str) -> list[int]:
    """Lines of the ``SparkSession.builder`` chains in ``source`` that
    never call ``.config(*WORKER_DAEMON_CONF)``."""
    tree = ast.parse(source)
    passed = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _passes_daemon_conf(node):
            root = node.func
            while not _is_builder(root) and isinstance(root, (ast.Attribute, ast.Call)):
                root = root.value if isinstance(root, ast.Attribute) else root.func
            passed.add(root)
    return sorted(n.lineno for n in ast.walk(tree) if _is_builder(n) and n not in passed)


BUILDER_FILES = [
    p
    for p in SCRIPTS + MODULES + sorted((REPO / "tests").glob("*.py"))
    if p != REPO / "pbf_spark" / "session.py"
]


@pytest.mark.parametrize("path", BUILDER_FILES, ids=lambda p: str(p.relative_to(REPO)))
def test_spark_builders_use_worker_daemon(path):
    """A session built outside ``get_spark`` still runs its Python
    workers under ``pbf_spark.worker_daemon``, taking the setting from
    ``pbf_spark.session`` rather than a copy of the string."""
    assert _builders_without_daemon_conf(path.read_text()) == []


def test_builder_check_flags_a_missing_daemon_conf():
    src = (
        "a = SparkSession.builder.config(*WORKER_DAEMON_CONF).getOrCreate()\n"
        "b = SparkSession.builder.config('spark.python.daemon.module', 'x').getOrCreate()\n"
        "c = SparkSession.builder.master('local').getOrCreate()\n"
        "d = SparkSession.builder.master('local').config(*session.WORKER_DAEMON_CONF).getOrCreate()\n"
    )
    assert _builders_without_daemon_conf(src) == [2, 3]

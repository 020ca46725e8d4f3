"""Operator state lives for one call.

An operator's storage belongs either to the call or to the object the
call returns; it never lives in the plan-keyed SQL cache across calls,
and no scratch file outlives the call. These tests hold every declared
query and the stateful operators to that rule:

* after each query's result is collected, the session's CacheManager
  holds exactly the entries it held before, the warehouse directory
  (the session's storage root) lists exactly what it listed before,
  and the result reads no file outside the query's input tables;
* calls that keep per-call state, run concurrently on one session,
  return exactly what they return when run one at a time;
* no module in the package keeps mutable module-level state.
"""

from __future__ import annotations

import ast
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from pbf_spark import queries as Q
from pbf_spark.operators.dedup import minhash_lsh_pairs
from pbf_spark.operators.knn import knn_join

SF = "/root/testdata/sf0.001"
PACKAGE = Path(__file__).resolve().parent.parent / "pbf_spark"


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def _warehouse_listing(spark) -> list[str]:
    path = spark._jvm.org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(path))


@pytest.mark.parametrize("name", list(Q.QUERIES))
def test_query_leaves_no_state(spark, name):
    entries, listing = _cache_entries(spark), _warehouse_listing(spark)
    df = Q.QUERIES[name](spark, SF)
    df.collect()
    assert _cache_entries(spark) == entries, "query left entries in the SQL cache"
    assert _warehouse_listing(spark) == listing, "query left files in the warehouse"
    outside = [f for f in df.inputFiles() if not urlparse(f).path.startswith(SF + "/")]
    assert not outside, f"result reads files outside its inputs: {outside[:3]}"


def test_concurrent_calls_match_serial(spark):
    docs = Q._documents(spark, SF)
    pts = Q.event_points(spark, SF)
    probes = pts.where(F.col("id") % 40 == 0).select(F.col("id").alias("query_id"), "lat", "lon")
    calls = [
        lambda: minhash_lsh_pairs(docs).orderBy("id_a", "id_b").collect(),
        lambda: minhash_lsh_pairs(docs).orderBy("id_a", "id_b").collect(),
        lambda: knn_join(pts, probes, k=5).orderBy("query_id", "rank").collect(),
        lambda: Q.bbox_pruned_events(spark, SF).collect(),
        lambda: Q.bbox_pruned_events(spark, SF).collect(),
    ]
    serial = [call() for call in calls]
    assert all(serial)
    with ThreadPoolExecutor(len(calls)) as pool:
        concurrent = list(pool.map(lambda call: call(), calls, timeout=600))
    assert concurrent == serial


_MUTATORS = {
    "append", "extend", "pop", "update", "add", "clear",
    "insert", "remove", "setdefault", "discard",
}
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _module_names(body: list[ast.stmt]) -> set[str]:
    """Names bound by assignment at module level (incl. under if/try)."""
    names: set[str] = set()
    for node in body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                names |= _module_names(getattr(node, field, []))
            continue
        for t in targets:
            names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
    return names


def _own_nodes(scope: ast.AST):
    """Nodes of ``scope``'s body, not descending into nested scopes."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _local_names(fn: ast.AST) -> set[str]:
    args = fn.args
    params = args.posonlyargs + args.args + args.kwonlyargs + [args.vararg, args.kwarg]
    bound = {a.arg for a in params if a is not None}
    for node in _own_nodes(fn):
        if isinstance(node, ast.Name) and isinstance(node.ctx, (ast.Store, ast.Del)):
            bound.add(node.id)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            bound.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            bound |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return bound


def _write(node: ast.AST, names: set[str]) -> str | None:
    """How ``node`` writes one of the module-level ``names``, if it does."""
    if isinstance(node, ast.Global):
        return f"global {', '.join(node.names)}"
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _MUTATORS
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id in names
    ):
        return f"{node.func.value.id}.{node.func.attr}()"
    if (
        isinstance(node, ast.Subscript)
        and isinstance(node.ctx, (ast.Store, ast.Del))
        and isinstance(node.value, ast.Name)
        and node.value.id in names
    ):
        return f"{node.value.id}[...] assignment"
    return None


def _module_state_writes(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    module = _module_names(tree.body)
    found = []

    def visit(scope: ast.AST, shadowed: set[str]) -> None:
        in_function = isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
        if in_function:
            shadowed = shadowed | _local_names(scope)
        for node in _own_nodes(scope):
            if isinstance(node, _SCOPES):
                visit(node, shadowed)
            elif in_function and (how := _write(node, module - shadowed)):
                found.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {how}")

    visit(tree, set())
    return found


def test_no_module_level_mutable_state():
    """No function in the package declares ``global`` or mutates a
    module-level name (mutator method call or subscript assignment):
    state that outlives a call belongs to the object it returns."""
    found = sorted(w for p in PACKAGE.rglob("*.py") for w in _module_state_writes(p))
    assert not found, "module-level state written in: " + "; ".join(found)

"""Every top-level def of the package is reached from something that runs.

A def (function, class or module-level name) counts as reached when its
name appears outside its own body: as a name, an attribute, an import or
an identifier string (``__all__``, lazy re-exports) in the package,
``bench.py``, ``perfbench/`` or ``tools/``.  Decorated defs (registered
queries) and dunder protocol names are reached by their decorator or by
Python itself.  A def that only ``tests/`` names must be listed in
``KEPT`` with the reason it stays; twins and reference forms of a
shipped operator belong in ``tests/reference_forms.py`` instead.  Pure
AST — no Spark.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "emulating_hadoop_with_mpi_spark"

# Library operators kept with tests as their only callers: (name, reason).
KEPT = (
    ("range_join", "range family: bucketized point-in-interval join"),
    ("rolling_percentile", "window family: exact rolling percentile"),
    ("time_bucket_agg", "streaming rollups: fine time buckets"),
    ("coarsen_buckets", "streaming rollups: coarse buckets merged from fine"),
    ("purchase_click_join", "streaming family: stream-stream interval join"),
    ("resize_media", "multimodal family: bounded image payloads"),
    ("sample_frames", "multimodal family: video frame sampling"),
    ("write_training_shards", "the pack pipeline's one-file-per-shard sink"),
    ("unpersist_ranged_cache", "releases ranged_running_total's session cache"),
    ("matrix_coo_from_numpy", "COO matrix frames from NumPy arrays"),
    ("has_pushed_filters", "plans/inspect predicate of the scale guardrails"),
    ("read_schema_columns", "plans/inspect predicate of the scale guardrails"),
    ("uses_broadcast_join", "plans/inspect predicate of the scale guardrails"),
    ("python_eval_free", "plans/inspect predicate of the scale guardrails"),
)
KEPT_NAMES = {name for name, _ in KEPT}


def _py_files(*parts: str) -> list[str]:
    top = os.path.join(REPO, *parts)
    if os.path.isfile(top):
        return [top]
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(".py")
    )


def _top_defs(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for t in node.targets if isinstance(node, ast.Assign) else [node.target]:
                if isinstance(t, ast.Name):
                    yield t.id, node


def _names(node: ast.AST):
    for x in ast.walk(node):
        if isinstance(x, ast.Name):
            yield x.id
        elif isinstance(x, ast.Attribute):
            yield x.attr
        elif isinstance(x, ast.alias):
            yield x.name.split(".")[-1]
        elif isinstance(x, ast.Constant) and isinstance(x.value, str) and x.value.isidentifier():
            yield x.value


def _scan() -> tuple[dict[str, str], set[str]]:
    """(def name -> file:line of each def nothing outside tests names,
    every name the tests use)."""
    defs: list[tuple[str, str, ast.AST]] = []
    users: dict[str, set[tuple[str, int]]] = {}
    for path in _py_files(PACKAGE) + _py_files("bench.py") + _py_files("perfbench") + _py_files("tools"):
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        if path.startswith(os.path.join(REPO, PACKAGE)):
            defs += [(path, name, node) for name, node in _top_defs(tree)]
        for top in tree.body:
            for name in _names(top):
                users.setdefault(name, set()).add((path, id(top)))
    in_tests = {
        name
        for path in _py_files("tests")
        for name in _names(ast.parse(open(path, encoding="utf-8").read(), path))
    }
    unreached = {}
    for path, name, node in defs:
        if name.startswith("__") or getattr(node, "decorator_list", None):
            continue
        if users.get(name, set()) - {(path, id(node))}:
            continue
        unreached[name] = f"{os.path.relpath(path, REPO)}:{node.lineno}"
    return unreached, in_tests


def test_every_package_def_is_reached():
    unreached, in_tests = _scan()
    dead = {n: w for n, w in unreached.items() if n not in in_tests}
    assert not dead, f"defs nothing refers to (delete them): {dead}"
    test_only = {n: w for n, w in unreached.items() if n not in KEPT_NAMES}
    assert not test_only, (
        "defs only tests refer to: delete them, move a twin to tests/reference_forms.py, "
        f"or list a kept library operator in KEPT: {test_only}"
    )


def test_kept_list_has_no_stale_entries():
    unreached, in_tests = _scan()
    stale = sorted(n for n in KEPT_NAMES if n not in unreached or n not in in_tests)
    assert not stale, f"KEPT entries now reached outside tests, or gone: {stale}"

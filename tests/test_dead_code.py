"""Dead-code guard (AST only, no Spark): every public top-level function
or class in the package must be referenced from production code — the
package itself, ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` or
``tools/``. References from ``tests/``, from the definition's own body
and from ``__init__`` re-exports do not count. Functions registered with
``@query``/``@task`` pass: the registry is their caller.

A name is matched by identifier, not by import path, so a same-named
symbol elsewhere can keep a dead function alive; the guard errs towards
passing, never towards a false alarm."""

import ast
import functools
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "open_bus_stride_etl_spark"
PRODUCTION = [
    PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "perfbench", ROOT / "tools",
]

# Kept without a production caller: each carries a SURVEY.md §2 row (or
# is the reference a test compares the production path against).
ALLOWED = {
    "sources/lake.py:load_table_jdbc": "S1 Postgres table scan (JDBC branch)",
    "sources/lake.py:write_partitioned": "J8 partition-overwrite join-update",
    "sources/artifacts.py:latest_artifact": "O4 latest artifact (top-k by recency)",
    "sources/csv_package.py:load_package": "S5 datapackage load",
    "functions/geo.py:distance_meters": "F8 geodesic distance (exact dispatch)",
    "functions/timeutil.py:israel_iso_string": "F10 export datetime canonicalization",
}

REGISTERING_DECORATORS = {"query", "task"}


def _py_files(path: pathlib.Path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _identifiers(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
        and d.func.id in REGISTERING_DECORATORS
        for d in node.decorator_list
    )


@functools.cache
def unreferenced() -> tuple[str, ...]:
    users = defaultdict(set)  # identifier -> top-level statements using it
    defs = []  # (key, statement)
    for root in PRODUCTION:
        for path in _py_files(root):
            tree = ast.parse(path.read_text(), filename=str(path))
            for stmt in tree.body:
                if path.name == "__init__.py" and isinstance(stmt, ast.ImportFrom):
                    continue  # re-exports
                for name in _identifiers(stmt):
                    users[name].add(stmt)
                if (
                    path.is_relative_to(PACKAGE)
                    and isinstance(stmt, (ast.FunctionDef, ast.ClassDef))
                    and not stmt.name.startswith("_")
                    and not _registered(stmt)
                ):
                    key = f"{path.relative_to(PACKAGE).as_posix()}:{stmt.name}"
                    defs.append((key, stmt))
    return tuple(sorted(key for key, stmt in defs if not users[stmt.name] - {stmt}))


def test_every_public_definition_has_a_production_caller():
    dead = [k for k in unreferenced() if k not in ALLOWED]
    assert not dead, (
        "public definitions with no caller outside tests/ — delete them (and "
        f"their tests), or add them to ALLOWED with their SURVEY §2 row: {dead}"
    )


def test_allowlist_has_no_stale_entries():
    stale = sorted(set(ALLOWED) - set(unreferenced()))
    assert not stale, f"ALLOWED entries that are gone or now called: {stale}"

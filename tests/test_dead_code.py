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
    "sources/artifacts.py:latest_artifact": "O4 latest artifact (top-k by recency)",
    "sources/csv_package.py:load_package": "S5 datapackage load",
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


# --- options guard -----------------------------------------------------------
# An optional parameter of an operator-layer function is an option only if
# some production call site sets it: passes it something other than its
# literal default. Tests do not count as callers — a guard or size only a
# test turns is a module constant the test monkeypatches, and an input only
# a test varies is one it builds itself. A variable, a different literal, a
# ``*args`` or ``**kwargs`` forward, a ``functools.partial`` binding and a
# call through an import alias all count as setting it, so this guard, like
# the one above, errs towards passing.
OPTION_ROOTS = [PACKAGE / d for d in ("operators", "functions", "sources", "streaming")]
CALLERS = PRODUCTION

# The seams through which a test substitutes a fake clock or sleep.
OPTIONS_ALLOWED = {
    "functions/timeutil.py:parse_window.today": "clock seam: the date every window resolves against",
    "operators/stats.py:validate_freshness.now": "clock seam: the instant snapshot age is taken at",
    "sources/artifacts.py:register_artifact.now": "clock seam: the artifact's registration stamp",
    "sources/artifacts.py:backup_and_cleanup.today": "clock seam: the date retention counts from",
    "sources/fs.py:with_retries.sleep": "sleep seam: tests record the backoff instead of waiting",
}


def _optional_params(fn: ast.FunctionDef):
    """(name, positional index or None, default node) per defaulted parameter."""
    positional = fn.args.posonlyargs + fn.args.args
    first = len(positional) - len(fn.args.defaults)
    for i, (arg, default) in enumerate(zip(positional[first:], fn.args.defaults), first):
        yield arg.arg, i, default
    for arg, default in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        if default is not None:
            yield arg.arg, None, default


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _set_by(call_args, keywords, params) -> set[str]:
    """The parameters in ``params`` one call sets to a non-default value."""
    out = set()
    for j, a in enumerate(call_args):
        if isinstance(a, ast.Starred):  # *args forward: every later positional
            out |= {name for name, i, _ in params if i is not None and i >= j}
            break
        out |= {name for name, i, d in params if i == j and ast.dump(a) != ast.dump(d)}
    for kw in keywords:
        if kw.arg is None:  # **kwargs forward
            return {name for name, _, _ in params}
        out |= {name for name, _, d in params if kw.arg == name and ast.dump(kw.value) != ast.dump(d)}
    return out


@functools.cache
def never_set_options() -> tuple[str, ...]:
    defs = defaultdict(list)  # function name -> [(key prefix, params)]
    for root in OPTION_ROOTS:
        for path in _py_files(root):
            tree = ast.parse(path.read_text(), filename=str(path))
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    params = list(_optional_params(node))
                    if params:
                        prefix = f"{path.relative_to(PACKAGE).as_posix()}:{node.name}"
                        defs[node.name].append((prefix, params))
    trees = [ast.parse(p.read_text(), filename=str(p)) for r in CALLERS for p in _py_files(r)]
    aliases = defaultdict(set)  # local name -> imported names
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.alias) and node.asname:
                aliases[node.asname].add(node.name.rsplit(".", 1)[-1])
    set_ = set()
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callee, args = _callee(node.func), node.args
            if callee == "partial" and args:
                callee, args = _callee(args[0]), args[1:]
            for name in {callee} | aliases.get(callee, set()):
                for prefix, params in defs.get(name, ()):
                    set_ |= {f"{prefix}.{p}" for p in _set_by(args, node.keywords, params)}
    every = {f"{prefix}.{name}" for entries in defs.values() for prefix, params in entries
             for name, _, _ in params}
    return tuple(sorted(every - set_))


def test_every_operator_option_has_a_caller_that_sets_it():
    unset = [k for k in never_set_options() if k not in OPTIONS_ALLOWED]
    assert not unset, (
        "optional parameters that no production call site sets to anything "
        "but the default — fix them to the one schema/constant (a module "
        f"constant tests monkeypatch) and delete the option: {unset}"
    )


def test_options_allowlist_has_no_stale_entries():
    stale = sorted(set(OPTIONS_ALLOWED) - set(never_set_options()))
    assert not stale, f"OPTIONS_ALLOWED entries that are gone or now set: {stale}"

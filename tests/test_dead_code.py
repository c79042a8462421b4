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
import textwrap
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
# An optional parameter of a package function outside the session module
# is an option only if some production call site sets it: passes it
# something other than its literal default. Tests do not count as callers
# — a guard or size only a test turns is a module constant the test
# monkeypatches, and an input only a test varies is one it builds itself.
# A variable, a different literal, a ``*args`` forward, an unresolved
# ``**kwargs`` forward, a ``functools.partial`` binding and a call through
# an import alias all count as setting it, so this guard, like the one
# above, errs towards passing.
#
# Tasks are called by name: ``run_task(spark, "<task>", **params)``. A
# dispatch naming its task by a string literal sets that ``@task``
# function's options through its keywords; one with a computed name sets
# them on every task. A ``**d`` forward whose ``d`` is bound to a dict
# literal (or a conditional choice of dict literals) counts as that
# dict's keywords.
OPTION_ROOTS = [
    PACKAGE / d for d in ("operators", "functions", "sources", "streaming", "plans")
]
CALLERS = PRODUCTION

# Task dispatchers -> the positional index of their task-name argument.
# The dispatch inside a dispatcher's own body forwards its caller's
# keywords, so the guard reads those callers instead.
DISPATCHERS = {"run_task": 1, "run_task_captured": 3}

# ``**`` forwards of user input set nothing a production caller chose.
USER_INPUT = {"open_bus_stride_etl_spark/__main__.py:params": "the CLI's -p key=value pairs"}

# Kept without a production setter: deployment paths, the seams through
# which a test substitutes a fake clock or sleep, and the parameters of
# the reference's CLI and DAGs.
OPTIONS_ALLOWED = {
    "plans/llm_tasks.py:llm_ann_query.index_dir": "path: the persisted IVF index it probes",
    "plans/llm_tasks.py:llm_ann_query.out_dir": "path: where the query results land",
    "plans/llm_tasks.py:llm_build_ann_index.out_dir": "path: where the IVF index lands",
    "plans/llm_tasks.py:llm_export_training_shards.in_dir": "path: the corpus it exports",
    "plans/llm_tasks.py:llm_export_training_shards.out_dir": "path: where the shards land",
    "plans/llm_tasks.py:llm_stream_ingest_dedup.index_dir": "path: the streamed LSH band index",
    "plans/llm_tasks.py:llm_stream_ingest_dedup.out_dir": "path: where admitted documents land",
    "plans/stride_tasks.py:siri_storage_backup_cleanup.storage_root": "path: the raw SIRI storage",
    "plans/stride_tasks.py:siri_storage_backup_cleanup.backup_dir": "path: the backup store",
    "plans/stride_tasks.py:update_areas_fake_gtfs.areas_file": "path: the areas.yaml config",
    "functions/timeutil.py:parse_window.today": "clock seam: the date every window resolves against",
    "operators/stats.py:validate_freshness.now": "clock seam: the instant snapshot age is taken at",
    "sources/artifacts.py:register_artifact.now": "clock seam: the artifact's registration stamp",
    "sources/artifacts.py:backup_and_cleanup.today": "clock seam: the date retention counts from",
    "sources/fs.py:with_retries.sleep": "sleep seam: tests record the backoff instead of waiting",
    "plans/stride_tasks.py:update_areas_fake_gtfs.today": "clock seam: the date the sweep counts back from",
    "plans/stride_tasks.py:stats_collect.validate": "reference DAG flag: stats-collect --validate (stats/dags.yaml)",
    "plans/stride_tasks.py:update_areas_fake_gtfs.only_area": "reference CLI: urbanaccess/update_areas_fake_gtfs.py:62-72",
    "plans/stride_tasks.py:update_areas_fake_gtfs.only_hours": "reference CLI: urbanaccess/update_areas_fake_gtfs.py:62-72",
    "plans/stride_tasks.py:update_areas_fake_gtfs.limit_fake_gtfs_processed": (
        "reference CLI: urbanaccess/update_areas_fake_gtfs.py:62-72"
    ),
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


def _dict_keywords(value: ast.expr | None) -> list[ast.keyword] | None:
    """The keywords a ``**value`` forward passes, or None if unknown."""
    if isinstance(value, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in value.keys
    ):
        return [ast.keyword(arg=k.value, value=v) for k, v in zip(value.keys, value.values)]
    if isinstance(value, ast.IfExp):
        a, b = _dict_keywords(value.body), _dict_keywords(value.orelse)
        return None if a is None or b is None else a + b
    return None


def _bindings(scope: ast.AST) -> dict[str, list]:
    """name -> the values bound to it in ``scope`` outside nested
    functions; None stands for a binding that is not a plain assignment."""
    values = {}  # id(target Name) -> assigned value
    out = defaultdict(list)
    if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef)):
        a = scope.args
        for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
            if arg is not None:
                out[arg.arg].append(None)
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)):
            continue
        if isinstance(n, ast.Assign):
            values.update({id(t): n.value for t in n.targets})
        elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            out[n.id].append(values.get(id(n)))
        todo.extend(ast.iter_child_nodes(n))
    return out


def _calls(node: ast.AST, scopes: tuple, fns: tuple = ()):
    """(call, enclosing binding scopes innermost first, enclosing function names)."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _calls(child, (_bindings(child), *scopes), (child.name, *fns))
            continue
        if isinstance(child, ast.Call):
            yield child, scopes, fns
        yield from _calls(child, scopes, fns)


def _keywords(call: ast.Call, scopes: tuple, path: str) -> list[ast.keyword]:
    """The call's keywords with each resolvable ``**d`` forward expanded
    and each user-input forward dropped."""
    out = []
    for kw in call.keywords:
        value = kw.value
        if kw.arg is not None:
            out.append(kw)
            continue
        if isinstance(value, ast.Name):
            if f"{path}:{value.id}" in USER_INPUT:
                continue
            bound = next((s[value.id] for s in scopes if value.id in s), [None])
            parts = [_dict_keywords(v) for v in bound]
            expanded = None if None in parts else [k for p in parts for k in p]
        else:
            expanded = _dict_keywords(value)
        out.extend([kw] if expanded is None else expanded)
    return out


def _never_set(option_sources, caller_sources) -> tuple[str, ...]:
    """Options nobody sets. Both arguments are ``[(path, source)]``: the
    option roots' paths relative to the package, the callers' relative
    to the repository."""
    defs = defaultdict(list)  # function name -> [(key prefix, params)]
    tasks = {}  # task name -> function name
    for rel, src in option_sources:
        for node in ast.walk(ast.parse(src, filename=rel)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                params = list(_optional_params(node))
                if params:
                    defs[node.name].append((f"{rel}:{node.name}", params))
                for d in node.decorator_list:
                    if (
                        isinstance(d, ast.Call) and _callee(d.func) == "task"
                        and d.args and isinstance(d.args[0], ast.Constant)
                    ):
                        tasks[d.args[0].value] = node.name
    trees = [(rel, ast.parse(src, filename=rel)) for rel, src in caller_sources]
    aliases = defaultdict(set)  # local name -> imported names
    for _, tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.alias) and node.asname:
                aliases[node.asname].add(node.name.rsplit(".", 1)[-1])
    set_ = set()
    for rel, tree in trees:
        for node, scopes, within in _calls(tree, (_bindings(tree),)):
            callee, args = _callee(node.func), node.args
            if callee == "partial" and args:
                callee, args = _callee(args[0]), args[1:]
            calls = [(name, args) for name in {callee} | aliases.get(callee, set())]
            i = DISPATCHERS.get(callee)
            if i is not None and len(args) > i and not set(within) & set(DISPATCHERS):
                named = args[i]
                fns = [tasks.get(named.value)] if isinstance(named, ast.Constant) else tasks.values()
                calls += [(fn, []) for fn in fns]  # a task takes its options by keyword
            keywords = _keywords(node, scopes, rel)
            for name, call_args in calls:
                for prefix, params in defs.get(name, ()):
                    set_ |= {f"{prefix}.{p}" for p in _set_by(call_args, keywords, params)}
    every = {f"{prefix}.{name}" for entries in defs.values() for prefix, params in entries
             for name, _, _ in params}
    return tuple(sorted(every - set_))


@functools.cache
def never_set_options() -> tuple[str, ...]:
    def sources(roots, base):
        return [(p.relative_to(base).as_posix(), p.read_text())
                for r in roots for p in _py_files(r)]

    return _never_set(sources(OPTION_ROOTS, PACKAGE), sources(CALLERS, ROOT))


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


# --- the guard's call-site resolution, on synthetic sources ------------------
_TASKS_SRC = """
@task("t-a")
def task_a(spark, base_dir, knob=1, other=2):
    pass


@task("t-b")
def task_b(spark, base_dir, knob=1):
    pass
"""
_ALL = {"plans/t.py:task_a.knob", "plans/t.py:task_a.other", "plans/t.py:task_b.knob"}


def _unset_after(caller: str, path: str = "tools/caller.py") -> set[str]:
    return set(_never_set([("plans/t.py", _TASKS_SRC)], [(path, textwrap.dedent(caller))]))


def test_option_guard_maps_a_literal_task_name_to_its_function():
    assert _unset_after('run_task(spark, "t-a", base_dir=b, knob=3)') == _ALL - {
        "plans/t.py:task_a.knob"
    }
    assert _unset_after('run_task(spark, "t-a", base_dir=b, knob=1)') == _ALL  # the default


def test_option_guard_expands_a_dict_literal_forward_to_its_keys():
    unset = _unset_after("""
        def sweep(cond):
            kw = {"base_dir": b, "other": 0}
            run_task(spark, "t-a", **kw)
            window = {"knob": 5} if cond else {}
            run_task(spark, "t-b", base_dir=b, **window)
        """)
    assert unset == {"plans/t.py:task_a.knob"}


def test_option_guard_counts_the_cli_forward_as_setting_nothing():
    unset = _unset_after("""
        def main(args):
            params = dict(parse(kv) for kv in args.param)
            run_task(spark, args.task, base_dir=args.base_dir, **params)
        """, path="open_bus_stride_etl_spark/__main__.py")
    assert unset == _ALL


def test_option_guard_reads_dynamic_names_and_a_wrappers_callers():
    unset = _unset_after("""
        def run_task_captured(run_task, spark, tracer, name, **params):
            run_task(spark, name, **params)

        for name in names:
            run_task(spark, name, base_dir=b, other=0)
        run_task_captured(run_task, spark, tracer, "t-b", base_dir=b, knob=2)
        """)
    assert unset == {"plans/t.py:task_a.knob"}

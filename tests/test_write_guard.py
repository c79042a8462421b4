"""Write-path guard (AST only, no Spark): a package module that replaces a
parquet directory must do it through ``sources/fs.py:publish_parquet``
(staged write, then a swap), never by overwriting the final path in
place — a crash in the middle of such a write destroys the previous
snapshot or artifact.

Scanned: ``sources/``, ``streaming/``, ``operators/``, ``functions/``
and ``plans/*_tasks.py``. The query harnesses in ``plans/q_*.py`` only
build throwaway temp inputs and are not scanned. A write counts as a replace when its chain calls
``.mode(m)`` with ``m`` anything but the literal ``"append"`` (a mode
passed in a variable may be ``"overwrite"``) and ends in ``.parquet(``.
"""

import ast
import functools
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "open_bus_stride_etl_spark"
SCANNED = [
    *sorted((PACKAGE / "sources").glob("*.py")),
    *sorted((PACKAGE / "streaming").glob("*.py")),
    *sorted((PACKAGE / "operators").glob("*.py")),
    *sorted((PACKAGE / "functions").glob("*.py")),
    *sorted((PACKAGE / "plans").glob("*_tasks.py")),
]

PUBLISHER = "sources/fs.py:publish_parquet"

# In-place replace writers left out of the one publisher, each with why.
ALLOWED = {
    "plans/llm_tasks.py:llm_export_training_shards": (
        "partitioned training shards (partitionBy shard); partition-set "
        "publishing is not built on the publisher yet"
    ),
    "plans/llm_tasks.py:llm_stream_ingest_dedup._admit": (
        "batch=<id> replay directories: a replayed batch overwrites only "
        "its own directory, which no other batch reads as its snapshot"
    ),
    "streaming/bounded.py:write_each_batch._write": (
        "streaming sink into a run-private temp dir; complete mode "
        "rewrites the whole result table each batch"
    ),
}


def _replace_mode(call: ast.Call) -> bool:
    """True when the receiver chain of a ``.parquet(...)`` call holds a
    ``.mode(m)`` whose ``m`` is not the literal ``"append"``."""
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "mode" and node.args:
                arg = node.args[0]
                return not (isinstance(arg, ast.Constant) and arg.value == "append")
            node = f.value if isinstance(f, ast.Attribute) else None
        else:
            node = node.value
    return False


def _walk(node: ast.AST, scope: list[str], found: set[str], rel: str, hit) -> None:
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            _walk(child, [*scope, child.name], found, rel, hit)
            continue
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr == "parquet"
            and hit(child)
        ):
            found.add(f"{rel}:{'.'.join(scope) or '<module>'}")
        _walk(child, scope, found, rel, hit)


@functools.cache
def parquet_sites(hit) -> frozenset[str]:
    """``module:scope`` of every scanned ``.parquet(...)`` call for
    which ``hit(call)`` holds."""
    found: set[str] = set()
    for path in SCANNED:
        rel = path.relative_to(PACKAGE).as_posix()
        _walk(ast.parse(path.read_text(), filename=str(path)), [], found, rel, hit)
    return frozenset(found)


def replace_writers() -> frozenset[str]:
    return parquet_sites(_replace_mode)


def test_directory_replaces_go_through_the_publisher():
    rogue = sorted(replace_writers() - {PUBLISHER} - set(ALLOWED))
    assert not rogue, (
        "parquet overwrites outside fs.publish_parquet — publish through it, "
        f"or add them to ALLOWED with the reason they cannot: {rogue}"
    )
    assert PUBLISHER in replace_writers()


def test_allowlist_has_no_stale_entries():
    stale = sorted(set(ALLOWED) - replace_writers())
    assert not stale, f"ALLOWED entries that no longer overwrite in place: {stale}"

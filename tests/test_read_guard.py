"""Read-path guard (AST only, no Spark): a package module that reads a
parquet table must give Spark its schema (``spark.read.schema(...)``,
normally through ``sources/stride_lake.py:read_table`` and the table's
declaration), never let Spark infer it. An inferred read starts one
footer-scan job per read and accepts whatever columns a writer left.

Scanned: the modules tests/test_write_guard.py scans (its ``SCANNED``).
A read counts as inferring when its chain reaches ``.read`` and ends in
``.parquet(`` with no ``.schema(`` in between.
"""

import ast

from tests.test_write_guard import parquet_sites

# Inferring reads left in place, each with why.
ALLOWED = {
    "sources/lake.py:load_table": (
        "the shared testdata (TIMESTAMP(NANOS) read with nanosAsLong); "
        "an input from outside the engine"
    ),
    "sources/fs.py:compact_parquet": (
        "compacts any dataset directory; its schema is whatever the dataset holds"
    ),
    "plans/llm_tasks.py:_load_docs": "the documents input arrives from outside the engine",
    "plans/llm_tasks.py:llm_build_ann_index": (
        "the embeddings input arrives from outside the engine"
    ),
    "plans/llm_tasks.py:llm_ann_query": "the embeddings input arrives from outside the engine",
    "plans/llm_tasks.py:llm_export_training_shards": (
        "the input is the curated documents (they mirror the input's columns) "
        "or the raw documents; the shards' read-back has a partition column"
    ),
    "plans/llm_tasks.py:llm_stream_ingest_dedup": (
        "the ingest source arrives from outside the engine"
    ),
}


def _infers(call: ast.Call) -> bool:
    """True when the receiver chain of a ``.parquet(...)`` call reaches
    ``.read`` without passing a ``.schema(...)`` call."""
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "schema":
                return False
            node = f.value if isinstance(f, ast.Attribute) else None
        elif node.attr == "read":
            return True
        else:
            node = node.value
    return False


def inferring_reads() -> frozenset[str]:
    return parquet_sites(_infers)


def test_parquet_reads_declare_their_schema():
    rogue = sorted(inferring_reads() - set(ALLOWED))
    assert not rogue, (
        "parquet reads that infer their schema — read a declared table with "
        "stride_lake.read_table, a just-written frame with "
        f"spark.read.schema(frame.schema), or add them to ALLOWED with the reason: {rogue}"
    )


def test_allowlist_has_no_stale_entries():
    stale = sorted(set(ALLOWED) - inferring_reads())
    assert not stale, f"ALLOWED entries that no longer infer a schema: {stale}"

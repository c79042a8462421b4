"""Stride lake: the engine's storage layer for the transit tables.

The reference keeps these tables in PostgreSQL and mutates them with
UPDATEs (SURVEY.md §1.1). Here each table is a parquet directory under a
base dir; enrichment tasks read a table, recompute the enrichment
columns, and replace the table snapshot through the engine's one
directory publisher, ``fs.publish_parquet`` (write ``<table>.staging``,
then swap it in). Re-running a window converges to the same state — the
reference's ``IS NULL`` todo-marker contract — so the publish is safe to
repeat, and a rerun after a crash overwrites the leftover staging dir.

On a real cluster with date-partitioned facts the swap narrows to
``INSERT OVERWRITE`` of the affected date partitions
(sources/lake.py:write_partitioned); the whole-table swap here is the
local-mode equivalent that keeps tests hermetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from . import fs


def table_path(base_dir: str, name: str) -> str:
    """``base_dir`` may be a plain path or any Hadoop-FS URI (s3a://…):
    every consumer goes through sources/fs.py for existence/rename."""
    return fs.join_path(base_dir, f"{name}.parquet")


def table_exists(base_dir: str, name: str) -> bool:
    return fs.exists_restoring(table_path(base_dir, name))


def read_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """The table's snapshot. A crash between the two renames of a
    previous snapshot swap left only ``<table>.old``; it is moved back
    first, so the next run reads the last complete snapshot."""
    path = table_path(base_dir, name)
    fs.exists_restoring(path, spark)
    return spark.read.parquet(path)


def overwrite_table(df: DataFrame, base_dir: str, name: str) -> int:
    """Replace the table snapshot (``fs.publish_parquet``: staged write,
    then a driver-side directory swap, so ``df`` may read the table it
    replaces). Returns the row count.

    Single-writer semantics (one scheduler per task), like the reference's
    per-task Airflow DAGs.
    """
    return overwrite_table_observed(df, base_dir, name)["rows"]


def overwrite_table_observed(
    df: DataFrame, base_dir: str, name: str, metrics: dict[str, Column] | None = None
) -> dict:
    """``overwrite_table`` with the row count — and any extra aggregate
    ``metrics`` — computed IN the write job (``fs.publish_parquet``):
    one plan execution per snapshot swap, no read-back count. Returns
    ``{"rows": n, **metrics}``."""
    return fs.publish_parquet(df, table_path(base_dir, name), metrics)

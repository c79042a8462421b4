"""Stride lake: the engine's storage layer for the transit tables.

The reference keeps these tables in PostgreSQL and mutates them with
UPDATEs (SURVEY.md §1.1). Here each table is a parquet directory under a
base dir; enrichment tasks read a table, recompute the enrichment
columns, and atomically replace the table snapshot (write-new + swap).
Re-running a window converges to the same state — the reference's
``IS NULL`` todo-marker contract — so the swap is safe to repeat.

On a real cluster with date-partitioned facts the swap narrows to
``INSERT OVERWRITE`` of the affected date partitions
(sources/lake.py:write_partitioned); the whole-table swap here is the
local-mode equivalent that keeps tests hermetic.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

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
    """Replace the table snapshot. Spark cannot overwrite a path it is
    concurrently reading (self-join of source and sink), so: write to a
    temp sibling, then swap directories driver-side. Returns row count.

    Single-writer semantics (one scheduler per task), like the reference's
    per-task Airflow DAGs.
    """
    return overwrite_table_observed(df, base_dir, name)["rows"]


def overwrite_table_observed(
    df: DataFrame, base_dir: str, name: str, metrics: dict[str, Column] | None = None
) -> dict:
    """``overwrite_table`` with the row count — and any extra aggregate
    ``metrics`` — computed via the Observation API IN the write job
    itself, instead of re-reading the written files. One plan execution
    per snapshot swap; the pre-r9 read-back count was a whole extra scan per task write,
    and task metrics like "rows newly set" paid yet another
    (`stride_tasks._write_and_count`). Returns ``{"rows": n, **metrics}``.
    """
    spark = df.sparkSession
    final = table_path(base_dir, name)
    tmp = f"{final}.tmp-{int(time.time() * 1000)}"
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("_rows")] + [
        c.alias(k) for k, c in (metrics or {}).items()
    ]
    df.observe(obs, *aggs).write.mode("overwrite").parquet(tmp)
    vals = dict(obs.get)
    n = vals.pop("_rows")
    fs.swap_dir(tmp, final, spark)
    return {"rows": n, **vals}

"""Keyed-upsert parquet sink for Structured Streaming — the missing
"merge into snapshot" piece between append-only file sinks and a real
lakehouse MERGE.

Pattern: ``writeStream.foreachBatch(parquet_upsert_sink(...))``. Each
micro-batch is merged into a keyed parquet snapshot with LATEST-WINS
semantics: one row per key survives, chosen by the version column
(ties by the batch side, i.e. newer batch beats equal-version
snapshot — the idempotent-replay choice: re-processing the same batch
rewrites identical rows). The reference's update tasks do exactly this
against Postgres via UPDATE..FROM (ref/siri/add_ride_durations.py's
keyed updates); on a data lake without a transactional table format the
idiomatic Spark form is read-merge-rewrite with an atomic directory
swap.

Scale + correctness notes:
- The merge is one window over snapshot ∪ batch, shuffled by key — the
  snapshot is re-read and re-shuffled each batch, the known cost of
  plain-parquet upserts. Production bounds it by partitioning the
  snapshot and rewriting only the partitions a batch touches; that
  partition-set publish is not built yet.
- Atomicity: each merge is published with ``fs.publish_parquet`` (write
  ``<dir>.staging``, then two checked renames; readers never see a torn
  mix). A crash between the renames leaves no snapshot, only
  ``<dir>.old``: the replayed epoch moves it back
  (``fs.exists_restoring``) before merging, so the replay sees the
  previous snapshot. foreachBatch re-runs an epoch on restart and the
  merge is idempotent (replaying a batch rewrites identical rows).
- The foreachBatch body runs on the driver but all data movement is
  executor-side DataFrame work; nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources import fs


def upsert_merge(
    snapshot: DataFrame | None,
    batch: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """Latest-wins merge of ``batch`` into ``snapshot`` (both plain
    DataFrames): one row per key, max ``version_col`` wins, the batch
    side wins version ties (idempotent replay). Pure transform — the
    testable core of the sink."""
    b = batch.withColumn("_src", F.lit(1))
    if snapshot is None:
        u = b
    else:
        u = snapshot.withColumn("_src", F.lit(0)).unionByName(b)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("_src").desc()
    )
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def parquet_upsert_sink(snapshot_dir: str, key_cols: list[str], version_col: str):
    """Return a ``foreachBatch`` function merging each micro-batch into
    the parquet snapshot at ``snapshot_dir`` and publishing the result."""

    def sink(batch: DataFrame, _epoch_id: int) -> None:
        spark = batch.sparkSession
        prev = None
        if fs.exists_restoring(snapshot_dir, spark):
            # every snapshot is an earlier merge of this stream's batches
            prev = spark.read.schema(batch.schema).parquet(snapshot_dir)
        fs.publish_parquet(upsert_merge(prev, batch, key_cols, version_col), snapshot_dir)

    return sink

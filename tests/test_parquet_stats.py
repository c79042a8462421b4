"""Footer-statistics counts (sources/parquet_stats.py) must agree
EXACTLY with the Spark scan they replace — the values feed task metrics
that are oracle-pinned query outputs (stride_dag_convergence's upd2_*
convergence row, curate_incremental_noop's n_index_fps)."""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.sources import parquet_stats


def test_footer_counts_match_spark(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    df = spark.range(0, 10_000, 1, 4).select(
        "id",
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("maybe_long"),
        F.when(
            F.col("id") % 7 == 0, F.lit("2024-03-01 00:00:00").cast("timestamp")
        ).alias("maybe_ts"),
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("s"), F.col("id"))).alias(
            "maybe_str"
        ),
    )
    df.write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p)
    assert parquet_stats.row_count(p) == back.count()
    for col in ("id", "maybe_long", "maybe_ts", "maybe_str"):
        want = back.where(F.col(col).isNotNull()).count()
        assert parquet_stats.nonnull_count(p, col) == want, col


def test_footer_counts_empty_and_missing_column(spark, tmp_path):
    p = str(tmp_path / "e.parquet")
    spark.range(0).select(
        F.col("id"), F.lit(None).cast("long").alias("v")
    ).write.mode("overwrite").parquet(p)
    assert parquet_stats.row_count(p) == 0
    assert parquet_stats.nonnull_count(p, "v") == 0
    # a column absent from every file's schema is all-null under merge
    assert parquet_stats.nonnull_count(p, "not_there") == 0


def test_footer_counts_fall_back_on_remote_or_missing():
    assert parquet_stats.row_count("s3a://bucket/t.parquet") is None
    assert parquet_stats.nonnull_count("s3a://bucket/t.parquet", "c") is None
    assert parquet_stats.row_count("/no/such/dir") is None


def test_footer_min_max_matches_spark(spark, tmp_path):
    """min/max from footers equal Spark's min/max over a table with NULL
    values, an all-NULL part file and a zero-row part file."""
    p = str(tmp_path / "m.parquet")
    ts = F.timestamp_micros(F.col("id") * 3_600_000_017 - 10**12)
    spark.range(0, 1_000, 1, 3).select(
        F.when(F.col("id") % 5 != 0, ts).alias("ts"),
        F.when(F.col("id") % 7 != 0, F.col("id") - 500).alias("n"),
    ).write.parquet(p)
    nulls = ("CAST(NULL AS TIMESTAMP) AS ts", "CAST(NULL AS BIGINT) AS n")
    spark.range(0, 50, 1, 1).selectExpr(*nulls).write.mode("append").parquet(p)
    spark.range(0, 0, 1, 1).selectExpr(*nulls).write.mode("append").parquet(p)
    footers = [pq.ParquetFile(f).metadata for f in glob.glob(f"{p}/*.parquet")]
    assert len(footers) == 5  # 3 data files, one all-NULL, one with no rows
    assert sorted(m.num_rows for m in footers)[:2] == [0, 50]

    back = spark.read.parquet(p)
    for col, value in (("ts", F.unix_micros(F.col("ts"))), ("n", F.col("n"))):
        want = back.select(value.alias("v")).agg(F.min("v"), F.max("v")).collect()[0]
        assert parquet_stats.min_max(p, col) == tuple(want), col
    assert parquet_stats.min_max(p, "not_there") is None  # no value at all
    assert parquet_stats.min_max("s3a://bucket/m.parquet", "ts") is None
    assert parquet_stats.min_max(str(tmp_path / "missing"), "ts") is None
    # a partitioned table's files are not all in its top directory
    os.mkdir(f"{p}/d=1")
    assert parquet_stats.min_max(p, "ts") is None and parquet_stats.row_count(p) is None

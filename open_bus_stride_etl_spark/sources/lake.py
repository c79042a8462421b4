"""Lake readers: parquet tables with a declared schema contract.

Replaces the reference's Postgres/SQLAlchemy table access (SURVEY.md §2.1
S1/S2: /root/reference/open_bus_stride_etl/siri/add_ride_durations.py:140-145,
siri/common.py:19-29) with columnar parquet scans. Schemas are *declared*
(the reference's schemas live as ORM models in open-bus-stride-db); here
the contract is enforced post-read by normalizing known timestamp columns.

The shared test tables store timestamps as parquet TIMESTAMP(NANOS),
which Spark reads only as raw longs (``spark.sql.legacy.parquet.
nanosAsLong``); ``load_table`` converts those to proper TimestampType so
every downstream operator sees real timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import configure

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns persisted as TIMESTAMP(NANOS) in the shared test parquet.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; timestamps come back as TimestampType (UTC)."""
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, ()):
        field = df.schema[c]
        if isinstance(field.dataType, T.LongType):
            # nanos since epoch -> micros since epoch -> timestamp.
            # Integer `div`, not `/`: epoch-nanos (~1.7e18) exceed the
            # 2^53 exact-double range, so float division would round the
            # microsecond digit.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) columns infer as
    # TIMESTAMP_NTZ; normalize to TimestampType so every table exposes
    # one timestamp flavor (UTC instants — the session tz is pinned to
    # UTC, so the cast is a pure relabel, no value shift).
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_table_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetchsize: int = 10_000,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC table scan — SURVEY §2.1 S1's "if a real PG source is ever
    attached" branch (the reference reads its tables through SQLAlchemy
    sessions on Postgres, e.g.
    /root/reference/open_bus_stride_etl/siri/add_ride_durations.py:140-145;
    the parquet lake is the primary source here, this is the live-DB
    adapter).

    Parallelism + pushdown, in order of preference:

    - ``predicates``: one WHERE fragment per Spark partition (the JDBC
      reader issues one query per fragment server-side) — the Spark
      analog of the reference's chunked keyset reads. Fragments must
      form a partition of the rows (disjoint + covering) or rows are
      duplicated/lost.
    - ``partition_column`` + bounds: classic numeric range splitting
      into ``num_partitions`` parallel reads.
    - neither: single-partition read (fine for dim-table-sized loads;
      repartition after if the next stage needs parallelism).

    Catalyst pushes filters and column pruning into the generated SQL
    (``PushedFilters`` shows in ``.explain`` like any V1 source), so a
    ``load_table_jdbc(...).where(...).select(...)`` plan ships the
    WHERE and the column list to the database, not the whole table.
    ``fetchsize`` keeps the driver-side JDBC cursor streaming instead
    of buffering whole result sets (the same concern the reference's
    server-side cursors address)."""
    props = {"fetchsize": str(fetchsize), **(properties or {})}
    if predicates is not None:
        return spark.read.jdbc(url, table, predicates=predicates, properties=props)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and upper_bound")
        return spark.read.jdbc(
            url,
            table,
            column=partition_column,
            lowerBound=lower_bound,
            upperBound=upper_bound,
            numPartitions=num_partitions,
            properties=props,
        )
    return spark.read.jdbc(url, table, properties=props)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: tuple[str, ...] = ("date",), mode: str = "overwrite"
) -> None:
    """Date-partitioned parquet writer — the Spark analog of the
    reference's date-versioned GTFS dimension tables (every GTFS join
    filters ``gtfs_*.date = X``; see SURVEY.md §1.1). Partition pruning
    then replaces Postgres index filters for free."""
    (
        df.write.mode(mode)
        .partitionBy(*partition_cols)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )

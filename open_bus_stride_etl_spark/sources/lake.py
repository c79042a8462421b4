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


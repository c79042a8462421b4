"""Stride lake: the engine's table layer.

Each table the engine writes is declared here once: its name, its path
(``table_path``: ``<base_dir>/<name>.parquet``) and its columns and
types in order (``SCHEMAS``; empty frames and fixtures take
``schema(name)``). ``read_table`` reads with ``.schema(declared)``, so
no read starts a footer-inference job. ``overwrite_table[_observed]``
replaces a snapshot through the engine's one directory publisher,
``fs.publish_parquet`` (write ``<table>.staging``, then swap it in);
``append_table`` adds rows to the append-only tables (the ledger, the
artifact registry, curate's history). Both writers raise before writing
anything when the frame's column names or types differ from the
declaration: a declared read fills a missing column with NULL, so a
renamed or retyped column would otherwise be lost silently.

The reference keeps these tables in PostgreSQL and mutates them with
UPDATEs (SURVEY.md §1.1). Re-running a window converges to the same
state (the reference's ``IS NULL`` todo-marker contract), so a publish
is safe to repeat. Every table is one unpartitioned directory; a
layout partitioned by date would narrow the swap to the affected date
partitions (``partitionBy`` with dynamic partition overwrite), and no
table has needed that yet.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import fs

# Columns and types of every engine-written lake table, in column order.
SCHEMAS = {
    # the stride tables (SURVEY.md §1.3)
    "siri_snapshot": (
        "id long, snapshot_id string, etl_status string, etl_start_time timestamp, "
        "etl_end_time timestamp, error string, "
        "num_successful_parse_vehicle_locations int, num_failed_parse_vehicle_locations int"
    ),
    "siri_route": "id long, operator_ref string, line_ref string",
    "siri_stop": "id long, code string",
    "siri_ride": (
        "id long, siri_route_id long, journey_ref string, vehicle_ref string, "
        "scheduled_start_time timestamp, duration_minutes int, "
        "first_vehicle_location_id long, last_vehicle_location_id long, "
        "updated_first_last_vehicle_locations timestamp, "
        "updated_duration_minutes timestamp, gtfs_ride_id long, "
        "route_gtfs_ride_id long, journey_gtfs_ride_id long, "
        "scheduled_time_gtfs_ride_id long"
    ),
    "siri_ride_stop": (
        "id long, siri_ride_id long, siri_stop_id long, `order` int, "
        "gtfs_stop_id long, nearest_siri_vehicle_location_id long"
    ),
    "siri_vehicle_location": (
        "id long, siri_ride_stop_id long, siri_snapshot_id long, "
        "recorded_at_time timestamp, lat double, lon double, bearing int, "
        "velocity int, distance_from_journey_start int, "
        "distance_from_siri_ride_stop_meters double"
    ),
    "gtfs_stop": "id long, date date, code string, lat double, lon double, city string, name string",
    "gtfs_route": (
        "id long, date date, operator_ref string, line_ref string, agency_name string, "
        "route_short_name string, route_long_name string, route_type string, "
        "route_alternative string, route_direction string, route_mkt string"
    ),
    "gtfs_ride": (
        "id long, gtfs_route_id long, journey_ref string, start_time timestamp, "
        "end_time timestamp, first_gtfs_ride_stop_id long, last_gtfs_ride_stop_id long"
    ),
    "gtfs_ride_stop": (
        "id long, gtfs_ride_id long, gtfs_stop_id long, stop_sequence int, "
        "arrival_time timestamp, departure_time timestamp, drop_off_type int, "
        "pickup_type int, shape_dist_traveled double"
    ),
    # the ledger and the ride aggregations of gtfs-update-ride-aggregations
    "gtfs_data_task": (
        "date date, task_name string, started_at timestamp, completed_at timestamp, "
        "error string, success boolean"
    ),
    "gtfs_rides_agg": (
        "date date, gtfs_route_id long, line_ref string, num_rides long, "
        "first_ride_start timestamp, last_ride_start timestamp"
    ),
    "gtfs_rides_agg_by_hour": (
        "date date, gtfs_route_id long, line_ref string, hour int, num_rides long, "
        "first_ride_start timestamp, last_ride_start timestamp"
    ),
    # the artifact registry (sources/artifacts.py)
    "artifact": (
        "file_prefix string, status string, metadata_json string, error string, "
        "url string, created_at timestamp, file_size long"
    ),
    # llm-curate-corpus history
    "seen_fingerprints": "fingerprint string",
    "lsh_band_index": "doc_id long, fp string, bucket string",
    # the persisted IVF index of llm-build-ann-index
    "centroids": "cluster long, pos int, cq long",
    "assignments": "vec_id long, cluster long",
}


@functools.cache
def schema(name: str) -> StructType:
    """The declared ``StructType`` of table ``name``."""
    return StructType.fromDDL(SCHEMAS[name])


def table_path(base_dir: str, name: str) -> str:
    """``base_dir`` may be a plain path or any Hadoop-FS URI (s3a://…):
    every consumer goes through sources/fs.py for existence/rename."""
    return fs.join_path(base_dir, f"{name}.parquet")


def table_exists(base_dir: str, name: str) -> bool:
    return fs.exists_restoring(table_path(base_dir, name))


def read_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """The table's snapshot, read with its declared schema. A crash
    between the two renames of a previous snapshot swap left only
    ``<table>.old``; it is moved back first, so the next run reads the
    last complete snapshot."""
    path = table_path(base_dir, name)
    fs.exists_restoring(path, spark)
    return spark.read.schema(schema(name)).parquet(path)


def _check_schema(df: DataFrame, name: str) -> None:
    got = [(f.name, f.dataType) for f in df.schema]
    if got != [(f.name, f.dataType) for f in schema(name)]:
        raise ValueError(
            f"{name}: frame columns {df.schema.simpleString()} do not match the "
            f"declared {schema(name).simpleString()}"
        )


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
    _check_schema(df, name)
    return fs.publish_parquet(df, table_path(base_dir, name), metrics)


def append_table(df: DataFrame, base_dir: str, name: str) -> None:
    """Add ``df``'s rows to an append-only table. A replayed append
    after a crash may repeat rows; every reader of these tables is
    duplicate-tolerant (ledger outcomes per date, newest registry row,
    distinct fingerprints and buckets)."""
    _check_schema(df, name)
    df.write.mode("append").parquet(table_path(base_dir, name))

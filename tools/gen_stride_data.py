"""Synthesize a stride-shaped lake at an arbitrary scale, then (optionally)
run the full enrichment DAG against it.

Usage:
    python tools/gen_stride_data.py /tmp/stride_lake 50000        # 50k rides
    python tools/gen_stride_data.py /tmp/stride_lake 50000 --run  # + DAG chain

Everything is generated with DataFrame expressions from ``spark.range``
— no driver-side loops — so the generator itself scales with the
cluster. The shape mirrors tests/stride_fixtures.py: date-versioned GTFS
dims, two GTFS rides per SIRI ride (a +30s tier-1 match and a +4min
tier-5 decoy), NULL-timestamp telemetry rows (nulls-last trap), rides
with no telemetry, and a precondition split between already-processed
and todo rides."""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from open_bus_stride_etl_spark.session import build_session  # noqa: E402
from open_bus_stride_etl_spark.sources import stride_lake as lake  # noqa: E402

N_DATES = 10
N_ROUTES = 200
N_STOPS = 1000
STOPS_PER_RIDE = 5
LOCS_PER_RIDE = 20
EPOCH = "2024-05-01 00:00:00"


def generate(spark: SparkSession, base_dir: str, n_rides: int) -> dict:
    t0 = time.time()
    epoch = F.lit(EPOCH).cast("timestamp")
    day = (F.col("id") % N_DATES).alias("day_idx")

    rides = (
        spark.range(1, n_rides + 1)
        .select(
            F.col("id"),
            (1 + F.col("id") % N_ROUTES).alias("siri_route_id"),
            F.concat(
                F.date_format(F.date_add(F.to_date(epoch), (F.col("id") % N_DATES).cast("int")), "yyyy-MM-dd"),
                F.lit("-"), (10000 + F.col("id")).cast("string")
            ).alias("journey_ref"),
            F.concat(F.lit("v"), F.col("id")).alias("vehicle_ref"),
            (epoch + F.make_interval(days=day.cast("int"),
                                     hours=(5 + F.col("id") % 16).cast("int"),
                                     mins=((F.col("id") * 7) % 60).cast("int"))).alias(
                "scheduled_start_time"
            ),
            F.lit(None).cast("int").alias("duration_minutes"),
            F.lit(None).cast("long").alias("first_vehicle_location_id"),
            F.lit(None).cast("long").alias("last_vehicle_location_id"),
            F.lit(None).cast("timestamp").alias("updated_first_last_vehicle_locations"),
            # 2/3 of rides already processed; 1/3 are the todo set
            F.when(F.col("id") % 3 != 0, epoch).cast("timestamp").alias(
                "updated_duration_minutes"
            ),
            F.lit(None).cast("long").alias("gtfs_ride_id"),
            F.lit(None).cast("long").alias("route_gtfs_ride_id"),
            F.lit(None).cast("long").alias("journey_gtfs_ride_id"),
            F.lit(None).cast("long").alias("scheduled_time_gtfs_ride_id"),
        )
    )
    lake.overwrite_table(rides, base_dir, "siri_ride")

    routes = spark.range(1, N_ROUTES + 1).select(
        "id",
        F.concat(F.lit("op"), (F.col("id") % 20)).alias("operator_ref"),
        F.concat(F.lit("line"), (F.col("id") % 50)).alias("line_ref"),
    )
    lake.overwrite_table(routes, base_dir, "siri_route")

    stops = spark.range(1, N_STOPS + 1).select(
        "id", F.format_string("S%05d", F.col("id")).alias("code")
    )
    lake.overwrite_table(stops, base_dir, "siri_stop")

    ride_stops = (
        rides.select(F.col("id").alias("siri_ride_id"))
        .crossJoin(spark.range(STOPS_PER_RIDE).select(F.col("id").alias("ord")))
        .select(
            ((F.col("siri_ride_id") - 1) * STOPS_PER_RIDE + F.col("ord") + 1).alias("id"),
            "siri_ride_id",
            (1 + (F.col("siri_ride_id") + F.col("ord")) % N_STOPS).alias("siri_stop_id"),
            F.col("ord").cast("int").alias("order"),
            F.lit(None).cast("long").alias("gtfs_stop_id"),
            F.lit(None).cast("long").alias("nearest_siri_vehicle_location_id"),
        )
    )
    lake.overwrite_table(ride_stops, base_dir, "siri_ride_stop")

    locations = (
        rides.select("id", "scheduled_start_time")
        .where(F.col("id") % 17 != 0)  # some rides have no telemetry
        .withColumnRenamed("id", "ride_id")
        .crossJoin(spark.range(LOCS_PER_RIDE).select(F.col("id").alias("j")))
        .select(
            ((F.col("ride_id") - 1) * LOCS_PER_RIDE + F.col("j") + 1).alias("id"),
            ((F.col("ride_id") - 1) * STOPS_PER_RIDE + F.col("j") % STOPS_PER_RIDE + 1).alias(
                "siri_ride_stop_id"
            ),
            (1 + F.col("ride_id") % 100).alias("siri_snapshot_id"),
            # one NULL ts per ride (the nulls-last trap)
            F.when(
                F.col("j") != 2,
                F.col("scheduled_start_time") + F.make_interval(mins=(F.col("j") * 2).cast("int")),
            ).alias("recorded_at_time"),
            F.when(F.col("j") % 19 != 18, 32.0 + (F.col("ride_id") % 100) / 100.0 + F.col("j") / 1e4)
            .alias("lat"),
            (34.7 + (F.col("ride_id") % 100) / 100.0).alias("lon"),
            (F.col("j") * 17 % 360).cast("int").alias("bearing"),
            (F.col("j") * 13 % 90).cast("int").alias("velocity"),
            (F.col("j") * 500).cast("int").alias("distance_from_journey_start"),
            F.lit(None).cast("double").alias("distance_from_siri_ride_stop_meters"),
        )
    )
    lake.overwrite_table(locations, base_dir, "siri_vehicle_location")

    dates = spark.range(N_DATES).select(
        F.date_add(F.to_date(epoch), F.col("id").cast("int")).alias("date")
    )
    gtfs_stops = dates.crossJoin(spark.range(1, N_STOPS + 1).withColumnRenamed("id", "sid")).select(
        (F.datediff("date", F.to_date(epoch)) * N_STOPS + F.col("sid")).alias("id"),
        "date",
        F.format_string("S%05d", F.col("sid")).alias("code"),
        (32.0 + F.col("sid") / 1000.0 + F.datediff("date", F.to_date(epoch)) / 200.0).alias("lat"),
        (34.7 + F.col("sid") / 1000.0).alias("lon"),
        F.concat(F.lit("city"), F.col("sid") % 30).alias("city"),
        F.concat(F.lit("stop "), F.col("sid")).alias("name"),
    )
    lake.overwrite_table(gtfs_stops, base_dir, "gtfs_stop")

    gtfs_routes = dates.crossJoin(
        spark.range(1, N_ROUTES + 1).withColumnRenamed("id", "rid")
    ).select(
        (F.datediff("date", F.to_date(epoch)) * N_ROUTES + F.col("rid")).alias("id"),
        "date",
        F.concat(F.lit("op"), (F.col("rid") % 20)).alias("operator_ref"),
        F.concat(F.lit("line"), (F.col("rid") % 50)).alias("line_ref"),
        F.concat(F.lit("agency"), F.col("rid") % 20).alias("agency_name"),
        F.concat(F.lit("r"), F.col("rid")).alias("route_short_name"),
        F.concat(F.lit("route "), F.col("rid")).alias("route_long_name"),
        F.lit("3").alias("route_type"),
        F.lit("0").alias("route_alternative"),
        F.lit("1").alias("route_direction"),
        F.concat(F.lit("mkt"), F.col("rid")).alias("route_mkt"),
    )
    lake.overwrite_table(gtfs_routes, base_dir, "gtfs_route")

    # two gtfs rides per siri ride: +30s (tier 1) and +4min (tier-5 decoy)
    day_idx = F.datediff(F.to_date("scheduled_start_time"), F.to_date(epoch))
    base_g = rides.select(
        "id", "siri_route_id", "scheduled_start_time",
        (day_idx * N_ROUTES + F.col("siri_route_id")).alias("gtfs_route_id"),
    )
    g1 = base_g.select(
        (F.col("id") * 2 - 1).alias("id"),
        "gtfs_route_id",
        F.concat(
            (10000 + F.col("id")).cast("string"), F.lit("_"),
            F.date_format("scheduled_start_time", "ddMMyy"),
        ).alias("journey_ref"),
        (F.col("scheduled_start_time") + F.expr("INTERVAL 30 SECONDS")).alias("start_time"),
        F.lit(None).cast("timestamp").alias("end_time"),
        F.lit(None).cast("long").alias("first_gtfs_ride_stop_id"),
        F.lit(None).cast("long").alias("last_gtfs_ride_stop_id"),
    )
    g2 = base_g.select(
        (F.col("id") * 2).alias("id"),
        "gtfs_route_id",
        F.concat(F.lit("x"), F.col("id")).alias("journey_ref"),
        (F.col("scheduled_start_time") + F.expr("INTERVAL 4 MINUTES")).alias("start_time"),
        F.lit(None).cast("timestamp").alias("end_time"),
        F.lit(None).cast("long").alias("first_gtfs_ride_stop_id"),
        F.lit(None).cast("long").alias("last_gtfs_ride_stop_id"),
    )
    gtfs_rides = g1.unionByName(g2)
    lake.overwrite_table(gtfs_rides, base_dir, "gtfs_ride")

    gtfs_ride_stops = (
        gtfs_rides.select(F.col("id").alias("gtfs_ride_id"), "start_time")
        .where(F.col("gtfs_ride_id") % 101 != 0)  # some empty gtfs rides
        .crossJoin(spark.range(1, 4).select(F.col("id").alias("seq")))
        .select(
            ((F.col("gtfs_ride_id") - 1) * 3 + F.col("seq")).alias("id"),
            "gtfs_ride_id",
            (1 + (F.col("gtfs_ride_id") + F.col("seq")) % N_STOPS).alias("gtfs_stop_id"),
            F.col("seq").cast("int").alias("stop_sequence"),
            (F.col("start_time") + F.make_interval(mins=(F.col("seq") * 10).cast("int"))).alias(
                "arrival_time"
            ),
            (F.col("start_time") + F.make_interval(mins=(F.col("seq") * 10 + 1).cast("int"))).alias(
                "departure_time"
            ),
            F.lit(0).alias("drop_off_type"),
            F.lit(0).alias("pickup_type"),
            (F.col("seq") * 700.0).alias("shape_dist_traveled"),
        )
    )
    lake.overwrite_table(gtfs_ride_stops, base_dir, "gtfs_ride_stop")

    snaps = spark.range(1, 101).select(
        "id",
        F.date_format(epoch + F.make_interval(mins=F.col("id").cast("int")), "yyyy/MM/dd/HH/mm").alias("snapshot_id"),
        F.when(F.col("id") % 10 != 0, "loaded").otherwise("error").alias("etl_status"),
        (epoch + F.make_interval(mins=F.col("id").cast("int"))).alias("etl_start_time"),
        (epoch + F.make_interval(mins=F.col("id").cast("int"), secs=F.lit(40))).alias("etl_end_time"),
        F.when(F.col("id") % 10 == 0, "boom").alias("error"),
        (100 + F.col("id")).cast("int").alias("num_successful_parse_vehicle_locations"),
        (F.col("id") % 3).cast("int").alias("num_failed_parse_vehicle_locations"),
    )
    lake.overwrite_table(snaps, base_dir, "siri_snapshot")
    return {"gen_sec": round(time.time() - t0, 1)}


def run_chain(spark: SparkSession, base_dir: str, min_date: str, max_date: str) -> dict:
    from open_bus_stride_etl_spark.plans.tasks import run_task  # noqa: PLC0415

    timings = {}
    for name in (
        "siri-add-ride-durations",
        "siri-update-rides-gtfs",
        "siri-update-ride-stops-gtfs",
        "siri-update-ride-stops-vehicle-locations",
        "gtfs-update-ride-aggregations",
    ):
        window = {"min_date": min_date, "max_date": max_date} if name.startswith("siri-") else {}
        timings[name] = run_task(spark, name, base_dir=base_dir, **window)["elapsed_sec"]
    return timings


if __name__ == "__main__":
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("lake_dir")
    p.add_argument("n_rides", nargs="?", type=int, default=10000)
    p.add_argument("--run", action="store_true", help="then run the enrichment DAG chain")
    args = p.parse_args()
    spark = build_session("gen-stride-data")
    print(generate(spark, args.lake_dir, args.n_rides))
    if args.run:
        print(run_chain(spark, args.lake_dir, "2024-05-01", "2024-05-12"))

"""The reference's ETL tasks, re-expressed as pure DataFrame plans over
stride-shaped tables (schemas: FIXTURES.md §B, reconstructed from
/root/reference — citations per function).

Every task is ``(input DataFrames, window params) -> new table
snapshot`` — the Spark analog of the reference's UPDATE-based
enrichment: instead of mutating rows in Postgres, each run recomputes
the enrichment columns for the window and overwrites the affected date
partitions (idempotent: re-running a window converges, matching the
reference's IS NULL todo-marker contract).

Scale notes (100 TB): every join here keys on ride/stop ids or
(code, date); GTFS dimensions are per-date slivers -> broadcast; the
telemetry fact (vehicle locations) is the only big table and it is
aggregated (first/last, argmin) BEFORE joining back to rides, so the
shuffle payload is one row per ride, not per GPS ping.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.argmin_join import nearest_by_distance
from ..operators.banded_join import banded_priority_join
from ..operators.enrich import enrich_update
from ..operators.first_last import ride_durations


def _window(col: str, min_date, max_date, inclusive_max: bool) -> Column:
    lo = F.col(col) >= F.lit(str(min_date)).cast("timestamp")
    hi = (
        F.col(col) <= F.lit(str(max_date)).cast("timestamp")
        if inclusive_max
        else F.col(col) < F.lit(str(max_date)).cast("timestamp")
    )
    return lo & hi


def add_ride_durations(
    rides: DataFrame,
    ride_stops: DataFrame,
    locations: DataFrame,
    min_date: str,
    max_date: str,
    now: Column,
) -> DataFrame:
    """siri/add_ride_durations.py:30-84,110-159 — first/last vehicle
    location per ride (ORDER BY recorded_at_time NULLS LAST) and
    duration minutes, guarded by the 6h settle window and 2d staleness
    cutoff. Window is INCLUSIVE of the max bound (:87-107). Only rides
    with the NULL todo-marker are touched (:141)."""
    todo = rides.where(
        _window("scheduled_start_time", min_date, max_date, inclusive_max=True)
        & F.col("updated_duration_minutes").isNull()
    ).select("id")
    ride_locs = (
        locations.join(
            ride_stops.select(F.col("id").alias("siri_ride_stop_id"), "siri_ride_id"),
            on="siri_ride_stop_id",
        )
        .join(todo.withColumnRenamed("id", "siri_ride_id"), on="siri_ride_id", how="left_semi")
    )
    durs = ride_durations(ride_locs, now=now).withColumnRenamed("siri_ride_id", "id")
    updated = enrich_update(
        rides,
        durs.withColumn("upd_marker", now),
        key="id",
        set_cols={
            "first_vehicle_location_id": "first_vehicle_location_id",
            "last_vehicle_location_id": "last_vehicle_location_id",
            "duration_minutes": "duration_minutes",
            "updated_first_last_vehicle_locations": "upd_marker",
            "updated_duration_minutes": "upd_marker",
        },
    )
    return updated


def update_ride_stops_gtfs(
    ride_stops: DataFrame,
    rides: DataFrame,
    siri_stops: DataFrame,
    gtfs_stops: DataFrame,
    min_date: str,
    max_date: str,
) -> DataFrame:
    """siri/update_ride_stops_gtfs.py:21-51 — set gtfs_stop_id by
    matching siri_stop.code to gtfs_stop.code at the ride's date.
    Precondition gate (:26-28): only rides already processed by
    add-ride-durations (updated_duration_minutes IS NOT NULL). Window is
    HALF-OPEN (:32-33), unlike add_ride_durations."""
    eligible_rides = rides.where(
        _window("scheduled_start_time", min_date, max_date, inclusive_max=False)
        & F.col("updated_duration_minutes").isNotNull()
    ).select(
        F.col("id").alias("siri_ride_id"),
        F.to_date("scheduled_start_time").alias("ride_date"),
    )
    todo = (
        ride_stops.where(F.col("gtfs_stop_id").isNull())
        .join(eligible_rides, on="siri_ride_id")
        .join(
            siri_stops.select(F.col("id").alias("siri_stop_id"), "code"),
            on="siri_stop_id",
        )
    )
    # GTFS stops are a date-versioned dimension: join on (code, date) so
    # each ride sees its own date's version (FIXTURES edge case 6).
    # Per-date dim slices are small -> broadcast.
    matches = todo.join(
        F.broadcast(
            gtfs_stops.select(
                F.col("id").alias("matched_gtfs_stop_id"), "code", F.col("date").alias("ride_date")
            )
        ),
        on=["code", "ride_date"],
        how="inner",
    ).select(F.col("id"), "matched_gtfs_stop_id")
    return enrich_update(
        ride_stops, matches, key="id", set_cols={"gtfs_stop_id": "matched_gtfs_stop_id"}
    )


def update_rides_gtfs(
    rides: DataFrame,
    siri_routes: DataFrame,
    gtfs_routes: DataFrame,
    gtfs_rides: DataFrame,
    min_date: str,
    max_date: str,
) -> DataFrame:
    """siri/update_rides_gtfs.py — the three matching strategies:

    1. route match (:12-28,80-97): same (operator_ref, line_ref) at the
       ride's date, scheduled_start_time within start_time ± {1,3,5} min,
       tightest tier wins -> route_gtfs_ride_id.
    2. journey match (:64-77): gtfs_ride.journey_ref equals the
       rearranged siri journey_ref (split/concat/substr, :72)
       -> journey_gtfs_ride_id.
    3. scheduled-time exact match (:30-44,115-119): exact timestamp
       equality -> scheduled_time_gtfs_ride_id.

    gtfs_ride_id = first available of (route, journey, scheduled)
    (:98-114's sequential guarded UPDATE order). Inclusive window
    (:54-55); precondition updated_duration_minutes IS NOT NULL (:24-26).
    """
    eligible = rides.where(
        _window("scheduled_start_time", min_date, max_date, inclusive_max=True)
        & F.col("updated_duration_minutes").isNotNull()
    )
    g_rides = gtfs_rides.select(
        F.col("id").alias("gride_id"),
        F.col("gtfs_route_id"),
        F.col("journey_ref").alias("g_journey_ref"),
        F.col("start_time"),
    )

    # -- strategy 1: route + banded time tiers ------------------------------
    # Each ride expands only to its COMPATIBLE gtfs_route ids (a small
    # per-ride fan-out via the broadcast dim join); the per-route
    # restriction then rides through the banded join as an EQUALITY key,
    # so candidate pairs are generated by the (time-bin, route) hash join
    # directly. Materializing ride x every-ride-of-the-route pairs first
    # and banding afterwards is quadratic-ish in rides-per-route — at 50k
    # rides that was 49M intermediate rows vs ~100k this way.
    rides_with_groute = (
        eligible.select("id", "siri_route_id", "scheduled_start_time")
        .join(
            siri_routes.select(
                F.col("id").alias("siri_route_id"), "operator_ref", "line_ref"
            ),
            on="siri_route_id",
        )
        .withColumn("ride_date", F.to_date("scheduled_start_time"))
        .join(
            F.broadcast(
                gtfs_routes.select(
                    F.col("id").alias("gtfs_route_id"),
                    "operator_ref",
                    "line_ref",
                    F.col("date").alias("ride_date"),
                )
            ),
            on=["operator_ref", "line_ref", "ride_date"],
        )
        .select("id", "gtfs_route_id", "scheduled_start_time")
    )
    route_match = (
        banded_priority_join(
            rides_with_groute,
            g_rides.select("gride_id", "gtfs_route_id", "start_time"),
            left_ts="scheduled_start_time",
            right_ts="start_time",
            tiers_minutes=[1, 3, 5],
            left_id="id",
            right_id="gride_id",
            extra_eq_keys=["gtfs_route_id"],
        )
        # a ride compatible with several gtfs routes appears once per
        # route; the window already picked one best match per ride id, so
        # the duplicates carry identical match columns — collapse them.
        .select(F.col("id"), F.col("matched_gride_id").alias("route_match_id"))
        .distinct()
    )

    # -- strategy 2: computed journey_ref key --------------------------------
    rearranged = F.concat(
        F.split_part(F.col("journey_ref"), F.lit("-"), F.lit(4)),
        F.lit("_"),
        F.split_part(F.col("journey_ref"), F.lit("-"), F.lit(3)),
        F.split_part(F.col("journey_ref"), F.lit("-"), F.lit(2)),
        F.substring(F.split_part(F.col("journey_ref"), F.lit("-"), F.lit(1)), 3, 2),
    )
    journey_match = (
        eligible.select("id", rearranged.alias("k"))
        .join(g_rides.select("gride_id", F.col("g_journey_ref").alias("k")), on="k")
        .groupBy("id")
        .agg(F.min("gride_id").alias("journey_match_id"))
    )

    # -- strategy 3: exact scheduled time ------------------------------------
    scheduled_match = (
        eligible.select("id", F.col("scheduled_start_time").alias("start_time"))
        .join(g_rides.select("gride_id", "start_time"), on="start_time")
        .groupBy("id")
        .agg(F.min("gride_id").alias("scheduled_match_id"))
    )

    matches = (
        eligible.select("id")
        .join(route_match, "id", "left")
        .join(journey_match, "id", "left")
        .join(scheduled_match, "id", "left")
        .select(
            "id",
            F.col("route_match_id"),
            F.col("journey_match_id"),
            F.col("scheduled_match_id"),
            F.coalesce("route_match_id", "journey_match_id", "scheduled_match_id").alias(
                "best_id"
            ),
        )
    )
    return enrich_update(
        rides,
        matches,
        key="id",
        set_cols={
            "route_gtfs_ride_id": "route_match_id",
            "journey_gtfs_ride_id": "journey_match_id",
            "scheduled_time_gtfs_ride_id": "scheduled_match_id",
            "gtfs_ride_id": "best_id",
        },
    )


def update_ride_stops_vehicle_locations(
    ride_stops: DataFrame,
    rides: DataFrame,
    locations: DataFrame,
    gtfs_stops: DataFrame,
    min_date: str,
    max_date: str,
) -> DataFrame:
    """siri/update_ride_stops_vehicle_locations.py:14-101 — for each ride
    stop (with a matched gtfs stop), the vehicle location of the same
    ride nearest to the stop's coordinates; rows with NULL coords are
    dropped (:19-31). Distance rounds to whole meters (:48)."""
    eligible_rides = rides.where(
        _window("scheduled_start_time", min_date, max_date, inclusive_max=True)
        & F.col("updated_duration_minutes").isNotNull()
    ).select(F.col("id").alias("siri_ride_id"))
    todo = (
        ride_stops.where(
            F.col("nearest_siri_vehicle_location_id").isNull()
            & F.col("gtfs_stop_id").isNotNull()
        )
        .join(eligible_rides, on="siri_ride_id", how="left_semi")
        .join(
            F.broadcast(
                gtfs_stops.select(
                    F.col("id").alias("gtfs_stop_id"),
                    F.col("lat").alias("stop_lat"),
                    F.col("lon").alias("stop_lon"),
                )
            ),
            on="gtfs_stop_id",
        )
        .select(
            F.col("id").alias("ride_stop_id"), "siri_ride_id", "stop_lat", "stop_lon"
        )
    )
    # Candidate points: every location of the stop's ride (the reference
    # scans the ride's ordered locations; here it's an equi-join on ride
    # id then one argmin aggregation).
    cands = todo.join(
        locations.join(
            ride_stops.select(F.col("id").alias("siri_ride_stop_id"), "siri_ride_id"),
            on="siri_ride_stop_id",
        ).select("siri_ride_id", F.col("id").alias("loc_id"), "lat", "lon"),
        on="siri_ride_id",
    )
    nearest = nearest_by_distance(
        cands, "ride_stop_id", "loc_id", "lat", "lon", "stop_lat", "stop_lon"
    ).select(
        F.col("ride_stop_id").alias("id"),
        F.col("nearest_loc_id"),
        F.col("distance_meters"),
    )
    return enrich_update(
        ride_stops,
        nearest,
        key="id",
        set_cols={"nearest_siri_vehicle_location_id": "nearest_loc_id"},
    )


def update_gtfs_ride_aggregations(gtfs_rides: DataFrame, gtfs_ride_stops: DataFrame) -> DataFrame:
    """gtfs/update_ride_aggregations.py:32-51 — per GTFS ride: first/last
    stop by stop_sequence, start_time = first departure, end_time = last
    arrival; rides with no stops keep NULLs (:46-51)."""
    okey_f = F.struct(F.col("stop_sequence"), F.col("id"))
    agg = gtfs_ride_stops.groupBy("gtfs_ride_id").agg(
        F.min_by(F.col("id"), okey_f).alias("first_stop_id"),
        F.max_by(F.col("id"), okey_f).alias("last_stop_id"),
        F.min_by(F.col("departure_time"), okey_f).alias("agg_start_time"),
        F.max_by(F.col("arrival_time"), okey_f).alias("agg_end_time"),
    )
    return enrich_update(
        gtfs_rides,
        agg.withColumnRenamed("gtfs_ride_id", "id"),
        key="id",
        set_cols={
            "first_gtfs_ride_stop_id": "first_stop_id",
            "last_gtfs_ride_stop_id": "last_stop_id",
            "start_time": "agg_start_time",
            "end_time": "agg_end_time",
        },
    )


def gtfs_rides_agg(gtfs_rides: DataFrame, gtfs_routes: DataFrame, by_hour: bool = False) -> DataFrame:
    """The materialized views gtfs_rides_agg / gtfs_rides_agg_by_hour
    (refreshed at siri/update_rides_gtfs.py:130-137; definitions live in
    the DB repo): ride counts per (date, route[, hour]) — recomputed
    in-engine each run (SURVEY.md §2.4 A10)."""
    joined = gtfs_rides.join(
        gtfs_routes.select(F.col("id").alias("gtfs_route_id"), "date", "line_ref"),
        on="gtfs_route_id",
    )
    keys = ["date", "gtfs_route_id", "line_ref"]
    if by_hour:
        joined = joined.withColumn("hour", F.hour("start_time"))
        keys.append("hour")
    return joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("num_rides"),
        F.min("start_time").alias("first_ride_start"),
        F.max("start_time").alias("last_ride_start"),
    )


def siri_flat_export(
    locations: DataFrame,
    ride_stops: DataFrame,
    rides: DataFrame,
    routes: DataFrame,
    stops: DataFrame,
    gtfs_stops: DataFrame,
    hour_start: str,
    hour_end: str,
) -> DataFrame:
    """packagers/siri.py:27-67 — the hourly denormalized export: vehicle
    locations in [hour_start, hour_end) joined through ride stops, rides,
    routes, stops and the GTFS stop dimension into a wide flat
    projection. The per-hour filter prunes the big fact first; dims
    broadcast."""
    locs = locations.where(_window("recorded_at_time", hour_start, hour_end, inclusive_max=False))
    return (
        locs.alias("svl")
        .join(
            ride_stops.alias("srs"),
            F.col("svl.siri_ride_stop_id") == F.col("srs.id"),
            "inner",
        )
        .join(rides.alias("sr"), F.col("srs.siri_ride_id") == F.col("sr.id"), "inner")
        .join(
            F.broadcast(routes.alias("srt")),
            F.col("sr.siri_route_id") == F.col("srt.id"),
            "left",
        )
        .join(
            F.broadcast(stops.alias("sst")),
            F.col("srs.siri_stop_id") == F.col("sst.id"),
            "left",
        )
        .join(
            F.broadcast(gtfs_stops.alias("gst")),
            F.col("srs.gtfs_stop_id") == F.col("gst.id"),
            "left",
        )
        .select(
            F.col("svl.id").alias("location_id"),
            F.col("svl.recorded_at_time").alias("recorded_at_time"),
            F.col("svl.lat").alias("lat"),
            F.col("svl.lon").alias("lon"),
            F.col("svl.bearing").alias("bearing"),
            F.col("svl.velocity").alias("velocity"),
            F.col("svl.distance_from_journey_start").alias("distance_from_journey_start"),
            F.col("srs.id").alias("ride_stop_id"),
            F.col("srs.order").alias("stop_order"),
            F.col("sr.id").alias("ride_id"),
            F.col("sr.journey_ref").alias("journey_ref"),
            F.col("sr.vehicle_ref").alias("vehicle_ref"),
            F.col("sr.scheduled_start_time").alias("scheduled_start_time"),
            F.col("sr.duration_minutes").alias("duration_minutes"),
            F.col("srt.operator_ref").alias("operator_ref"),
            F.col("srt.line_ref").alias("line_ref"),
            F.col("sst.code").alias("stop_code"),
            F.col("gst.lat").alias("stop_lat"),
            F.col("gst.lon").alias("stop_lon"),
            F.col("gst.city").alias("stop_city"),
            F.col("gst.name").alias("stop_name"),
        )
    )

"""Deterministic stride-shaped fixtures (FIXTURES.md §B): small tables
mirroring the reference's logical schema, with the edge cases the golden
semantics need (nulls-last, settle/stale, tier priority, date-versioned
dims, empty groups, precondition gating). Every frame takes its schema
from the table's declaration in sources/stride_lake.py."""

import datetime
import random

from pyspark.sql import Row

from open_bus_stride_etl_spark.sources.stride_lake import schema

D = datetime.datetime
NOW = D(2024, 5, 10, 12, 0, 0)


def build(spark):
    rng = random.Random(42)

    siri_routes = spark.createDataFrame(
        [Row(id=i, operator_ref=f"op{i % 3}", line_ref=f"line{i % 5}") for i in range(1, 11)],
        schema("siri_route"),
    )
    siri_stops = spark.createDataFrame(
        [Row(id=i, code=f"S{i:03d}") for i in range(1, 21)], schema("siri_stop")
    )

    rides = []
    for i in range(1, 31):
        sched = D(2024, 5, 8 + (i % 3), 6 + (i % 12), (i * 7) % 60)
        rides.append(
            Row(
                id=i,
                siri_route_id=1 + (i % 10),
                journey_ref=f"2024-05-{8 + (i % 3):02d}-{10000 + i}",
                vehicle_ref=f"v{i}",
                scheduled_start_time=sched,
                duration_minutes=None,
                first_vehicle_location_id=None,
                last_vehicle_location_id=None,
                updated_first_last_vehicle_locations=None,
                # rides 1..20 already processed by add-ride-durations
                # (precondition gate for downstream tasks)
                updated_duration_minutes=(D(2024, 5, 9) if i <= 20 else None),
                gtfs_ride_id=None,
                route_gtfs_ride_id=None,
                journey_gtfs_ride_id=None,
                scheduled_time_gtfs_ride_id=None,
            )
        )
    siri_rides = spark.createDataFrame(rides, schema("siri_ride"))

    ride_stops = []
    rsid = 0
    for ride_id in range(1, 31):
        for order in range(3):
            rsid += 1
            ride_stops.append(
                Row(
                    id=rsid,
                    siri_ride_id=ride_id,
                    siri_stop_id=1 + ((ride_id + order) % 20),
                    order=order,
                    gtfs_stop_id=None,
                    nearest_siri_vehicle_location_id=None,
                )
            )
    siri_ride_stops = spark.createDataFrame(ride_stops, schema("siri_ride_stop"))

    locs = []
    lid = 0
    for ride_id in range(1, 31):
        base = D(2024, 5, 8 + (ride_id % 3), 6 + (ride_id % 12), (ride_id * 7) % 60)
        n = 5 if ride_id % 7 else 0  # some rides have no telemetry
        for j in range(n):
            lid += 1
            locs.append(
                Row(
                    id=lid,
                    siri_ride_stop_id=(ride_id - 1) * 3 + 1 + (j % 3),
                    siri_snapshot_id=1,
                    # one NULL ts per ride exercises NULLS LAST
                    recorded_at_time=(None if j == 2 else base + datetime.timedelta(minutes=8 * j)),
                    lat=(None if j == 4 and ride_id % 5 == 0 else 32.0 + 0.001 * j + 0.01 * (ride_id % 10)),
                    lon=34.7 + 0.001 * j,
                    bearing=rng.randint(0, 359),
                    velocity=rng.randint(0, 90),
                    distance_from_journey_start=j * 500,
                    distance_from_siri_ride_stop_meters=None,
                )
            )
    siri_vehicle_locations = spark.createDataFrame(locs, schema("siri_vehicle_location"))

    # date-versioned gtfs stops: same code on two dates, different coords
    gtfs_stops = []
    gsid = 0
    for d in (datetime.date(2024, 5, 8), datetime.date(2024, 5, 9), datetime.date(2024, 5, 10)):
        for i in range(1, 21):
            gsid += 1
            gtfs_stops.append(
                Row(
                    id=gsid,
                    date=d,
                    code=f"S{i:03d}",
                    lat=32.0 + 0.01 * i + (0.005 if d.day == 9 else 0.0),
                    lon=34.7 + 0.01 * i,
                    city=f"city{i % 4}",
                    name=f"stop {i}",
                )
            )
    gtfs_stops = spark.createDataFrame(gtfs_stops, schema("gtfs_stop"))

    gtfs_routes = []
    grid = 0
    for d in (datetime.date(2024, 5, 8), datetime.date(2024, 5, 9), datetime.date(2024, 5, 10)):
        for i in range(1, 11):
            grid += 1
            gtfs_routes.append(
                Row(
                    id=grid,
                    date=d,
                    operator_ref=f"op{i % 3}",
                    line_ref=f"line{i % 5}",
                    agency_name=f"agency{i % 3}",
                    route_short_name=f"r{i}",
                    route_long_name=f"route {i}",
                    route_type="3",
                    route_alternative="0",
                    route_direction="1",
                    route_mkt=f"mkt{i}",
                )
            )
    gtfs_routes = spark.createDataFrame(gtfs_routes, schema("gtfs_route"))

    # gtfs rides: for ride i, one gtfs ride at +30s (tier 1) and one at
    # +4min (tier 5) on the SAME route/date -> tier priority check; the
    # journey_ref of gtfs ride 2i matches the rearranged siri ref.
    g_rides = []
    gid = 0
    for i in range(1, 31):
        sched = D(2024, 5, 8 + (i % 3), 6 + (i % 12), (i * 7) % 60)
        route_idx = 1 + (i % 10)  # same position on each date block
        date_block = (8 + (i % 3)) - 8  # 0..2
        groute = date_block * 10 + route_idx
        day, mon, yr = f"{8 + (i % 3):02d}", "05", "24"
        gid += 1
        g_rides.append(
            Row(id=gid, gtfs_route_id=groute,
                journey_ref=f"{10000 + i}_{day}{mon}{yr}",
                start_time=sched + datetime.timedelta(seconds=30),
                end_time=None, first_gtfs_ride_stop_id=None, last_gtfs_ride_stop_id=None)
        )
        gid += 1
        g_rides.append(
            Row(id=gid, gtfs_route_id=groute, journey_ref=f"x{i}",
                start_time=sched + datetime.timedelta(minutes=4),
                end_time=None, first_gtfs_ride_stop_id=None, last_gtfs_ride_stop_id=None)
        )
    gtfs_rides = spark.createDataFrame(g_rides, schema("gtfs_ride"))

    # gtfs ride stops; gtfs ride 6 left empty (empty-group edge case)
    grs = []
    gsid2 = 0
    for gr in range(1, 61):
        if gr == 6:
            continue
        for seq in (1, 2, 3):
            gsid2 += 1
            grs.append(
                Row(
                    id=gsid2,
                    gtfs_ride_id=gr,
                    gtfs_stop_id=1 + ((gr + seq) % 20),
                    stop_sequence=seq,
                    arrival_time=D(2024, 5, 8, 6, 0) + datetime.timedelta(minutes=seq * 10 + gr),
                    departure_time=D(2024, 5, 8, 6, 1) + datetime.timedelta(minutes=seq * 10 + gr),
                    drop_off_type=0,
                    pickup_type=0,
                    shape_dist_traveled=float(seq) * 700.0,
                )
            )
    gtfs_ride_stops = spark.createDataFrame(grs, schema("gtfs_ride_stop"))

    snaps = []
    for i in range(1, 13):
        st = NOW - datetime.timedelta(minutes=70 - 5 * i)  # newest at NOW-10m
        snaps.append(
            Row(
                id=i,
                snapshot_id=st.strftime("%Y/%m/%d/%H/%M"),
                etl_status="loaded" if i % 4 else "error",
                etl_start_time=st,
                etl_end_time=st + datetime.timedelta(seconds=40),
                error=None if i % 4 else "boom",
                num_successful_parse_vehicle_locations=100 + i,
                num_failed_parse_vehicle_locations=i % 3,
            )
        )
    siri_snapshots = spark.createDataFrame(snaps, schema("siri_snapshot"))

    return {
        "siri_snapshot": siri_snapshots,
        "siri_route": siri_routes,
        "siri_stop": siri_stops,
        "siri_ride": siri_rides,
        "siri_ride_stop": siri_ride_stops,
        "siri_vehicle_location": siri_vehicle_locations,
        "gtfs_stop": gtfs_stops,
        "gtfs_route": gtfs_routes,
        "gtfs_ride": gtfs_rides,
        "gtfs_ride_stop": gtfs_ride_stops,
    }

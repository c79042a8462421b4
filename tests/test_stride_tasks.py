"""End-to-end tests of the stride transit task plans (plans/stride.py)
on the deterministic fixtures (tests/stride_fixtures.py), checking the
golden semantics called out in SURVEY.md §7.4: nulls-last argmin, tier
priority, settle/stale guards, date-versioned dims, empty groups,
precondition gating, idempotent publish, freshness/completeness."""

import datetime

import pytest
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.operators.stats import (
    FreshnessError,
    incomplete_dates,
    status_counts,
    validate_freshness,
)
from open_bus_stride_etl_spark.plans import stride
from open_bus_stride_etl_spark.plans.tasks import REGISTRY, run_task, task
from open_bus_stride_etl_spark.sources.csv_package import publish_packages, read_manifest
from tests import stride_fixtures

MIN_D, MAX_D = "2024-05-08", "2024-05-11"


def now_col():
    return F.lit(str(stride_fixtures.NOW)).cast("timestamp")


@pytest.fixture(scope="module")
def tables(spark):
    return stride_fixtures.build(spark)


def test_add_ride_durations(tables):
    out = stride.add_ride_durations(
        tables["siri_ride"],
        tables["siri_ride_stop"],
        tables["siri_vehicle_location"],
        MIN_D,
        MAX_D,
        now=now_col(),
    )
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == set(range(1, 31))  # full snapshot preserved

    # only_if_null: already-processed rides (1..20) keep their marker and
    # stay otherwise untouched.
    assert rows[5]["updated_duration_minutes"] is not None
    assert rows[5]["duration_minutes"] is None

    # todo rides with telemetry: first/last ids set, NULL ts row (j==2,
    # location id base+3) never picked even though its id is mid-range.
    # Ride 22 has 5 locations (ids 101..105 in insertion order); j==2 has
    # NULL ts -> first = j0, last = j3 or j4 by ts.
    loc = {
        (r["siri_ride_stop_id"], r["recorded_at_time"]): r["id"]
        for r in tables["siri_vehicle_location"].collect()
    }
    r22 = rows[22]
    assert r22["first_vehicle_location_id"] is not None
    assert r22["last_vehicle_location_id"] is not None
    assert r22["updated_duration_minutes"] is not None
    # first/last by ts: j=0 -> +0min, last non-null ts j=4 -> +32min,
    # and both settled (fixture NOW is ≥6h after all points) -> 32 min.
    assert r22["duration_minutes"] == 32

    # ride 28 (28 % 7 == 0) has no telemetry -> stays NULL, marker not set
    # by durs rows (no row), so updated_duration_minutes stays NULL.
    assert rows[28]["duration_minutes"] is None

    # idempotency: re-running over the output converges (no changes).
    again = stride.add_ride_durations(
        out, tables["siri_ride_stop"], tables["siri_vehicle_location"], MIN_D, MAX_D, now=now_col()
    )
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in out.collect()}


def test_update_ride_stops_gtfs_date_versioned(tables):
    out = stride.update_ride_stops_gtfs(
        tables["siri_ride_stop"],
        tables["siri_ride"],
        tables["siri_stop"],
        tables["gtfs_stop"],
        MIN_D,
        MAX_D,
    )
    rows = {r["id"]: r for r in out.collect()}
    gstops = {r["id"]: r for r in tables["gtfs_stop"].collect()}
    rides = {r["id"]: r for r in tables["siri_ride"].collect()}
    stops = {r["id"]: r["code"] for r in tables["siri_stop"].collect()}
    rstops = {r["id"]: r for r in tables["siri_ride_stop"].collect()}

    matched = unmatched_gated = 0
    for rs_id, r in rows.items():
        ride = rides[rstops[rs_id]["siri_ride_id"]]
        if ride["updated_duration_minutes"] is None:
            # precondition gate: unprocessed rides' stops stay NULL
            assert r["gtfs_stop_id"] is None
            unmatched_gated += 1
        else:
            assert r["gtfs_stop_id"] is not None
            g = gstops[r["gtfs_stop_id"]]
            # matched on code AND the ride's own date version of the dim
            assert g["code"] == stops[rstops[rs_id]["siri_stop_id"]]
            assert g["date"] == ride["scheduled_start_time"].date()
            matched += 1
    assert matched == 60 and unmatched_gated == 30


def test_update_rides_gtfs_tier_priority_and_strategies(tables):
    out = stride.update_rides_gtfs(
        tables["siri_ride"],
        tables["siri_route"],
        tables["gtfs_route"],
        tables["gtfs_ride"],
        MIN_D,
        MAX_D,
    )
    rows = {r["id"]: r for r in out.collect()}
    for i in range(1, 21):  # eligible rides
        r = rows[i]
        # tier priority: the +30s gtfs ride (odd id 2i-1) beats +4min (2i)
        assert r["route_gtfs_ride_id"] == 2 * i - 1, (i, r)
        # journey-ref rearrangement matches the same gtfs ride
        assert r["journey_gtfs_ride_id"] == 2 * i - 1
        # no exact-timestamp gtfs ride exists (+30s offset) -> NULL
        assert r["scheduled_time_gtfs_ride_id"] is None
        # first-available order: route wins
        assert r["gtfs_ride_id"] == 2 * i - 1
    for i in range(21, 31):  # gated (updated_duration_minutes IS NULL)
        r = rows[i]
        assert r["route_gtfs_ride_id"] is None
        assert r["gtfs_ride_id"] is None


def test_update_ride_stops_vehicle_locations_nearest(tables):
    # needs gtfs_stop_id set first -> chain after update_ride_stops_gtfs
    enriched_stops = stride.update_ride_stops_gtfs(
        tables["siri_ride_stop"],
        tables["siri_ride"],
        tables["siri_stop"],
        tables["gtfs_stop"],
        MIN_D,
        MAX_D,
    )
    out = stride.update_ride_stops_vehicle_locations(
        enriched_stops,
        tables["siri_ride"],
        tables["siri_vehicle_location"],
        tables["gtfs_stop"],
        MIN_D,
        MAX_D,
    )
    rows = {r["id"]: r for r in out.collect()}
    rstops = {r["id"]: r for r in tables["siri_ride_stop"].collect()}
    locs_by_ride = {}
    for r in tables["siri_vehicle_location"].collect():
        ride_id = (r["siri_ride_stop_id"] - 1) // 3 + 1
        locs_by_ride.setdefault(ride_id, []).append(r)

    n_set = 0
    for rs_id, r in rows.items():
        ride_id = rstops[rs_id]["siri_ride_id"]
        if r["nearest_siri_vehicle_location_id"] is not None:
            n_set += 1
            # the chosen location belongs to the same ride and has coords
            chosen = next(
                l for l in locs_by_ride[ride_id] if l["id"] == r["nearest_siri_vehicle_location_id"]
            )
            assert chosen["lat"] is not None and chosen["lon"] is not None
        else:
            # NULL only when gated, no gtfs stop, or ride has no usable telemetry
            assert (
                ride_id > 20
                or not locs_by_ride.get(ride_id)
                or all(l["lat"] is None for l in locs_by_ride[ride_id])
            )
    # eligible rides (1..20) with telemetry: 3 stops each
    expected = sum(
        3 for rid in range(1, 21) if any(l["lat"] is not None for l in locs_by_ride.get(rid, []))
    )
    assert n_set == expected


def test_update_gtfs_ride_aggregations_empty_group(tables):
    out = stride.update_gtfs_ride_aggregations(tables["gtfs_ride"], tables["gtfs_ride_stop"])
    rows = {r["id"]: r for r in out.collect()}
    grs = {}
    for r in tables["gtfs_ride_stop"].collect():
        grs.setdefault(r["gtfs_ride_id"], []).append(r)

    # ride 6 has no stops -> enrich leaves start_time as-is; fixture
    # start_time is non-null (+30s/+4min) so it must be preserved, and
    # first/last stop ids stay NULL.
    assert rows[6]["first_gtfs_ride_stop_id"] is None
    assert rows[6]["last_gtfs_ride_stop_id"] is None

    for gid, stops in grs.items():
        stops.sort(key=lambda s: s["stop_sequence"])
        assert rows[gid]["first_gtfs_ride_stop_id"] == stops[0]["id"]
        assert rows[gid]["last_gtfs_ride_stop_id"] == stops[-1]["id"]


def test_gtfs_rides_agg(tables):
    flat = stride.gtfs_rides_agg(tables["gtfs_ride"], tables["gtfs_route"])
    by_hour = stride.gtfs_rides_agg(tables["gtfs_ride"], tables["gtfs_route"], by_hour=True)
    total = flat.agg(F.sum("num_rides")).collect()[0][0]
    assert total == tables["gtfs_ride"].count() == 60
    assert by_hour.agg(F.sum("num_rides")).collect()[0][0] == 60
    assert "hour" in by_hour.columns and "hour" not in flat.columns


def test_siri_flat_export_window(tables):
    out = stride.siri_flat_export(
        tables["siri_vehicle_location"],
        tables["siri_ride_stop"],
        tables["siri_ride"],
        tables["siri_route"],
        tables["siri_stop"],
        tables["gtfs_stop"],
        "2024-05-08 06:00:00",
        "2024-05-08 07:00:00",
    )
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["recorded_at_time"] is not None
        assert datetime.datetime(2024, 5, 8, 6) <= r["recorded_at_time"] < datetime.datetime(
            2024, 5, 8, 7
        )
        assert r["ride_id"] is not None  # inner spine intact
    # left-joined dims may be null but columns exist
    assert {"stop_city", "stop_name", "operator_ref", "line_ref"} <= set(out.columns)


def test_siri_flat_export_plan_broadcasts_dims(tables):
    """Plan canary for the packager's engine: the three dimension joins
    (routes, stops, gtfs_stops) must carry explicit broadcast hints so
    the hourly export never shuffles the telemetry fact seven ways at
    scale, and nothing in the join tree may degenerate into a
    cartesian/nested-loop product."""
    out = stride.siri_flat_export(
        tables["siri_vehicle_location"],
        tables["siri_ride_stop"],
        tables["siri_ride"],
        tables["siri_route"],
        tables["siri_stop"],
        tables["gtfs_stop"],
        "1970-01-01",
        "9999-01-01",
    )
    plan = out._jdf.queryExecution().explainString(
        out.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # "formatted" mode prints every physical node twice (once in the
    # numbered tree, once in the details section), so 3 broadcast joins
    # = 6 occurrences; a >= 3 threshold would stay green with one of
    # the dimension joins regressed to SortMergeJoin (2 joins -> 4).
    assert plan.count("BroadcastHashJoin") >= 6, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_publish_if_changed_idempotent(tables, tmp_path):
    """publish_packages is effectively-once: created, then skipped for
    the same content under another partitioning, then updated."""
    df = tables["siri_stop"].withColumn("_k", F.lit("pkg"))
    out = str(tmp_path)
    assert publish_packages(df, "_k", out)["created"] == ["pkg"]
    m1 = read_manifest(out, "pkg")
    assert m1["count_of_rows"] == 20
    # same content, different partitioning -> hash equal -> skipped
    assert publish_packages(df.repartition(7), "_k", out)["skipped"] == ["pkg"]
    assert read_manifest(out, "pkg") == m1
    # changed content -> updated with a new hash
    assert publish_packages(df.where(F.col("id") != 1), "_k", out)["updated"] == ["pkg"]
    assert read_manifest(out, "pkg")["hash"] != m1["hash"]
    assert (tmp_path / "pkg.zip").exists() and (tmp_path / "pkg.csv").exists()


def test_stats_validations(spark, tables):
    snaps = spark.createDataFrame(
        [(1, datetime.datetime(2024, 5, 10, 11, 30)), (2, datetime.datetime(2024, 5, 10, 9, 0))],
        "id long, etl_start_time timestamp",
    )
    now = datetime.datetime(2024, 5, 10, 12, 0)
    assert validate_freshness(snaps, now=now) == 1800.0
    with pytest.raises(FreshnessError):  # 3660 s > MAX_AGE_SECONDS
        validate_freshness(snaps, now=datetime.datetime(2024, 5, 10, 12, 31))
    with pytest.raises(FreshnessError):
        validate_freshness(snaps.where(F.col("id") < 0), now=now)  # empty

    counts = status_counts(
        spark.createDataFrame(
            [("loaded",), ("loaded",), ("error",)], "etl_status string"
        ),
        "etl_status",
    )
    assert counts == {"loaded": 2, "error": 1}

    # completeness: one date fully aggregated, one below 90%
    rides = spark.createDataFrame(
        [
            (1, datetime.date(2024, 5, 8), datetime.datetime(2024, 5, 8), datetime.datetime(2024, 5, 8, 1)),
            (2, datetime.date(2024, 5, 8), datetime.datetime(2024, 5, 8), datetime.datetime(2024, 5, 8, 2)),
            (3, datetime.date(2024, 5, 9), None, None),
            (4, datetime.date(2024, 5, 9), datetime.datetime(2024, 5, 9), datetime.datetime(2024, 5, 9, 1)),
        ],
        "id long, date date, start_time timestamp, end_time timestamp",
    )
    bad = incomplete_dates(rides).collect()
    assert [r["date"] for r in bad] == [datetime.date(2024, 5, 9)]
    assert bad[0]["pct_complete"] == 50.0

    # the 90% threshold boundary (FIXTURES.md §B.13): 89% flagged,
    # exactly 90% and 91% not (reference uses strict '< 90')
    def pct_rides(date_day, n_complete, n_total):
        d = datetime.date(2024, 6, date_day)
        t0 = datetime.datetime(2024, 6, date_day)
        return [
            (date_day * 1000 + i, d, t0 if i < n_complete else None,
             t0 if i < n_complete else None)
            for i in range(n_total)
        ]

    boundary = spark.createDataFrame(
        pct_rides(1, 89, 100) + pct_rides(2, 90, 100) + pct_rides(3, 91, 100),
        "id long, date date, start_time timestamp, end_time timestamp",
    )
    flagged = [r["date"] for r in incomplete_dates(boundary).collect()]
    assert flagged == [datetime.date(2024, 6, 1)]


def test_task_registry_window_parsing(spark):
    calls = {}

    @task("t-test", cadence="daily", num_days=2)
    def _t(spark, min_date, max_date):
        calls["window"] = (min_date, max_date)
        return {"n": 1}

    assert "t-test" in REGISTRY
    m = run_task(spark, "t-test", max_date="2024-05-10")
    assert m["task"] == "t-test" and m["n"] == 1
    assert calls["window"] == ("2024-05-08", "2024-05-10")
    # the Airflow 'None' literal quirk: treated as unset
    m2 = run_task(spark, "t-test", min_date="None", max_date="2024-05-10")
    assert calls["window"] == ("2024-05-08", "2024-05-10")

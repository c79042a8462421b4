"""Operator-level tests for the tricky reference semantics (FIXTURES.md
§B edge cases): nulls-last argmin, settle/staleness guards, tier
priority, guarded enrichment, tri-state ledger, argmin-distance ties."""

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.operators.argmin_join import nearest_by_distance
from open_bus_stride_etl_spark.operators.banded_join import banded_priority_join
from open_bus_stride_etl_spark.operators.enrich import enrich_update
from open_bus_stride_etl_spark.operators.first_last import first_last_by, ride_durations
from open_bus_stride_etl_spark.operators.ledger import missing_dates

TS = datetime.datetime


def test_first_last_nulls_last(spark):
    # Ride 1 has a NULL-ts location; it must never win first/last.
    df = spark.createDataFrame(
        [
            Row(ride=1, ts=TS(2024, 1, 1, 10, 0), id=5),
            Row(ride=1, ts=None, id=1),
            Row(ride=1, ts=TS(2024, 1, 1, 12, 0), id=3),
            Row(ride=2, ts=None, id=9),  # all-null group -> NULL first/last
        ]
    )
    out = {r["ride"]: r for r in first_last_by(df, "ride", "ts", ["id"], ["id"]).collect()}
    assert out[1]["first_id"] == 5 and out[1]["last_id"] == 3
    assert out[2]["first_id"] is None and out[2]["last_id"] is None
    assert out[2]["n_rows"] == 1


def test_ride_duration_guards(spark):
    now = TS(2024, 1, 10, 12, 0)
    df = spark.createDataFrame(
        [
            # settled ride: last point 7h before now -> duration 120
            Row(siri_ride_id=1, recorded_at_time=TS(2024, 1, 10, 3, 0), id=1),
            Row(siri_ride_id=1, recorded_at_time=TS(2024, 1, 10, 5, 0), id=2),
            # unsettled ride: last point 1h before now -> NULL duration
            Row(siri_ride_id=2, recorded_at_time=TS(2024, 1, 10, 11, 0), id=3),
            # stale ride: first point 3 days old, last within 6h window
            # is false... last=3d old too -> settled branch wins
            Row(siri_ride_id=3, recorded_at_time=TS(2024, 1, 7, 1, 0), id=4),
        ]
    )
    out = {
        r["siri_ride_id"]: r["duration_minutes"]
        for r in ride_durations(df, now=F.lit(now.isoformat(sep=" ")).cast("timestamp")).collect()
    }
    assert out[1] == 120
    assert out[2] is None
    assert out[3] == 0  # single settled point -> 0 minutes


def test_banded_join_tier_priority(spark):
    # FIXTURES edge case 4: left row matching at ±1 and ±5 takes the ±1.
    left = spark.createDataFrame([Row(lid=1, ts=TS(2024, 1, 1, 12, 0, 0))])
    right = spark.createDataFrame(
        [
            Row(rid=10, ts=TS(2024, 1, 1, 12, 0, 50)),   # within ±1 min
            Row(rid=11, ts=TS(2024, 1, 1, 12, 4, 0)),    # within ±5 min only
            Row(rid=12, ts=TS(2024, 1, 1, 12, 30, 0)),   # outside all tiers
        ]
    )
    out = banded_priority_join(
        left, right, "ts", "ts", [1, 3, 5], left_id="lid", right_id="rid"
    ).collect()
    assert len(out) == 1
    assert out[0]["matched_rid"] == 10 and out[0]["tier"] == 1

    # A ride matching only at ±5 takes it.
    left2 = spark.createDataFrame([Row(lid=2, ts=TS(2024, 1, 1, 13, 0, 0))])
    out2 = banded_priority_join(
        left2, right, "ts", "ts", [1, 3, 5], left_id="lid", right_id="rid"
    ).collect()
    assert out2[0]["matched_rid"] is None  # 26 min away -> unmatched, kept


def test_enrich_update_guarded(spark):
    base = spark.createDataFrame(
        [Row(id=1, v="keep"), Row(id=2, v=None), Row(id=3, v=None)]
    )
    upd = spark.createDataFrame([Row(id=1, nv="clobber"), Row(id=2, nv="set")])
    out = {
        r["id"]: r["v"]
        for r in enrich_update(base, upd, "id", {"v": "nv"}).collect()
    }
    assert out == {1: "keep", 2: "set", 3: None}


def test_missing_dates_tristate(spark):
    # FIXTURES edge case 12: never-attempted ∪ failed ∪ null-success.
    all_units = spark.createDataFrame([Row(date=d) for d in ["a", "b", "c", "d"]])
    ledger = spark.createDataFrame(
        [
            Row(date="b", task_name="t", success=True),
            Row(date="c", task_name="t", success=False),
            Row(date="d", task_name="t", success=None),
        ]
    )
    out = [r["date"] for r in missing_dates(all_units, ledger, task_name="t").collect()]
    assert out == ["d", "c", "a"]  # desc order, 'b' succeeded


def test_missing_dates_any_match_and_other_task(spark):
    # Duplicate ledger attempts: ANY failing/null row keeps the unit
    # (semi-join semantics), even next to a success row; exactly one
    # output row per unit; rows for other tasks are invisible.
    all_units = spark.createDataFrame([Row(date=d) for d in ["a", "b", "c"]])
    ledger = spark.createDataFrame(
        [
            Row(date="a", task_name="t", success=True),
            Row(date="a", task_name="t", success=False),  # retry failed -> redo
            Row(date="b", task_name="t", success=True),
            Row(date="b", task_name="t", success=True),  # double success -> done
            Row(date="c", task_name="other", success=True),  # wrong task -> never ran
        ]
    )
    out = [r["date"] for r in missing_dates(all_units, ledger, task_name="t").collect()]
    assert out == ["c", "a"]


def test_nearest_by_distance_ties_and_nulls(spark):
    df = spark.createDataFrame(
        [
            # two points equidistant from target -> lower id wins
            Row(g=1, id=7, lat=1.0, lon=0.0, tlat=0.0, tlon=0.0),
            Row(g=1, id=4, lat=-1.0, lon=0.0, tlat=0.0, tlon=0.0),
            # NULL coordinates dropped (reference logs-and-skips)
            Row(g=1, id=1, lat=None, lon=0.0, tlat=0.0, tlon=0.0),
            Row(g=2, id=9, lat=None, lon=None, tlat=0.0, tlon=0.0),
        ]
    )
    out = nearest_by_distance(df, "g", "id", "lat", "lon", "tlat", "tlon").collect()
    by_g = {r["g"]: r for r in out}
    assert by_g[1]["nearest_id"] == 4
    assert 2 not in by_g  # group with only invalid rows disappears

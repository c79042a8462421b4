"""First/last-event-per-group aggregation (argmin/argmax by an ordering
column) and the ride-duration semantics built on it.

Reference behavior being re-expressed (SURVEY.md §2.4 A4/A5):
- /root/reference/open_bus_stride_etl/siri/add_ride_durations.py:30-48
  picks the first and last ``siri_vehicle_location`` per ride by
  ``ORDER BY recorded_at_time {ASC|DESC} NULLS LAST`` + first row, then
  :68-84 computes ``duration_minutes = round((last-first)/60)`` guarded
  by a 6-hour settle window and a 2-day staleness cutoff.
- /root/reference/open_bus_stride_etl/gtfs/update_ride_aggregations.py:32-51
  does the same by ``stop_sequence`` for GTFS ride stops.

The reference runs this as a per-ride Python loop with two point queries
per ride (the classic N+1). Here it is ONE distributed aggregation:
``groupBy(key).agg(min_by/max_by)`` — a single shuffle on the group key
with map-side partial aggregation, which scales linearly and has no
driver involvement. min_by/max_by skip rows whose ordering value is NULL,
which is exactly the reference's NULLS LAST + first-row semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# add_ride_durations.py:68-84: a duration is final once the last point is
# SETTLE_HOURS old; a ride still unfinalized after STALE_DAYS gets 0.
SETTLE_HOURS = 6
STALE_DAYS = 2


def first_last_aggs(order_col: str, payload_cols: list[str], tie_cols: list[str]) -> list[Column]:
    """The first/last aggregate list — the one spelling of it, shared by
    ``first_last_by``, the streaming first/last query and
    ``first_last_durations``: the payload of the first and last row by
    ``order_col`` (NULL ordering values ignored), plus min/max of the
    ordering column itself. Ties broken deterministically by ``tie_cols``
    — pass enough columns to pin a unique row, or each per-column
    min_by/max_by may pick payload values from *different* tied rows.

    Aliases: first_<p>/last_<p> for each payload col, min_<order>,
    max_<order>, n_rows.
    """
    # Composite ordering struct => deterministic tiebreak; struct ordering
    # is lexicographic. NULL order_col rows are excluded up front so that
    # min_by/max_by never pick them (NULLS LAST semantics).
    okey = F.when(
        F.col(order_col).isNotNull(), F.struct(F.col(order_col), *[F.col(t) for t in tie_cols])
    )
    aggs: list[Column] = []
    for p in payload_cols:
        aggs.append(F.min_by(F.col(p), okey).alias(f"first_{p}"))
        aggs.append(F.max_by(F.col(p), okey).alias(f"last_{p}"))
    aggs.append(F.min(order_col).alias(f"min_{order_col}"))
    aggs.append(F.max(order_col).alias(f"max_{order_col}"))
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    return aggs


def first_last_by(
    df: DataFrame, group_col: str, order_col: str, payload_cols: list[str], tie_cols: list[str]
) -> DataFrame:
    """Per ``group_col``: ``first_last_aggs``. Output columns: group_col,
    first_<p>/last_<p> for each payload col, min_<order>, max_<order>,
    n_rows."""
    return df.groupBy(group_col).agg(*first_last_aggs(order_col, payload_cols, tie_cols))


def ride_durations(locations: DataFrame, now: Column) -> DataFrame:
    """The add-ride-durations task semantics on a locations DataFrame.

    Mirrors add_ride_durations.py:68-84: duration is only *finalized*
    when the last point settled (older than ``SETTLE_HOURS``); a ride
    seen but unfinalized for more than ``STALE_DAYS`` gets duration 0.

    Returns: ride id, first/last location id, first/last ts,
    duration_minutes (int, NULL when not yet finalizable).
    """
    fl = first_last_by(locations, "siri_ride_id", "recorded_at_time", ["id"], ["id"])
    first_ts = F.col("min_recorded_at_time")
    last_ts = F.col("max_recorded_at_time")
    settled = last_ts < (now - F.expr(f"INTERVAL {SETTLE_HOURS} HOURS"))
    stale = first_ts < (now - F.expr(f"INTERVAL {STALE_DAYS} DAYS"))
    duration = F.round(
        (F.unix_timestamp(last_ts) - F.unix_timestamp(first_ts)) / 60.0
    ).cast("int")
    return fl.select(
        F.col("siri_ride_id"),
        F.col("first_id").alias("first_vehicle_location_id"),
        F.col("last_id").alias("last_vehicle_location_id"),
        first_ts.alias("first_ts"),
        last_ts.alias("last_ts"),
        F.when(settled, duration)
        .when(stale, F.lit(0))
        .otherwise(F.lit(None).cast("int"))
        .alias("duration_minutes"),
    )

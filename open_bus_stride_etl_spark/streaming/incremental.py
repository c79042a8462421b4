"""Structured Streaming variants of the incremental enrichment tasks.

The reference has no streaming runtime — it emulates one with hourly
DAGs re-scanning a trailing ``num_days`` window (SURVEY.md §2.9;
/root/reference/open_bus_stride_etl/siri/cli.py:13,23,33,43). Its
temporal contracts map 1:1 onto Structured Streaming concepts:

| reference mechanism                   | streaming expression            |
|---------------------------------------|---------------------------------|
| hourly re-scan of num_days lookback   | watermark of the same duration  |
| 6h settle guard before finalizing     | event-time timeout / guard expr |
| 2d staleness -> duration 0            | state TTL                       |
| per-hour package min/max/count        | 1h tumbling window aggregation  |

Batch and streaming share the same aggregation expressions
(operators/first_last.py:first_last_aggs), so a query validated against
the DuckDB oracle in batch mode computes identically under
``readStream`` — the Spark unification the reference's cron emulation
was approximating.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.first_last import SETTLE_HOURS

# ---------------------------------------------------------------------------
# Watermarked aggregations (declarative — same exprs as the batch path)
# ---------------------------------------------------------------------------


def stream_hourly_stats(locations: DataFrame) -> DataFrame:
    """Per-hour min/max/count of ``recorded_at_time`` — the packager's
    per-hour bookkeeping (packagers/siri.py:460-482, SURVEY.md §2.4 A9)
    as a tumbling-window aggregation. In append mode an hour emits
    exactly once, when the watermark passes its close — the streaming
    analog of 'package the hour once it has settled' (the reference's
    6h guard)."""
    ts_col = "recorded_at_time"
    return (
        locations.where(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, "2 hours")
        .groupBy(F.window(ts_col, "1 hour").alias("hour_window"))
        .agg(
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.col("hour_window.start").alias("hour_start"),
            "min_ts",
            "max_ts",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: ride lifecycle tracking with settle/stale
# ---------------------------------------------------------------------------

RIDE_STATE_SCHEMA = "first_ts timestamp, last_ts timestamp, first_id long, last_id long, n long"
RIDE_OUTPUT_SCHEMA = (
    "siri_ride_id long, first_vehicle_location_id long, last_vehicle_location_id long, "
    "first_ts timestamp, last_ts timestamp, n_points long, finalized boolean, "
    "duration_minutes int"
)


def _track_ride(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState, settle_hours: int
) -> Iterator[pd.DataFrame]:
    """Per-ride state machine (the reference's add_ride_durations guards,
    siri/add_ride_durations.py:68-84, as explicit streaming state):

    - state = (first_ts, last_ts, first_id, last_id, n) updated per batch;
    - on event-time timeout ``settle_hours`` after the last point, the
      ride FINALIZES: emit duration = round((last-first)/60). A fired
      settle timeout means the ride is settled, and in the batch
      semantics (operators/first_last.py:ride_durations) settled wins
      over stale — the stale-0 branch only covers never-settling rides,
      which cannot reach this code path.
    """
    ride_id = key[0]
    if state.hasTimedOut:
        first_ts, last_ts, first_id, last_id, n = state.get
        duration = round((last_ts - first_ts).total_seconds() / 60.0)
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "siri_ride_id": ride_id,
                    "first_vehicle_location_id": first_id,
                    "last_vehicle_location_id": last_id,
                    "first_ts": first_ts,
                    "last_ts": last_ts,
                    "n_points": n,
                    "finalized": True,
                    "duration_minutes": int(duration),
                }
            ]
        )
        return

    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows[rows["recorded_at_time"].notna()]
    if len(rows):
        # (ts, id)-lexicographic endpoints — the same deterministic
        # tie-break as the batch min_by/max_by(struct(ts, id)) in
        # operators/first_last.py, so equal-timestamp points pick the
        # same endpoint ids regardless of shuffle arrival order.
        srt = rows.sort_values(["recorded_at_time", "id"])
        lo, hi = srt.iloc[0], srt.iloc[-1]
        if state.exists:
            first_ts, last_ts, first_id, last_id, n = state.get
            if (lo["recorded_at_time"], int(lo["id"])) < (first_ts, first_id):
                first_ts, first_id = lo["recorded_at_time"], int(lo["id"])
            if (hi["recorded_at_time"], int(hi["id"])) > (last_ts, last_id):
                last_ts, last_id = hi["recorded_at_time"], int(hi["id"])
            n += len(rows)
        else:
            first_ts, first_id = lo["recorded_at_time"], int(lo["id"])
            last_ts, last_id = hi["recorded_at_time"], int(hi["id"])
            n = len(rows)
        state.update((first_ts, last_ts, first_id, last_id, n))
        state.setTimeoutTimestamp(
            int(last_ts.timestamp() * 1000) + settle_hours * 3600 * 1000
        )
        yield pd.DataFrame(
            [
                {
                    "siri_ride_id": ride_id,
                    "first_vehicle_location_id": first_id,
                    "last_vehicle_location_id": last_id,
                    "first_ts": first_ts,
                    "last_ts": last_ts,
                    "n_points": n,
                    "finalized": False,
                    "duration_minutes": None,
                }
            ]
        )


def stream_ride_tracker(locations_with_ride: DataFrame, watermark: str) -> DataFrame:
    """Custom stateful streaming operator: ``applyInPandasWithState``
    over rides, with event-time timeout implementing the settle guard
    (``SETTLE_HOURS``, read here on the driver so a test's patch reaches
    the Python workers through the closure). Input needs columns
    (siri_ride_id, id, recorded_at_time)."""
    settle_hours = SETTLE_HOURS

    def fn(key, pdfs, state):
        return _track_ride(key, pdfs, state, settle_hours)

    return (
        locations_with_ride.withWatermark("recorded_at_time", watermark)
        .groupBy("siri_ride_id")
        .applyInPandasWithState(
            fn,
            outputStructType=RIDE_OUTPUT_SCHEMA,
            stateStructType=RIDE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

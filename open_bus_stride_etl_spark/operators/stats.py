"""Runtime data-quality checks — the reference's stand-in for tests
(SURVEY.md §5): snapshot freshness, status counts, completeness.

Reference: /root/reference/open_bus_stride_etl/stats/api.py:18-117
(counts + freshness validation, exit 1 when the latest snapshot is older
than 1 hour) and gtfs/update_ride_aggregations.py:58-74 (a GTFS date is
"missing" when <90% of its rides have non-null start/end).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# update_ride_aggregations.py:58-74: a date is complete when at least this
# share of its rides has both a start and an end time.
COMPLETE_PCT = 90.0
# stats/api.py:102-112: the newest snapshot may be at most this old.
MAX_AGE_SECONDS = 3600


class FreshnessError(RuntimeError):
    pass


def latest_snapshot_age_seconds(
    snapshots: DataFrame, now: datetime.datetime | None
) -> float | None:
    """Age of the newest snapshot at ``now`` (None: the current UTC
    time); None when the table is empty."""
    row = snapshots.agg(F.max("etl_start_time").alias("latest")).collect()[0]
    if row["latest"] is None:
        return None
    # naive-UTC to match the tz-naive instants Spark rows collect as
    # (session tz is pinned UTC); utcnow() is deprecated and drifts into
    # naive/aware mixing when callers pass aware datetimes.
    now = now or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    if now.tzinfo is not None:
        now = now.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return (now - row["latest"]).total_seconds()


def validate_freshness(snapshots: DataFrame, now: datetime.datetime | None = None) -> float:
    """Raise FreshnessError when the newest snapshot is older than
    ``MAX_AGE_SECONDS`` (stats/api.py:102-112's exit-1 contract)."""
    age = latest_snapshot_age_seconds(snapshots, now)
    if age is None or age > MAX_AGE_SECONDS:
        raise FreshnessError(
            f"latest snapshot age {age}s exceeds {MAX_AGE_SECONDS}s (or table empty)"
        )
    return age


def status_counts(df: DataFrame, status_col: str) -> dict[str, int]:
    """Counts by status (stats/api.py:48-78's per-filter counts, one
    pass; callers filter ``df`` to the window)."""
    return {
        r[status_col]: r["n"]
        for r in df.groupBy(status_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }


def incomplete_dates(rides: DataFrame) -> DataFrame:
    """Dates whose completeness (rides with both start & end non-null)
    falls below ``COMPLETE_PCT`` -> need reprocessing. One aggregation:
    avg(when(complete,100,0)) per date."""
    complete = F.when(F.col("start_time").isNotNull() & F.col("end_time").isNotNull(), 100.0).otherwise(
        0.0
    )
    return (
        rides.groupBy("date")
        .agg(F.avg(complete).alias("pct_complete"), F.count(F.lit(1)).alias("n_rides"))
        .where(F.col("pct_complete") < COMPLETE_PCT)
        .orderBy(F.col("date").desc())
    )

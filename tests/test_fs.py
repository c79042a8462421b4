"""sources/fs.py: Hadoop-FS URI routing + the bounded-retry policy.

The retry policy mirrors the reference's object-store loop
(packagers/common.py:53-62: quadratic backoff, bounded attempts). The
URI tests drive the REAL Hadoop FileSystem API through `file:` URIs —
the same code path an `s3a://` store takes on a cluster, minus the
network."""

import pytest

from open_bus_stride_etl_spark.sources import fs
from open_bus_stride_etl_spark.sources.artifacts import latest_artifact, register_artifact
from open_bus_stride_etl_spark.sources.stride_lake import (
    overwrite_table,
    read_table,
    schema,
    table_exists,
)


def test_is_uri_and_join():
    assert fs.is_uri("s3a://bucket/key")
    assert fs.is_uri("file:/tmp/x")
    assert fs.is_uri("hdfs://nn:8020/data")
    assert not fs.is_uri("/tmp/x")
    assert not fs.is_uri("relative/path")
    # a colon inside the first segment is not a scheme — these are
    # legal local relative paths and must NOT route to the cluster FS
    assert not fs.is_uri("backup:2024/file")
    assert not fs.is_uri("x:y")
    assert fs.join_path("s3a://b/base/", "t.parquet") == "s3a://b/base/t.parquet"
    assert fs.join_path("/tmp/base", "t.parquet") == "/tmp/base/t.parquet"


def test_local_path_keeps_only_this_hosts_file_uris():
    """A ``file:`` URI with an empty or ``localhost`` authority names an
    absolute path on this host; another host is not a local path."""
    assert fs.local_path("file:///tmp/x") == "/tmp/x"
    assert fs.local_path("file://localhost/tmp/x") == "/tmp/x"
    assert fs.local_path("file:/tmp/x") == "/tmp/x"
    assert fs.local_path("/tmp/x") == "/tmp/x"
    for remote in ("file://elsewhere/tmp/x", "s3a://bucket/x"):
        with pytest.raises(ValueError, match="not a local path"):
            fs.local_path(remote)


def test_with_retries_flaky_then_success():
    calls, sleeps = [], []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise OSError("transient storage error")
        return "ok"

    assert fs.with_retries(flaky, sleep=sleeps.append) == "ok"
    assert len(calls) == 3
    # reference backoff: attempt i sleeps (i*i)/3
    assert sleeps == [pytest.approx(1 / 3), pytest.approx(4 / 3)]


def test_with_retries_exhaustion_raises():
    sleeps = []

    def always_down():
        raise OSError("bucket unreachable")

    with pytest.raises(OSError, match="bucket unreachable"):
        fs.with_retries(always_down, sleep=sleeps.append)
    assert len(sleeps) == 2


def _rides(spark, *ids):
    """``siri_ride`` rows with only ``id`` set."""
    width = len(schema("siri_ride"))
    return spark.createDataFrame([(i,) + (None,) * (width - 1) for i in ids], schema("siri_ride"))


def test_stride_lake_accepts_fs_uri(spark, tmp_path):
    """table snapshot swap through the Hadoop FileSystem API."""
    base = f"file:{tmp_path}"
    df1 = _rides(spark, 1, 2)
    assert not table_exists(base, "siri_ride")
    assert overwrite_table(df1, base, "siri_ride") == 2
    assert table_exists(base, "siri_ride")
    df2 = _rides(spark, 3)
    assert overwrite_table(df2, base, "siri_ride") == 1  # swap over existing
    assert [r["id"] for r in read_table(spark, base, "siri_ride").collect()] == [3]


def test_register_artifact_at_fs_uri(spark, tmp_path):
    src = tmp_path / "pkg.zip"
    src.write_bytes(b"payload-bytes")
    base = f"file:{tmp_path}/store"
    r1 = register_artifact(spark, base, "siri/2024/05", str(src), metadata={"k": 1})
    r2 = register_artifact(spark, base, "siri/2024/05", str(src))
    assert r1["url"].endswith("pkg.zip")
    assert r2["url"].endswith("pkg__1.zip")  # collision probe over Hadoop FS
    assert r1["file_size"] == len(b"payload-bytes")
    latest = latest_artifact(spark, base, "siri/2024/05")
    assert latest is not None and latest["url"] == r2["url"]


def test_compact_parquet_shrinks_and_preserves(spark, tmp_path):
    from open_bus_stride_etl_spark.sources.fs import compact_parquet

    path = str(tmp_path / "many")
    df = spark.range(2000).selectExpr("id", "id * 2 AS v")
    df.repartition(20).write.parquet(path)
    before = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())
    m = compact_parquet(spark, path)
    assert m["files_before"] >= 20 and m["files_after"] == 1
    after = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())
    assert after == before


def test_compact_parquet_sorted_tightens_rowgroups(spark, tmp_path, monkeypatch):
    """sort_cols compaction must leave files whose parquet min/max id
    ranges are disjoint (tight stats -> range pruning), and content
    unchanged."""
    import glob

    import pyarrow.parquet as pq

    monkeypatch.setattr(fs, "COMPACT_TARGET_BYTES", 20_000)
    path = str(tmp_path / "sorted")
    # interleaved writes: every file spans nearly the full id range
    spark.range(4000).selectExpr("CAST(id % 97 AS BIGINT) AS k", "id AS v") \
        .repartition(8).write.parquet(path)
    before = sorted((r["k"], r["v"]) for r in spark.read.parquet(path).collect())
    fs.compact_parquet(spark, path, sort_cols=["k"])
    after = sorted((r["k"], r["v"]) for r in spark.read.parquet(path).collect())
    assert after == before
    ranges = []
    for f in glob.glob(path + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        ks = [md.row_group(i).column(0).statistics for i in range(md.num_row_groups)]
        ranges.append((min(s.min for s in ks), max(s.max for s in ks)))
    ranges.sort()
    assert len(ranges) >= 2, "expected a multi-file sorted layout"
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file key ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_compact_parquet_on_fs_uri(spark, tmp_path):
    """The compaction swap must work through Hadoop-FS URIs (the
    object-store path shape), not only bare local paths."""
    from open_bus_stride_etl_spark.sources.fs import compact_parquet

    path = f"file://{tmp_path}/uri_ds"
    spark.range(500).selectExpr("id", "id % 5 AS g").repartition(10).write.parquet(path)
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())
    m = compact_parquet(spark, path)
    assert m["files_before"] >= 10 and m["files_after"] == 1
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == before


def test_swap_dir_checks_both_renames_and_restores(tmp_path, monkeypatch):
    """swap_dir publishes a staged dir; a failed second rename (Hadoop
    reports it by returning False) puts the original back; a leftover
    ``.old`` from a crash between the renames is moved back by
    exists_restoring, and one from a crash after publishing is replaced."""
    final, staged = tmp_path / "t", tmp_path / "t.tmp"

    def mkdir(path, marker):
        path.mkdir()
        (path / marker).touch()

    mkdir(final, "v1")
    mkdir(staged, "v2")
    real_rename = fs.rename
    monkeypatch.setattr(fs, "rename", lambda s, d, spark=None: s != str(staged) and real_rename(s, d))
    with pytest.raises(OSError):
        fs.swap_dir(str(staged), str(final))
    assert sorted(p.name for p in final.iterdir()) == ["v1"]
    monkeypatch.setattr(fs, "rename", real_rename)

    fs.rename(str(final), str(tmp_path / "t.old"))  # crash between the renames
    assert fs.exists_restoring(str(final)) and (final / "v1").exists()

    mkdir(tmp_path / "t.old", "stale")  # crash after publishing, before cleanup
    fs.swap_dir(str(staged), str(final))
    assert sorted(p.name for p in final.iterdir()) == ["v2"]
    assert not (tmp_path / "t.old").exists()

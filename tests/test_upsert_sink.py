"""Keyed-upsert parquet sink (streaming/upsert_sink.py): latest-wins
merge semantics, idempotent replay, a real multi-micro-batch streaming
run, and the replay of an epoch that crashed between the two
snapshot-swap renames."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.streaming.bounded import run_bounded
from open_bus_stride_etl_spark.streaming.upsert_sink import (
    parquet_upsert_sink,
    upsert_merge,
)


def test_upsert_merge_latest_wins_and_tie_to_batch(spark):
    snap = spark.createDataFrame(
        [Row(k=1, v="old", ver=5), Row(k=2, v="keep", ver=9)],
        "k long, v string, ver long",
    )
    batch = spark.createDataFrame(
        [Row(k=1, v="new", ver=7), Row(k=2, v="stale", ver=3),
         Row(k=2, v="tie-batch", ver=9), Row(k=3, v="ins", ver=1)],
        "k long, v string, ver long",
    )
    got = {r["k"]: (r["v"], r["ver"]) for r in upsert_merge(snap, batch, ["k"], "ver").collect()}
    assert got == {1: ("new", 7), 2: ("tie-batch", 9), 3: ("ins", 1)}
    # None snapshot: batch dedups against itself
    got2 = {r["k"]: r["v"] for r in upsert_merge(None, batch, ["k"], "ver").collect()}
    assert got2 == {1: "new", 2: "tie-batch", 3: "ins"}


def test_streaming_upsert_multi_batch(spark, tmp_path):
    """A real readStream run with maxFilesPerTrigger=1 so the sink sees
    MULTIPLE micro-batches: batch 2's rows must upsert batch 1's."""
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [Row(k=1, v="a", ver=1), Row(k=2, v="b", ver=1)], "k long, v string, ver long"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [Row(k=1, v="a2", ver=2), Row(k=3, v="c", ver=1)], "k long, v string, ver long"
    ).coalesce(1).write.parquet(src + "/f2")
    # flatten the two file-sets into one source dir
    import glob
    import shutil

    os.makedirs(src + "/all")
    for i, f in enumerate(sorted(glob.glob(src + "/f*/part-*.parquet"))):
        shutil.copy(f, src + f"/all/{i:03d}.parquet")

    stream = (
        spark.readStream.schema("k long, v string, ver long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/all")
    )
    run_bounded(stream, parquet_upsert_sink(snap, ["k"], "ver"), str(tmp_path / "ckpt"))
    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(snap).collect()}
    assert got == {1: ("a2", 2), 2: ("b", 1), 3: ("c", 1)}


def test_sink_idempotent_replay(spark, tmp_path):
    snap = str(tmp_path / "snap")
    sink = parquet_upsert_sink(snap, ["k"], "ver")
    b = spark.createDataFrame([Row(k=1, v="x", ver=3)], "k long, v string, ver long")
    sink(b, 0)
    sink(b, 0)  # foreachBatch retry of the same epoch
    rows = spark.read.parquet(snap).collect()
    assert len(rows) == 1 and rows[0]["v"] == "x"


def test_sink_replay_after_crash_between_swap_renames(spark, tmp_path, monkeypatch):
    """A crash after the first rename of the snapshot swap (old snapshot
    moved aside, new one not yet in place), then foreachBatch's replay of
    the same epoch: the replay must merge into the previous snapshot,
    not into an empty one."""

    class Crash(Exception):
        pass

    snap = str(tmp_path / "snap")
    sink = parquet_upsert_sink(snap, ["k"], "ver")
    sink(spark.range(100).selectExpr("id AS k", "'v' AS v", "CAST(1 AS BIGINT) AS ver"), 0)
    batch = spark.createDataFrame([Row(k=100, v="new", ver=1)], "k long, v string, ver long")

    real_rename = os.rename
    calls = []

    def crash_on_second_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise Crash
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second_rename)
    with pytest.raises(Crash):
        sink(batch, 1)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(snap)  # the crash window: no snapshot in place

    sink(batch, 1)  # the replay
    assert spark.read.parquet(snap).count() == 101

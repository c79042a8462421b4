"""Structured Streaming tests: the streaming variants must compute the
same aggregates as the batch operators on the same data, and the custom
stateful ride tracker must accumulate state across micro-batches and
finalize rides via event-time timeout (the settle guard)."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.sources.stride_lake import schema
from open_bus_stride_etl_spark.streaming import incremental as si
from open_bus_stride_etl_spark.streaming.bounded import run_bounded, write_each_batch
from tests import stride_fixtures


@pytest.fixture(scope="module")
def tables(spark):
    return stride_fixtures.build(spark)


@pytest.fixture(scope="module")
def loc_stream_dir(spark, tables, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("loc_stream"))
    tables["siri_vehicle_location"].coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _run(df, mode, tmp_path):
    """Bounded run through the library runner; returns the sink's rows."""
    out = str(tmp_path / "out")
    run_bounded(df, write_each_batch(out, mode), str(tmp_path / "ckpt"), mode)
    return df.sparkSession.read.parquet(out)


def test_stream_hourly_stats_matches_batch(spark, tables, loc_stream_dir, tmp_path):
    stream = spark.readStream.schema(schema("siri_vehicle_location")).parquet(loc_stream_dir)
    out = _run(si.stream_hourly_stats(stream), "complete", tmp_path)
    got = {r["hour_start"]: (r["min_ts"], r["max_ts"], r["n_rows"]) for r in out.collect()}
    batch = (
        tables["siri_vehicle_location"]
        .where(F.col("recorded_at_time").isNotNull())
        .groupBy(F.date_trunc("hour", "recorded_at_time").alias("hour_start"))
        .agg(F.min("recorded_at_time").alias("a"), F.max("recorded_at_time").alias("b"),
             F.count(F.lit(1)).alias("n"))
    )
    want = {r["hour_start"]: (r["a"], r["b"], r["n"]) for r in batch.collect()}
    assert got == want and len(got) > 5


def test_stream_ride_tracker_state_and_finalize(spark, tmp_path, monkeypatch):
    """Three micro-batches: ride 1 accumulates across batches 1-2, then
    finalizes by event-time timeout in batch 3 once the watermark passes
    last_ts + SETTLE_HOURS (patched to 1). Duration = round((last-first)/60) = 30."""
    monkeypatch.setattr(si, "SETTLE_HOURS", 1)
    D = datetime.datetime
    d = str(tmp_path / "stream")
    os.makedirs(d)
    batches = [
        [(1, 1, D(2024, 5, 1, 10, 0)), (2, 1, D(2024, 5, 1, 10, 10))],
        [(3, 1, D(2024, 5, 1, 10, 30)), (10, 2, D(2024, 5, 20, 8, 0))],
        [(11, 2, D(2024, 5, 21, 8, 0))],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "id long, siri_ride_id long, recorded_at_time timestamp"
        ).coalesce(1)
        p = str(tmp_path / f"b{i}")
        df.write.mode("overwrite").parquet(p)
        part = [f for f in os.listdir(p) if f.startswith("part-")][0]
        dst = os.path.join(d, f"{i:02d}.parquet")
        os.rename(os.path.join(p, part), dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))

    stream = (
        spark.readStream.schema("id long, siri_ride_id long, recorded_at_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = _run(
        si.stream_ride_tracker(stream, watermark="10 minutes"),
        "update", tmp_path,
    )
    rows = out.collect()
    snaps = [r for r in rows if r["siri_ride_id"] == 1 and not r["finalized"]]
    # batch 1 snapshot: 2 points; batch 2 snapshot: 3 points (state
    # accumulated across micro-batches)
    assert sorted(r["n_points"] for r in snaps) == [2, 3]
    assert all(r["first_vehicle_location_id"] == 1 for r in snaps)

    fin = [r for r in rows if r["siri_ride_id"] == 1 and r["finalized"]]
    assert len(fin) == 1
    assert fin[0]["last_vehicle_location_id"] == 3
    assert fin[0]["duration_minutes"] == 30


def test_run_task_error_capture(spark, capsys):
    from open_bus_stride_etl_spark.plans.tasks import run_task, task

    @task("t-fails")
    def _boom(spark):
        raise ValueError("nope")

    import json

    import pytest as _pytest

    with _pytest.raises(ValueError):
        run_task(spark, "t-fails")
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    rec = json.loads(out[-1])
    assert rec["task"] == "t-fails" and rec["error"] == "ValueError: nope"


def test_stream_session_windows_match_batch(spark, tables, loc_stream_dir, tmp_path):
    """Native session windows work identically under readStream: the
    complete-mode streaming result equals the batch sessionization."""
    gap = "30 minutes"
    stream = spark.readStream.schema(schema("siri_vehicle_location")).parquet(loc_stream_dir)

    def sessions(df):
        return (
            df.where(F.col("recorded_at_time").isNotNull())
            .groupBy(
                F.session_window("recorded_at_time", gap).alias("w"),
                "siri_ride_stop_id",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "siri_ride_stop_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n"
            )
        )

    got = _run(
        sessions(stream.withWatermark("recorded_at_time", "1 hour")), "complete", tmp_path
    )
    want = sessions(tables["siri_vehicle_location"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_stream_partitions_sizing(spark, tmp_path):
    """State-shuffle width follows the bounded source's byte volume:
    min-clamped for toy inputs, one partition per ~8 MB in between,
    ceiling-clamped at defaultParallelism."""
    from open_bus_stride_etl_spark.plans.q_streaming import _stream_partitions

    d = tmp_path / "src"
    d.mkdir()
    (d / "tiny.parquet").write_bytes(b"x" * 1024)
    assert _stream_partitions(str(d), spark) == 8  # min clamp

    (d / "mid.parquet").write_bytes(b"x" * (96 << 20))
    par = max(8, spark.sparkContext.defaultParallelism)
    assert _stream_partitions(str(d), spark) == min(par, 13)  # ceil(96MB+1KB / 8MB), ceiling-capped

    (d / "big.parquet").write_bytes(b"x" * (900 << 20))
    assert _stream_partitions(str(d), spark) == par  # ceiling binds (125 > cores)


def test_bounded_run_contract(spark, monkeypatch):
    """The harness's zero-row and cleanup contract: a run over an empty
    source returns an empty frame with the declared schema in complete
    and in append mode, and a run that times out raises. After every
    run no checkpoint, output or source temp dir is left under the temp
    root and no streaming query is still active."""
    import tempfile

    from open_bus_stride_etl_spark.plans.q_streaming import _run_stream
    from open_bus_stride_etl_spark.streaming import bounded

    def stream_over(rows):
        src = tempfile.mkdtemp(prefix="contract_src_")
        if rows:
            spark.createDataFrame(rows, "k long, v string").write.mode("overwrite").parquet(src)
        return spark.readStream.schema("k long, v string").parquet(src), src

    before = set(os.listdir(tempfile.gettempdir()))
    for mode, shape in (
        ("complete", lambda s: s.groupBy("k").agg(F.count(F.lit(1)).alias("n"))),
        ("append", lambda s: s.select("k", F.upper("v").alias("v"))),
    ):
        stream, src = stream_over([])
        df = shape(stream)
        out = _run_stream(df, spark, src, mode=mode)
        assert out.count() == 0
        assert [(f.name, f.dataType) for f in out.schema] == [
            (f.name, f.dataType) for f in df.schema
        ]
        assert set(os.listdir(tempfile.gettempdir())) == before, mode
        assert not spark.streams.active

    monkeypatch.setattr(bounded, "TIMEOUT_S", 0.001)
    stream, src = stream_over([(1, "a"), (2, "b")])
    with pytest.raises(TimeoutError):
        _run_stream(stream, spark, src)
    assert set(os.listdir(tempfile.gettempdir())) == before
    assert not spark.streams.active


def test_streaming_dedup_lsh_verdicts(spark, tmp_path):
    """The persisted-index near-dup probe: a stream doc identical to an
    indexed doc hits all 4 bands; a lightly-edited near-dup still hits
    >= 1 band; unrelated prose hits 0 (novel). Runs the REAL streaming
    query path (foreachBatch against a reloaded parquet index) on a
    synthetic corpus written in the test-table layout."""
    import __spark_entry__ as m

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest to hide from every hunter"
    )
    docs = [
        # doc_id % 5 == 0 -> seen index
        (0, base),
        (5, "completely different seed text about spark shuffles and "
            "partition pruning strategies for columnar scan engines"),
        # stream side
        (1, base),                                   # exact copy of doc 0
        (2, base.replace("hunter", "ranger")),       # near-dup of doc 0
        (3, "unrelated short essay regarding the migration patterns of "
            "arctic terns across hemispheres during equinox seasons"),
    ]
    d = tmp_path / "lake"
    d.mkdir()
    # test-table layout: documents.parquet is a single FILE, not a dir
    staged = str(tmp_path / "staged")
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(1).write.parquet(staged)
    part = [f for f in os.listdir(staged) if f.startswith("part-")][0]
    os.rename(os.path.join(staged, part), str(d / "documents.parquet"))
    out = {
        r["doc_id"]: r["n_bands_hit"]
        for r in m.queries()["streaming_dedup_lsh"](spark, str(d)).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1] == 4          # identical -> every band collides
    assert out[2] >= 1          # near-dup -> banding catches it
    assert out[3] == 0          # novel

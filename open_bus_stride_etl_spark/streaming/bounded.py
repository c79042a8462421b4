"""Bounded Structured Streaming runs: one availableNow ``foreachBatch``
query, started, awaited and cleaned up in one place.

Every bounded run in the engine — the oracle-checked ``streaming_*``
queries, the continuous-ingest task and the tests — goes through
``run_bounded``. It processes everything the source holds at start, then
stops. A run that outlives ``TIMEOUT_S`` is stopped and raises: reading
a sink while its query is still writing would return silently partial
rows.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TIMEOUT_S = 600

BatchFn = Callable[[DataFrame, int], None]


def write_each_batch(out_dir: str, mode: str) -> BatchFn:
    """``foreachBatch`` function writing every micro-batch to ``out_dir``
    as parquet: overwrite in ``complete`` mode (each batch is the whole
    result table), append in ``append``/``update`` mode."""
    write_mode = "overwrite" if mode == "complete" else "append"

    def _write(batch: DataFrame, _batch_id: int) -> None:
        batch.write.mode(write_mode).parquet(out_dir)

    return _write


def run_bounded(
    stream: DataFrame, batch_fn: BatchFn, checkpoint: str, mode: str = "append"
) -> None:
    """Run ``stream`` to completion under ``trigger(availableNow=True)``,
    handing each micro-batch to ``batch_fn(batch_df, batch_id)``.
    Raises ``TimeoutError`` (after stopping the query) when the run does
    not finish within ``TIMEOUT_S``; state stores are unloaded on every
    exit path."""
    spark = stream.sparkSession
    try:
        q = (
            stream.writeStream.foreachBatch(batch_fn)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        if not q.awaitTermination(TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"streaming query {q.id} did not finish within {TIMEOUT_S}s; "
                "refusing to read a partial sink"
            )
    finally:
        _unload_state_stores(spark)


def _unload_state_stores(spark: SparkSession) -> None:
    """Deterministically unload every state-store provider held by this
    JVM once a bounded run has finished with its state.

    Why this exists (r7): after a streaming query terminates, each
    executor still holds its ``HDFSBackedStateStoreProvider`` instances
    — including the in-memory ``loadedMaps`` version cache of the
    stream-stream join / aggregation state — until the state-store
    MAINTENANCE tick (default 60 s) notices the query's run id is
    deactivated and unloads them. Harness patterns run bounded
    streaming queries back-to-back (bench min-of-N, scale_probe's
    warm+2, ab_probe rounds), each run under a fresh checkpoint dir =
    a fresh provider set, so provider sets accumulate faster than the
    tick retires them. Measured at sf30 (870 MB of events through the
    click->purchase stream-stream join, local[32], 8 GiB driver): the
    r7 width A/B OOM'd the JVM on its 3rd round (~5th run), and a
    scale_probe session running three streaming queries at two scale
    factors cascaded into STREAM_FAILED with missing shuffle/broadcast
    blocks — the executor side of the same heap exhaustion (this is
    also the likely mechanism of r5's one unreproducible STREAM_FAILED,
    SCALE30.md). ``StateStore.stop()`` unloads all providers and stops
    the maintenance thread; Spark restarts maintenance lazily on the
    next state-store load, so subsequent queries are unaffected (pinned
    by the pytest streaming suite, which runs many queries through one
    session). On a real cluster this call reaches only the driver's own
    JVM — executors unload via the normal maintenance path — which is
    the right scope anyway: local[n] is exactly the topology where
    driver == executor makes the leak fatal, and production clusters
    run long-lived streams rather than churning bounded ones."""
    with contextlib.suppress(Exception):
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()

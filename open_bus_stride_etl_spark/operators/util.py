"""Shared operator plumbing helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Internal-persist lifecycle. Operators like minhash_lsh_pairs persist
# small-by-contract intermediates (candidate pairs, member-pruned shingle
# tables) so multi-consumer subtrees run once. A persisted DataFrame lives
# in the session's CacheManager until explicitly unpersisted — it is NOT
# reclaimed when the Python object is GC'd — so a long-lived session
# (a bench sweep, a scheduler running many tasks) would accumulate dead
# caches and bleed executor storage memory into later queries' working
# set. Operators register every internal persist here; hosts call
# release_cached() at stage boundaries (bench does per measured run,
# run_task per task). GC-tied cleanup was rejected: the caller composes
# the returned frame into larger plans, and the intermediate's Python
# ref dies long before the final action runs. Task-local checkpoints
# (track_checkpoint) ride the same list: a localCheckpoint's blocks are
# likewise kept until a driver GC happens to collect its RDD.
# ---------------------------------------------------------------------------

_TRACKED: list = []  # persisted DataFrames and checkpointed JVM RDDs


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for later release_cached()."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def track_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` and register its blocks for
    release_cached(). Unlike a persist, a released checkpoint cannot
    recompute from lineage: use it only for frames a task body consumes
    before it returns (run_task releases at the task boundary)."""
    df = df.localCheckpoint(eager=True)
    _TRACKED.append(df._jdf.queryExecution().analyzed().rdd())
    return df


def release_cached() -> int:
    """Unpersist every operator-internal cache and task checkpoint
    registered since the last call; returns how many were released. Safe
    to call with a stopped session (errors are swallowed — the JVM cache
    died with the session).
    """
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(False)  # DataFrame or JVM RDD: both take blocking
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure ``df`` has at least ``defaultParallelism`` partitions
    before it enters an Arrow-batch stage (``mapInPandas`` and friends):
    the stage's parallelism IS the partition count, and a small
    single-file parquet scan arrives as ONE partition — which would
    serialize the whole vectorized stage on one core. The round-robin
    shuffle moves only the stage's input columns; on a real multi-file
    table partitions >> cores and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

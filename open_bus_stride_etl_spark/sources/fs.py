"""Filesystem abstraction: any Hadoop-FS URI + bounded retries.

The reference uploads/downloads artifacts against an S3-compatible
object store with a bounded quadratic-backoff retry loop
(/root/reference/open_bus_stride_etl/packagers/common.py:42-62: attempt
i sleeps (i*i)/3 seconds, failures print and retry, exhaustion
surfaces). This module re-expresses that storage edge Spark-first:

- Paths WITHOUT a scheme stay on the local-os fast path (tests,
  single-node runs).
- Paths WITH a scheme (``s3a://``, ``hdfs://``, ``file:/``…) route
  through Hadoop's ``FileSystem`` API via the live JVM gateway — the
  same connector stack the executors use for `spark.read`/`write`, so
  whatever object store the cluster is configured for works here with
  zero vendor code (no boto; credentials/endpoints come from the Hadoop
  conf exactly as they do for the data plane).
- ``with_retries`` wraps any flaky storage call with the reference's
  bounded policy.
- ``publish_parquet`` is the one way a parquet directory (table
  snapshot or task artifact) is replaced: staged write, then
  ``swap_dir``.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")

# RFC-3986 scheme followed by '//' (authority URIs like s3a://bucket) or
# a rooted path (file:/x). A mere colon in the first segment is NOT
# enough: a local relative path like 'backup:2024/file' must stay on
# the os-module path, not silently route to the cluster's default FS.
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]+:(//|/)")

# with_retries' total attempts: one try plus two retries, as the
# reference's loop (packagers/common.py:42-62).
RETRY_ATTEMPTS = 3

# compact_parquet's output file size. Read at call time, so tests
# monkeypatch it.
COMPACT_TARGET_BYTES = 128 << 20


def is_uri(path: str) -> bool:
    """True when the path carries a real scheme prefix (``s3a://…``,
    ``hdfs://…``, ``file:/…``) and should go through Hadoop FS rather
    than the local os module."""
    return _SCHEME_RE.match(path) is not None


def local_path(path: str) -> str:
    """``path`` on the driver's own disk: a ``file:`` URI loses its
    scheme and its empty or ``localhost`` authority, a plain path passes
    through. Any other scheme or host raises ``ValueError``: packages
    and backups are assembled with the os module, which would read
    ``file:/x`` as a relative directory."""
    if path.startswith("file://"):
        host, _, rest = path[7:].partition("/")
        if host not in ("", "localhost"):
            raise ValueError(f"not a local path: {path}")
        return "/" + rest
    if path.startswith("file:"):
        return path[5:]
    if is_uri(path):
        raise ValueError(f"not a local path: {path}")
    return path


def join_path(base: str, *parts: str) -> str:
    if is_uri(base):
        return "/".join([base.rstrip("/"), *[p.strip("/") for p in parts]])
    return os.path.join(base, *parts)


def with_retries(fn: Callable[[], T], sleep: Callable[[float], None] = time.sleep) -> T:
    """Run ``fn`` up to ``RETRY_ATTEMPTS`` times with quadratic backoff
    (attempt i>0 sleeps (i*i)/3 s; packagers/common.py:53-62).
    Re-raises the last error when every attempt fails."""
    last: Exception | None = None
    for i in range(RETRY_ATTEMPTS):
        if i > 0:
            sleep((i * i) / 3)
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — storage edge, retry anything
            last = e
    assert last is not None
    raise last


def _hadoop(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _active_spark(spark: SparkSession | None) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("a SparkSession is required for Hadoop-FS URIs")
    return s


def exists(path: str, spark: SparkSession | None = None) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    fs, jp = _hadoop(_active_spark(spark), path)
    return fs.exists(jp)


def listdir(path: str, spark: SparkSession | None = None) -> list[str]:
    """Names of the entries directly under directory ``path``; empty when
    it does not exist."""
    if not is_uri(path):
        return os.listdir(path) if os.path.isdir(path) else []
    fs, jp = _hadoop(_active_spark(spark), path)
    return [st.getPath().getName() for st in fs.listStatus(jp)] if fs.exists(jp) else []


def mkdirs(path: str, spark: SparkSession | None = None) -> None:
    if not is_uri(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, jp = _hadoop(_active_spark(spark), path)
    fs.mkdirs(jp)


def copy_from_local(src: str, dest: str, spark: SparkSession | None = None) -> None:
    """Upload a local file to ``dest`` (any scheme). Local→local copies
    bypass the JVM."""
    if not is_uri(dest):
        shutil.copyfile(src, dest)
        return
    s = _active_spark(spark)
    fs, jdest = _hadoop(s, dest)
    jsrc = s._jvm.org.apache.hadoop.fs.Path(os.path.abspath(src))
    fs.copyFromLocalFile(False, True, jsrc, jdest)


def file_size(path: str, spark: SparkSession | None = None) -> int:
    if not is_uri(path):
        return os.path.getsize(path)
    fs, jp = _hadoop(_active_spark(spark), path)
    return fs.getFileStatus(jp).getLen()


def rename(src: str, dest: str, spark: SparkSession | None = None) -> bool:
    """Move/rename within ONE filesystem (mixed local/URI raises — a
    schemeless path would silently resolve against the cluster's default
    FS, targeting the wrong store). NOTE: on object stores rename is
    copy+delete, not atomic — single-writer task scheduling (one
    scheduler per table, like the reference's Airflow DAGs) is what makes
    the snapshot swap safe there."""
    if is_uri(src) != is_uri(dest):
        raise ValueError(f"rename across filesystems is not supported: {src} -> {dest}")
    if not is_uri(src):
        os.rename(src, dest)
        return True
    s = _active_spark(spark)
    fs, jsrc = _hadoop(s, src)
    jdest = s._jvm.org.apache.hadoop.fs.Path(dest)
    return fs.rename(jsrc, jdest)


def delete(path: str, spark: SparkSession | None = None) -> None:
    """Remove a file or directory tree; missing paths are a no-op (same
    contract on both branches)."""
    if not is_uri(path):
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)
        return
    fs, jp = _hadoop(_active_spark(spark), path)
    if fs.exists(jp):
        fs.delete(jp, True)


def _parked(final: str) -> str:
    """Where ``swap_dir`` parks the previous ``final`` between its renames."""
    return f"{final.rstrip('/')}.old"


def swap_dir(staged: str, final: str, spark: SparkSession | None = None) -> None:
    """Publish directory ``staged`` at ``final``: old out, new in, delete
    old. The previous ``final`` is parked at ``<final>.old`` between the
    two renames. Both renames are checked — Hadoop's rename reports
    failure by RETURNING false, and an unchecked false would nest
    ``staged`` inside a still-existing ``final`` — and a failed second
    rename puts the original back.

    A crash between the two renames leaves no ``final``, only
    ``<final>.old``; a reader that checks for ``final`` before reading
    calls ``exists_restoring`` instead of ``exists`` to put it back.
    Single writer per ``final`` (see ``rename``)."""
    old = _parked(final)
    had_final = exists(final, spark)
    if had_final:
        delete(old, spark)  # left by a crash after an earlier publish
        if not rename(final, old, spark):
            raise OSError(f"swap failed: could not move {final} -> {old}")
    if not rename(staged, final, spark):
        if had_final:
            rename(old, final, spark)
        raise OSError(f"swap failed: could not move {staged} -> {final}")
    delete(old, spark)


def publish_parquet(
    df: DataFrame, final: str, metrics: dict[str, Column] | None = None
) -> dict:
    """Replace the parquet directory ``final`` with ``df`` — the one way
    the engine publishes a snapshot or artifact. ``df`` is written to the
    sibling ``<final>.staging`` in overwrite mode (a retry after a crash
    overwrites the leftover), then published with ``swap_dir``. Staging
    also lets ``df`` read ``final`` itself: Spark cannot overwrite a path
    its plan is reading.

    The row count, and any extra aggregate ``metrics``, are computed via
    the Observation API IN the write job — one plan execution, no
    read-back count. Returns ``{"rows": n, **metrics}``."""
    staging = f"{final.rstrip('/')}.staging"
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("_rows")] + [
        c.alias(k) for k, c in (metrics or {}).items()
    ]
    df.observe(obs, *aggs).write.mode("overwrite").parquet(staging)
    vals = dict(obs.get)
    n = vals.pop("_rows")
    swap_dir(staging, final, df.sparkSession)
    return {"rows": n, **vals}


def exists_restoring(final: str, spark: SparkSession | None = None) -> bool:
    """``exists(final)``, after first moving back the ``<final>.old`` a
    ``swap_dir`` crashed between its renames left behind."""
    if exists(final, spark):
        return True
    old = _parked(final)
    if not exists(old, spark):
        return False
    if not rename(old, final, spark):
        raise OSError(f"restore failed: could not move {old} -> {final}")
    return True


def compact_parquet(
    spark: SparkSession,
    path: str,
    sort_cols: list | None = None,
) -> dict:
    """Small-file compaction for a parquet dataset directory — the lake
    maintenance pass every streaming/incremental writer eventually
    needs: availableNow micro-batches, per-epoch upserts, and daily
    appends each leave files far below the HDFS/S3-efficient size, and
    scan cost at 100 TB is dominated by file-open overhead once the
    small-file count explodes.

    Rewrites ``path`` to ``ceil(total_bytes / COMPACT_TARGET_BYTES)``
    files (coalesce if shrinking — no shuffle; repartition only if the
    dataset is somehow under-split), optionally sorting rows into the
    new files by ``sort_cols`` so parquet row-group min/max stats stay
    tight for range pruning (a shuffle-range-sort; skip it for pure
    bin-packing). The rewrite is published with ``publish_parquet``.

    Returns {files_before, files_after, bytes_total}. Local-FS and
    Hadoop-FS paths both work."""
    import math  # noqa: PLC0415

    def _data_files(fs, p):
        out = []
        it = fs.listFiles(p, True)  # Hadoop RemoteIterator, not a Python iterable
        while it.hasNext():
            status = it.next()
            name = status.getPath().toString()
            if name.endswith(".parquet") or "/part-" in name:
                out.append((name, status.getLen()))
        return out

    jfs, jpath = _hadoop(spark, path)
    files = _data_files(jfs, jpath) if jfs.exists(jpath) else []
    total = sum(sz for _, sz in files)
    n_before = len(files)
    n_target = max(1, math.ceil(total / COMPACT_TARGET_BYTES))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_target, *sort_cols).sortWithinPartitions(*sort_cols)
    elif n_target < max(n_before, 1):
        out = df.coalesce(n_target)
    else:
        out = df.repartition(n_target)
    publish_parquet(out, path)
    n_after = len(_data_files(jfs, _hadoop(spark, path)[1]))
    return {"files_before": n_before, "files_after": n_after, "bytes_total": total}

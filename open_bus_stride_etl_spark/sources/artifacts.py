"""Artifact registry + storage retention utilities.

Reference behaviors re-expressed:
- /root/reference/open_bus_stride_etl/artifacts/common.py:38-47,91-106 —
  an ``artifact`` registry table (file_prefix, status, metadata_json,
  error, url, created_at, file_size) with "latest artifact for prefix"
  lookups (ORDER BY created_at DESC LIMIT 1, SURVEY.md §2.6 O4);
- :50-74 — collision-avoiding destination probe: try ``name``, then
  ``name__1``.. ``name__29`` until a free slot (S9);
- siri/storage_backup_cleanup.py:46-73 — retention walk: dated dirs
  (YYYY/MM/DD) older than N days are archived to the backup store,
  removed locally, and empty parents pruned (S11).

These are driver-side control-plane utilities (file counts are small);
the data plane stays in Spark. The registry itself is the ``artifact``
lake table (declared in sources/stride_lake.py), so its queries (latest
per prefix, failures, sizes) run as DataFrames.

Storage paths may be plain local paths OR any Hadoop-FS URI (s3a://…):
object-store access goes through sources/fs.py — the cluster's own
connector stack — with the reference's bounded-retry upload policy
(packagers/common.py:42-62).
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from . import fs
from . import stride_lake as lake

# Destination names probe_free_name tries before giving up.
NAME_TRIES = 30
# backup_and_cleanup archives dated dirs older than this many days, as
# the reference's raw-SIRI retention (siri/storage_backup_cleanup.py:48).
RETENTION_DAYS = 7


def read_registry(spark: SparkSession, base_dir: str) -> DataFrame:
    """The ``artifact`` lake table; empty before the first registration."""
    if not lake.table_exists(base_dir, "artifact"):
        return spark.createDataFrame([], lake.schema("artifact"))
    return lake.read_table(spark, base_dir, "artifact")


def probe_free_name(storage_dir: str, name: str, spark: SparkSession | None = None) -> str:
    """First free destination: ``name``, else ``name__1``..; the
    reference's 30-try suffix probe (artifacts/common.py:50-74)."""
    stem, dot, ext = name.partition(".")
    for i in range(NAME_TRIES):
        cand = name if i == 0 else f"{stem}__{i}{dot}{ext}"
        if not fs.exists(fs.join_path(storage_dir, cand), spark):
            return cand
    raise RuntimeError(f"no free artifact slot for {name} after {NAME_TRIES} tries")


def register_artifact(
    spark: SparkSession,
    base_dir: str,
    file_prefix: str,
    src_path: str,
    metadata: dict | None = None,
    now: datetime.datetime | None = None,
) -> Row:
    """Copy ``src_path`` into the artifact store under a collision-free
    name and append a registry row (status=uploaded). The store may be a
    Hadoop-FS URI; the upload runs under the reference's bounded-retry
    policy (packagers/common.py:53-62)."""
    storage = fs.join_path(base_dir, "storage", file_prefix)
    fs.mkdirs(storage, spark)
    dest_name = probe_free_name(storage, os.path.basename(src_path), spark=spark)
    dest = fs.join_path(storage, dest_name)
    fs.with_retries(lambda: fs.copy_from_local(src_path, dest, spark))
    now = now or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    row = (
        file_prefix,
        "uploaded",
        json.dumps(metadata or {}, sort_keys=True),
        None,
        dest,
        now,
        fs.file_size(dest, spark),
    )
    lake.append_table(spark.createDataFrame([row], lake.schema("artifact")), base_dir, "artifact")
    return Row(file_prefix=file_prefix, url=dest, file_size=row[6])


def latest_artifact(spark: SparkSession, base_dir: str, file_prefix: str) -> Row | None:
    """Newest uploaded artifact for a prefix (artifacts/common.py:92-97)."""
    rows = (
        read_registry(spark, base_dir)
        .where((F.col("file_prefix") == file_prefix) & (F.col("status") == "uploaded"))
        .orderBy(F.col("created_at").desc(), F.col("url").desc())
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def backup_and_cleanup(
    root: str,
    backup_dir: str,
    today: datetime.date | None = None,
) -> dict:
    """Retention walk over ``root/YYYY/MM/DD`` directories: archive each
    dated dir older than ``RETENTION_DAYS`` into ``backup_dir`` (same dated
    layout), delete it locally, prune empty parents. Returns metrics."""
    today = today or datetime.date.today()
    cutoff = today - datetime.timedelta(days=RETENTION_DAYS)
    archived = pruned = 0
    for y in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        ydir = os.path.join(root, y)
        if not (y.isdigit() and os.path.isdir(ydir)):
            continue
        for m in sorted(os.listdir(ydir)):
            mdir = os.path.join(ydir, m)
            if not (m.isdigit() and os.path.isdir(mdir)):
                continue
            for d in sorted(os.listdir(mdir)):
                ddir = os.path.join(mdir, d)
                if not (d.isdigit() and os.path.isdir(ddir)):
                    continue
                try:
                    date = datetime.date(int(y), int(m), int(d))
                except ValueError:
                    continue
                if date >= cutoff:
                    continue
                os.makedirs(os.path.join(backup_dir, y, m), exist_ok=True)
                shutil.make_archive(
                    os.path.join(backup_dir, y, m, d), "bztar", ddir
                )
                shutil.rmtree(ddir)
                archived += 1
            if not os.listdir(mdir):
                os.rmdir(mdir)
                pruned += 1
        if not os.listdir(ydir):
            os.rmdir(ydir)
            pruned += 1
    return {"archived_days": archived, "pruned_dirs": pruned}

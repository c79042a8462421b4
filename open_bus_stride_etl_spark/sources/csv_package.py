"""CSV datapackage sink with idempotent (hash-compare) publishing.

Reference behavior (SURVEY.md §2.1 S6/S7, §2.9 X12):
- /root/reference/open_bus_stride_etl/packagers/siri.py:125-137 writes an
  hourly package (res_1.csv + datapackage.json carrying a content hash)
  via the `dataflows` library;
- :150-160 renames to `{base}.csv` / `{base}-metadata.json` and zips;
- :163-203 skips the upload when the destination exists and the content
  hash is unchanged (effectively-once publishing).

Spark re-expression: one DataFrame carries many packages, told apart
by a key column (the hour, for the SIRI packager). ``publish_packages``
runs ONE aggregation that hashes every key, classifies each key against
its manifest, and writes the changed keys in ONE partitioned CSV write
(``partitioned_csv``) — two queries for any number of packages (under
AQE each runs as about 7 jobs, one per query stage), where a
per-package loop pays two queries per package. The write's shuffle is
min(changed keys, defaultParallelism) partitions wide, so the changed
keys are written by that many tasks, not one. The manifest is shaped like the
frictionless `datapackage.json` the reference's `dataflows` dump emits
(top-level `hash`/`count_of_rows`, a `resources[0].schema.fields` list
with datapackage types), so consumers of the reference's packages can
read ours; a `spark_type` annotation per field keeps the round trip
lossless (datapackage's `integer`/`number` erase width and precision).
The hash is ORDER-INSENSITIVE (sum of per-row md5-longs —
functions/hashing.py) because Spark row order is nondeterministic and
the skip-if-unchanged contract must survive re-partitioning. The
stitch/zip step is driver-side on the final small artifact, exactly like
the reference, on a thread pool with one worker per driver core; each
key's manifest is published last, so it is the commit record of its
package.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import zipfile
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import row_hash
from . import fs

# Spark simpleString -> frictionless datapackage field type
# (https://specs.frictionlessdata.io/table-schema/ — public spec).
_SPARK_TO_DP = {
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "datetime",
    "timestamp_ntz": "datetime",
    "tinyint": "integer",
    "smallint": "integer",
    "int": "integer",
    "bigint": "integer",
    "float": "number",
    "double": "number",
    "binary": "string",
}

# frictionless type -> Spark type, for manifests produced by the
# reference (no spark_type annotation). Widest safe member of each class.
_DP_TO_SPARK = {
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "datetime": "timestamp",
    "time": "string",
    "year": "int",
    "integer": "bigint",
    "number": "double",
    "any": "string",
}


def _dp_type(spark_type: str) -> str:
    if spark_type.startswith("decimal"):
        return "number"
    return _SPARK_TO_DP.get(spark_type, "string")


def build_manifest(base_name: str, fields: list[dict], row_count: int, chash: int) -> dict:
    """Frictionless-shaped manifest. ``fields`` entries carry
    {"name", "type": <spark simpleString>}."""
    return {
        "name": base_name,
        "profile": "data-package",
        "hash": chash,
        "count_of_rows": row_count,
        "resources": [
            {
                "name": base_name,
                "path": f"{base_name}.csv",
                "profile": "tabular-data-resource",
                "format": "csv",
                "encoding": "utf-8",
                "schema": {
                    "fields": [
                        {
                            "name": f["name"],
                            "type": _dp_type(f["type"]),
                            "spark_type": f["type"],
                        }
                        for f in fields
                    ]
                },
            }
        ],
    }


def manifest_fields(manifest: dict) -> list[dict]:
    """Normalize a frictionless manifest to [{"name", "type": <spark
    type>}]. Accepts our shape and a reference-produced datapackage.json
    (fields without spark_type)."""
    out = []
    for f in manifest["resources"][0]["schema"]["fields"]:
        if "spark_type" in f:
            spark_type = f["spark_type"]
        elif f.get("type") in _DP_TO_SPARK:  # datapackage vocabulary
            spark_type = _DP_TO_SPARK[f["type"]]
        else:  # a reference type outside _DP_TO_SPARK passes through as is
            spark_type = f.get("type", "string")
        out.append({"name": f["name"], "type": spark_type})
    return out


def load_package(spark, out_dir: str, base_name: str) -> "DataFrame":
    """Read a package back (SURVEY.md §2.1 S4/S5): CSV loaded with an
    all-string schema first (the reference's CAST_TO_STRINGS strategy,
    packagers/siri.py:435-437), then cast per the manifest's field types
    — schema comes from the datapackage contract, never inference.
    Accepts reference-shaped datapackage.json manifests too."""
    manifest = read_manifest(out_dir, base_name)
    if manifest is None:
        raise FileNotFoundError(f"no manifest for {base_name} in {out_dir}")
    fields = manifest_fields(manifest)
    csv_path = os.path.join(out_dir, f"{base_name}.csv")
    all_string = ", ".join(f"`{f['name']}` string" for f in fields)
    # multiLine: string fields containing a newline are RFC-4180-quoted
    # by Spark's writer and span physical lines; without it the reader
    # splits mid-field (r10). Packages are small hourly artifacts, so
    # the unsplittable-file cost of multiLine is irrelevant here.
    raw = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema(all_string)
        .csv(csv_path)
    )
    return raw.select(
        *[F.col(f["name"]).cast(f["type"]).alias(f["name"]) for f in fields]
    )


def read_manifest(out_dir: str, base_name: str) -> dict | None:
    path = os.path.join(fs.local_path(out_dir), f"{base_name}-metadata.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def key_hashes(df: DataFrame, key_col: str) -> dict[str, tuple[int, int]]:
    """ONE aggregation job -> {key: (content_hash, row_count)} for every
    key present in ``df``. The hash is the sum of per-row md5-longs over
    the data columns plus the row count."""
    cols = [c for c in df.columns if c != key_col]
    h = row_hash(*[F.col(c) for c in cols])
    return {
        r[key_col]: ((r["h"] or 0) + r["n"], r["n"])
        for r in df.groupBy(key_col)
        .agg(F.sum(h).alias("h"), F.count(F.lit(1)).alias("n"))
        .collect()
    }


@contextmanager
def partitioned_csv(
    df: DataFrame, key_col: str, keys: list[str]
) -> Iterator[dict[str, list[str]]]:
    """ONE query writes the rows of every key in ``keys`` as CSV shards
    with a header, one directory per key: `repartition(w, key)` routes a
    key to exactly one shuffle partition and `partitionBy(key)` gives it
    its own directory (the key column is not in the shards). The width
    ``w`` is min(len(keys), defaultParallelism): AQE coalesces a
    `repartition(key)` with no count into one partition, so every key
    would be written by a single task, but it keeps an explicit count.
    Yields {key: sorted shard paths}; a key with no rows has none. The
    shards are deleted on exit."""
    width = max(1, min(len(keys), df.sparkSession.sparkContext.defaultParallelism))
    tmp = tempfile.mkdtemp(prefix="csv_parts_")
    try:
        (
            df.where(F.col(key_col).isin(keys))
            .repartition(width, key_col)
            .write.mode("overwrite")
            .option("header", True)
            .partitionBy(key_col)
            .csv(tmp)
        )
        yield {
            k: sorted(glob.glob(os.path.join(tmp, f"{key_col}={k}", "part-*.csv")))
            for k in keys
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stitch_and_zip(
    out_dir: str, key: str, header: bytes, shards: list[str], manifest: dict
) -> None:
    """Publish one package from its CSV shards: the stitched
    `{key}.csv`, a staged manifest, the zip of both, and last the
    manifest itself (``os.replace``), the commit record of the key."""
    csv_path = os.path.join(out_dir, f"{key}.csv")
    with open(csv_path, "wb") as out:
        out.write(header)
        for p in shards:
            with open(p, "rb") as fh:
                fh.readline()  # per-shard header
                shutil.copyfileobj(fh, out)
    mpath = os.path.join(out_dir, f"{key}-metadata.json")
    staged = f"{mpath}.tmp"
    with open(staged, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    zpath = os.path.join(out_dir, f"{key}.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED, compresslevel=9) as zf:
        zf.write(csv_path, f"{key}.csv")
        zf.write(staged, f"{key}-metadata.json")
    os.replace(staged, mpath)


def publish_packages(
    df: DataFrame, key_col: str, out_dir: str, keys: list[str] | None = None
) -> dict[str, list[str]]:
    """Effectively-once publish of one package per key of ``df``:
    `{key}.csv`, `{key}-metadata.json` and `{key}.zip` under ``out_dir``.
    ``keys`` (default: every key present) are classified against their
    manifests (packagers/siri.py:194-202): no manifest and no rows ->
    empty (nothing published), no manifest -> created, same hash ->
    skipped, else updated. Returns the keys per verdict, in ``keys``
    order. ``out_dir`` is a local path or a ``file:`` URI
    (``fs.local_path``).

    Two queries, whatever the number of keys (under AQE each runs as
    several jobs, one per query stage): ``key_hashes``, then one
    ``partitioned_csv`` write of the created and updated keys, whose
    shards the driver stitches. The manifest row count is the
    aggregation's exact count, never a line count of the CSV: a string
    field holding a newline is quoted and spans several physical lines
    (r10). The per-key stitch, manifest, level-9 zip and publish run on
    a thread pool with one worker per driver core (zlib and file copies
    release the GIL); the manifests are built on the calling thread
    first. Each manifest goes to a temp file, the zip is built from it,
    and it is published last with ``os.replace``: a crash anywhere
    before leaves the key with no manifest or its old one, so the next
    run rewrites it. A failure in any key is raised here."""
    out_dir = fs.local_path(out_dir)
    if keys is not None:
        df = df.where(F.col(key_col).isin(keys))
    hashes = key_hashes(df, key_col)
    verdicts: dict[str, list[str]] = {"created": [], "updated": [], "skipped": [], "empty": []}
    for key in sorted(hashes) if keys is None else keys:
        chash, n = hashes.get(key, (0, 0))
        existing = read_manifest(out_dir, key)
        if existing is None:
            verdicts["empty" if n == 0 else "created"].append(key)
        else:
            verdicts["skipped" if existing.get("hash") == chash else "updated"].append(key)
    changed = verdicts["created"] + verdicts["updated"]
    if not changed:
        return verdicts

    cols = [c for c in df.columns if c != key_col]
    fields = [{"name": c, "type": df.schema[c].dataType.simpleString()} for c in cols]
    header = (",".join(cols) + "\n").encode()
    manifests = {}
    for key in changed:
        chash, n = hashes.get(key, (0, 0))
        manifests[key] = build_manifest(key, fields, n, chash)
    os.makedirs(out_dir, exist_ok=True)
    with partitioned_csv(df, key_col, changed) as shards:
        workers = min(len(changed), os.cpu_count() or 1)
        with ThreadPoolExecutor(workers) as pool:
            list(pool.map(
                lambda key: _stitch_and_zip(out_dir, key, header, shards[key], manifests[key]),
                changed,
            ))
    return verdicts

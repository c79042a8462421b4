"""Driver-side parquet footer statistics for task bookkeeping counts.

Several tasks need only METADATA facts about a just-written snapshot —
total rows, the non-null count of one enrichment column (the
reference's ``IS NULL`` todo-marker bookkeeping), or the range of a
timestamp column (the package sweep's hour bounds). All are exact in
every parquet footer: ``num_rows`` per row group is mandatory, the
column chunk statistics' ``null_count`` is written by Spark's writer
for every supported type, and the min/max of an INT64 column (a long,
or a TIMESTAMP_MICROS timestamp) is its exact value, never truncated.
Reading footers is O(files) driver-side I/O — no Spark job, no data
pages — which is also the right shape at scale
(the pre-r9 alternative scanned the full column; an Observation on the
write was measured a WASH locally and a pruning LOSS at scale, because
the CollectMetrics barrier blocks column pruning of the input scan —
see OPTIMIZATION_r09.md "Measured NEGATIVES").

Every helper returns ``None`` when it cannot answer EXACTLY —
non-local path (object-store lakes go through the Spark fallback at
the call site), missing file, missing statistics — so callers always
fall back to the scan job and results never depend on stats presence.
"""

from __future__ import annotations

import json
import os

from . import fs


def _local_dir(path: str) -> str | None:
    """Local filesystem directory for ``path``, or None for any other
    scheme (s3a://…, hdfs://…) — those take the Spark fallback."""
    try:
        path = fs.local_path(path)
    except ValueError:
        return None
    return path if os.path.isdir(path) else None


def _part_files(d: str) -> list[str]:
    """The part files of a flat parquet dir. Raises on a visible
    subdirectory: a partitioned table's files are not all listed here,
    so the callers' answer would not be exact."""
    names = [f for f in os.listdir(d) if not f.startswith((".", "_"))]
    if any(os.path.isdir(os.path.join(d, f)) for f in names):
        raise ValueError(f"{d} has subdirectories")
    return [os.path.join(d, f) for f in names if f.endswith(".parquet")]


def row_count(path: str) -> int | None:
    """Total rows of a parquet dir from footer metadata, or None."""
    d = _local_dir(path)
    if d is None:
        return None
    try:
        import pyarrow.parquet as pq  # noqa: PLC0415

        return sum(pq.ParquetFile(f).metadata.num_rows for f in _part_files(d))
    except Exception:  # noqa: BLE001 — any surprise -> exact Spark fallback
        return None


def nonnull_count(path: str, col: str) -> int | None:
    """Non-null count of one top-level column from footer statistics
    (sum over row groups of ``num_rows - null_count``), or None when any
    chunk lacks a null_count. A part file whose schema omits the column
    contributes 0 (all-null under schema merge)."""
    d = _local_dir(path)
    if d is None:
        return None
    try:
        import pyarrow.parquet as pq  # noqa: PLC0415

        total = 0
        for f in _part_files(d):
            md = pq.ParquetFile(f).metadata
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                found = False
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    if c.path_in_schema == col:
                        st = c.statistics
                        if st is None or not st.has_null_count:
                            return None
                        total += rg.num_rows - st.null_count
                        found = True
                        break
                if not found and any(
                    c.path_in_schema.startswith(col + ".")
                    for c in (rg.column(j) for j in range(rg.num_columns))
                ):
                    # nested column: null_count of the leaves does not
                    # equal the struct's null count — cannot answer
                    return None
        return total
    except Exception:  # noqa: BLE001
        return None


def _exact_int64(st) -> bool:
    """True when ``st`` (column chunk statistics) holds the exact range
    of Spark's internal value: an INT64 column with no annotation (a
    long) or annotated as a microsecond timestamp."""
    if st.physical_type != "INT64":
        return False
    lt = json.loads(st.logical_type.to_json())
    return lt["Type"] == "None" or (
        lt["Type"] == "Timestamp" and lt["timeUnit"] == "microseconds"
    )


def min_max(path: str, col: str) -> tuple[int, int] | None:
    """(min, max) of one top-level INT64 column from footer statistics,
    as Spark's internal value (microseconds since the epoch for a
    timestamp), or None. Row groups with no rows or only NULLs in
    ``col``, and part files whose schema omits it, are skipped, as
    Spark's ``min``/``max`` skip NULLs. None when no value is non-null,
    or when any chunk that holds values lacks exact statistics."""
    d = _local_dir(path)
    if d is None:
        return None
    try:
        import pyarrow.parquet as pq  # noqa: PLC0415

        lo = hi = None
        for f in _part_files(d):
            md = pq.ParquetFile(f).metadata
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                if rg.num_rows == 0:
                    continue
                chunks = [rg.column(j) for j in range(rg.num_columns)]
                chunk = next((c for c in chunks if c.path_in_schema == col), None)
                if chunk is None:
                    if any(c.path_in_schema.startswith(col + ".") for c in chunks):
                        return None  # nested column
                    continue
                st = chunk.statistics
                if st is None or not _exact_int64(st):
                    return None
                if not st.has_min_max:
                    if st.has_null_count and st.null_count == rg.num_rows:
                        continue  # all NULL
                    return None
                lo = st.min_raw if lo is None else min(lo, st.min_raw)
                hi = st.max_raw if hi is None else max(hi, st.max_raw)
        return None if lo is None else (lo, hi)
    except Exception:  # noqa: BLE001
        return None

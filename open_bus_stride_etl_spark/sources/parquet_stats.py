"""Driver-side parquet footer statistics for task bookkeeping counts.

Several tasks need only METADATA facts about a just-written snapshot —
total rows, or the non-null count of one enrichment column (the
reference's ``IS NULL`` todo-marker bookkeeping). Both are exact in
every parquet footer: ``num_rows`` per row group is mandatory, and the
column chunk statistics' ``null_count`` is written by Spark's writer
for every supported type. Reading footers is O(files) driver-side I/O
— no Spark job, no data pages — which is also the right shape at scale
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
    return [
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


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

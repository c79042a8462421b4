"""Deterministic, engine-portable hashing.

The reference skips re-uploading an hourly package when the frictionless
datapackage content hash is unchanged
(/root/reference/open_bus_stride_etl/packagers/siri.py:140-147,194-202).
Under Spark's nondeterministic row order that contract needs an
ORDER-INSENSITIVE hash: we sum per-row md5-derived longs, which is
commutative, distributed-friendly, and reproducible across engines
(DuckDB computes the identical value — md5 is standard; xxhash64 is not).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hex_to_long(hexstr: Column) -> Column:
    """Hex chars -> non-negative bigint. Use <= 10 hex chars (2^40) for
    values that will be SUMmed: a 2^40-bounded term keeps a bigint sum
    exact up to ~8M rows per aggregation and safely off int64 overflow
    (engines disagree on overflow: Spark wraps, DuckDB widens to hugeint)."""
    return F.conv(hexstr, 16, 10).cast("long")


def row_md5(*cols: Column) -> Column:
    """Canonical per-row hash: md5 over '|'-joined string forms with an
    explicit NULL sentinel (concat_ws drops nulls silently, which would
    collide 'a,NULL' with 'a')."""
    safe = [F.coalesce(c.cast("string"), F.lit("\x00NULL\x00")) for c in cols]
    return F.md5(F.concat_ws("|", *safe))


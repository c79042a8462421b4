"""Deterministic, engine-portable hashing: the one md5-long format both
engines compute bit for bit.

The reference skips re-uploading an hourly package when the frictionless
datapackage content hash is unchanged
(/root/reference/open_bus_stride_etl/packagers/siri.py:140-147,194-202).
Under Spark's nondeterministic row order that contract needs an
ORDER-INSENSITIVE hash: we sum per-row md5-derived longs, which is
commutative, distributed-friendly, and reproducible across engines
(DuckDB computes the identical value — md5 is standard; xxhash64 is not).

Every helper comes twice: a Spark ``Column`` and its DuckDB SQL twin.
A query, operator or oracle that needs an md5-long calls these; the
format (md5 hex, first ``n_hex`` chars, parsed as a BIGINT) is written
nowhere else.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_NULL = "\x00NULL\x00"
_NULL_SQL = "chr(0) || 'NULL' || chr(0)"


def md5_long(s: Column | str, n_hex: int = 10) -> Column:
    """The first ``n_hex`` hex chars of md5(s) as a non-negative bigint.
    Keep the default 10 (2^40) for values that will be SUMmed: a
    2^40-bounded term keeps a bigint sum exact up to ~8M rows per
    aggregation and safely off int64 overflow (engines disagree on
    overflow: Spark wraps, DuckDB widens to hugeint). At most 15 chars
    fit a signed bigint."""
    return F.conv(F.substring(F.md5(s), 1, n_hex), 16, 10).cast("long")


def md5_long_sql(expr: str, n_hex: int = 10) -> str:
    """DuckDB twin of ``md5_long``; ``expr`` must be a VARCHAR expression."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {n_hex})) AS BIGINT)"


def row_hash(*cols: Column) -> Column:
    """Canonical per-row md5-long: md5 over '|'-joined string forms with
    an explicit NULL sentinel (concat_ws drops nulls silently, which
    would collide 'a,NULL' with 'a')."""
    safe = [F.coalesce(c.cast("string"), F.lit(_NULL)) for c in cols]
    return md5_long(F.concat_ws("|", *safe))


def row_hash_sql(*exprs: str) -> str:
    """DuckDB twin of ``row_hash``."""
    safe = [f"COALESCE(CAST({e} AS VARCHAR), {_NULL_SQL})" for e in exprs]
    return md5_long_sql(" || '|' || ".join(safe))

"""Enrichment update: the reference's ``UPDATE ... FROM`` write pattern.

Reference: /root/reference/open_bus_stride_etl/siri/update_ride_stops_gtfs.py
:41-51 and siri/update_rides_gtfs.py:69-77 write join results back as
UPDATEs of nullable columns, with ``IS NULL`` as the "not yet processed"
marker (SURVEY.md §1.1). Spark has no in-place update; the idiomatic
equivalent is join-and-coalesce producing a new snapshot of the table
(or an overwritten date partition). Re-running the same window converges
to the same state — the reference's idempotency contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_update(
    base: DataFrame,
    updates: DataFrame,
    key: str,
    set_cols: dict[str, str],
) -> DataFrame:
    """Left-join ``updates`` onto ``base`` by ``key`` and set each
    ``base[target] = updates[source]``.

    Reproduces the reference's guarded UPDATEs (later tiers only touch
    still-unmatched rows): an existing non-null value wins over the
    update. Column order and non-targeted columns are
    preserved, so the output is a drop-in new snapshot of ``base``.
    """
    upd = updates.select(
        F.col(key),
        *[F.col(src).alias(f"_new_{tgt}") for tgt, src in set_cols.items()],
    )
    joined = base.join(upd, on=key, how="left")
    out_cols = []
    for c in base.columns:
        if c in set_cols:
            out_cols.append(F.coalesce(F.col(c), F.col(f"_new_{c}")).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)

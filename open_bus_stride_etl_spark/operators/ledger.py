"""Idempotent run-ledger: which (date, task) units still need processing.

Reference: /root/reference/open_bus_stride_etl/idempotent_process_gtfs_data.py
:95-109 — "missing" dates are (dates with no ledger row for the task)
UNION (dates whose ledger row has ``success IS FALSE OR success IS NULL``),
ordered descending. Anti-join ∪ filtered-join, exactly as SQL tri-state
boolean logic demands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def missing_dates(
    all_units: DataFrame,
    ledger: DataFrame,
    task_name: str | None = None,
) -> DataFrame:
    """Dates that need (re)processing for ``task_name``: never attempted,
    or attempted without recorded success (tri-state: false OR null).

    One left join expresses the whole tri-state rule (the original
    anti-join ∪ filtered-semi-join formulation walked both inputs
    twice — 8 scans in the registered query's plan). A presence marker
    distinguishes "no ledger row" from "ledger row with NULL success",
    both of which read as NULL after the outer join; any failing row
    keeps the unit (the semi-join's any-match semantics), and the
    final distinct collapses duplicate ledger attempts."""
    led = ledger
    if task_name is not None:
        led = led.where(F.col("task_name") == F.lit(task_name))
    j = all_units.select("date").join(
        led.select("date", "success").withColumn("_present", F.lit(True)),
        on="date",
        how="left",
    )
    return (
        j.where(
            F.col("_present").isNull()
            | F.col("success").isNull()
            | (F.col("success") == F.lit(False))
        )
        .select("date")
        .distinct()
        .orderBy(F.col("date").desc())
    )

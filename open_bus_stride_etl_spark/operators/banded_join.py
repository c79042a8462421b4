"""Tiered banded interval join ("match within ±N minutes, tightest tier
wins") — the hardest operator in the reference.

Reference: /root/reference/open_bus_stride_etl/siri/update_rides_gtfs.py
:12-28 matches a SIRI ride to a GTFS ride when ``scheduled_start_time``
falls within ``start_time ± N minutes``; :80-97 tries N = 1, 3, 5 as
sequential UPDATEs where later tiers only touch still-unmatched rows
(first-match-wins priority).

Spark-first re-expression: ONE join + ONE window function instead of
three sequential passes. Priority = ``row_number() OVER (PARTITION BY
left_key ORDER BY tier, |Δt|, right_id) = 1``.

Scale design (the part that matters at 100 TB): a naive interval join is
a cartesian-ish theta join — quadratic. We convert it to an EQUI-join by
bucketing both sides into time bins of width = the widest tolerance, and
joining on ``(bin, bin±1)`` (each left row joins at most 3 bins, because
|Δt| ≤ binWidth means the right row's bin differs by at most 1). Catalyst
then executes a plain shuffled/broadcast hash join on the bin key; the
residual |Δt| ≤ tolerance predicate filters inside the join. Work drops
from O(n·m) to O(n·k) where k is the per-bin occupancy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def banded_priority_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tiers_minutes: list[int],
    left_id: str,
    right_id: str,
    extra_eq_keys: list[str] | None = None,
) -> DataFrame:
    """For each left row, the single best right row: smallest tier whose
    band contains it, then smallest |Δt|, then smallest right id.

    Returns all left columns plus ``matched_<right_id>``, ``tier``
    (minutes of the winning tolerance) and ``dt_seconds``. Unmatched left
    rows are kept with NULLs (left outer semantics, like the reference's
    guarded UPDATEs which leave unmatched rows untouched).

    Skew: the join key is a TIME BIN, and transit telemetry has hot bins
    by construction (rush hour × a popular route when ``extra_eq_keys``
    carries the route). AQE's runtime skew-join split (enabled in
    session.py) handles them: this equi-join shape is exactly eligible
    for it (sort-merge on the bin key)."""
    tiers = sorted(tiers_minutes)
    widest_s = tiers[-1] * 60
    eq = extra_eq_keys or []

    lt = F.col(f"l.{left_ts}")
    rt = F.col(f"r.{right_ts}")

    l_binned = left.withColumn("_bin", (F.unix_timestamp(F.col(left_ts)) / widest_s).cast("long"))
    # Each right row is replicated to its own bin and both neighbors, so
    # the band condition becomes a pure equi-join on _bin. 3x replication
    # of the (small) dimension side is the standard range-join trick.
    r_binned = (
        right.withColumn("_b0", (F.unix_timestamp(F.col(right_ts)) / widest_s).cast("long"))
        .withColumn("_bin", F.explode(F.array(F.col("_b0") - 1, F.col("_b0"), F.col("_b0") + 1)))
        .drop("_b0")
    )

    dt = F.abs(F.unix_timestamp(lt) - F.unix_timestamp(rt))
    cond = (F.col("l._bin") == F.col("r._bin")) & (dt <= F.lit(widest_s))
    for k in eq:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))

    # Tier = the tightest tolerance that admits this pair.
    tier_expr = F.lit(None).cast("int")
    for t in reversed(tiers):
        tier_expr = F.when(dt <= F.lit(t * 60), F.lit(t)).otherwise(tier_expr)

    pairs = (
        l_binned.alias("l")
        .join(r_binned.alias("r"), cond, "inner")
        .where(tier_expr.isNotNull())
        .select(
            F.col(f"l.{left_id}").alias(left_id),
            tier_expr.alias("tier"),
            dt.cast("long").alias("dt_seconds"),
            F.col(f"r.{right_id}").alias(f"matched_{right_id}"),
        )
    )

    # Best match = lexicographic MIN of (tier, |dt|, right_id) per left
    # key — an aggregation, NOT a row_number window: partial (map-side)
    # aggregation collapses each task's candidate pairs before the
    # shuffle, where a window would sort-shuffle every pair. Duplicate
    # pairs from the ±1-bin replication are harmless under MIN, so the
    # dedup shuffle disappears too.
    best = pairs.groupBy(left_id).agg(
        F.min(F.struct("tier", "dt_seconds", f"matched_{right_id}")).alias("_best")
    ).select(
        left_id,
        F.col(f"_best.matched_{right_id}").alias(f"matched_{right_id}"),
        F.col("_best.tier").alias("tier"),
        F.col("_best.dt_seconds").alias("dt_seconds"),
    )
    # Left-outer: keep unmatched left rows with NULL match columns.
    return left.join(best, on=left_id, how="left")

"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints two
JSON lines: the full {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} map, then a short summary
(``summary_payload``).

Each query is forced to full execution with a noop write
(``df.write.format("noop")``), which executes the whole plan without
driver-side materialization — the honest way to time a distributed plan.
``run_query``/``time_query`` are the one query timer: tools/scale_probe.py
and tools/ab_probe.py time queries through them too. Never force a query
with ``.count()``: the optimizer prunes every output column, so most of
the plan (Python UDF columns included) never runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from open_bus_stride_etl_spark.operators.util import release_cached  # noqa: E402
from perfbench.proc import box_speed  # noqa: E402

# Box-speed reference: perfbench/boxspeed.py read 0.12-0.18 s on a quiet
# box and 0.23-0.43 s with busy neighbours (perfbench/README.md); the
# reference sits between the two ranges. The probe runs one worker per
# core with a fixed work unit each, so the quiet reading does not depend
# on the core count.
FAST_REF_S = 0.2

HEADLINE = [
    "flat_export",
    "pricing_summary",
    "first_last_durations",
    "time_window_halfopen",
    "customers_with_open_orders",
    # r10 (VERDICT r9 #3): two genuinely PARALLEL rows for the driver's
    # core-scaling probe — the five rows above are sub-3-second and
    # session/job-overhead-bound at sf0.1, so their 32-vs-8-core ratios
    # read ≈1 and tripped a false `suspect_cpus_ignored`. Both rows
    # below measured ~3x at 8 cores (BENCH_r09_c8). Additions only —
    # the five original keys stay, so PERF's common-set comparison
    # remains valid.
    "stride_dag_convergence",
    "package_hourly_loop_invariance",
]


def summary_payload(
    total: float, sf: float, n_queries: int,
    headline_timings: dict[str, float], canary: dict,
) -> dict:
    """The LAST emitted line's payload. Must serialize WELL under 400
    bytes at worst-case field widths: the driver's tail capture
    truncated an 80-query single-line JSON mid-stream in round 3
    ("parsed": null — no machine-readable total shipped), so the final
    line carries the whole contract except the long per-query map.
    Pinned by tests/test_smoke.py::test_bench_summary_line_under_400b —
    extend THAT test when adding a field here.

    r10: the informational "note"/"methodology" strings moved to the
    full-map line only (they were duplicated there already) to buy the
    bytes for two parallel scaling-probe rows in ``queries`` — every
    contract field (metric/value/unit/sf/n_queries/queries/canary) and
    all five pre-r10 query keys are unchanged, additions only."""
    return {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": n_queries,
        "queries": headline_timings,
        "canary": canary,
    }


def run_query(spark, fn, sf_dir: str) -> float:
    """Seconds for one full execution of query ``fn`` (a noop write),
    then ``release_cached()``: operator-internal persists (e.g. the LSH
    candidate cache) left resident would let the next run reuse this
    one's cache and bleed storage memory into later queries."""
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        release_cached()


def time_query(spark, fn, sf_dir: str) -> float:
    """Min of two ``run_query`` runs, three when the best is under 1.5 s.
    The minimum is the low-noise estimator of the plan's cost on a shared
    box; at sub-1.5 s one scheduling hiccup is a 20%+ phantom regression,
    and the extra sample is cheap exactly when the query is."""
    best = min(run_query(spark, fn, sf_dir) for _ in range(2))
    if best < 1.5:
        best = min(best, run_query(spark, fn, sf_dir))
    return best


def canary_block(pre: float, post: float) -> dict:
    """Box-speed readings taken before and after the sweep. Both at or
    under ``FAST_REF_S`` means the window was clean; either above means
    the timings are contention-inflated upper bounds, not regressions."""
    return {
        "pre": pre,
        "post": post,
        "fast_ref": FAST_REF_S,
        "clean": pre <= FAST_REF_S and post <= FAST_REF_S,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # Box-speed brackets (BENCHNOTES.md): contention on this box can be
    # invisible to load average/vmstat/steal, so the emitted JSON carries
    # a reading before and after the sweep (``canary_block``).
    cores = len(os.sched_getaffinity(0))
    canary_pre = round(box_speed(cores), 3)

    from open_bus_stride_etl_spark.plans import registry
    from open_bus_stride_etl_spark.session import build_session

    spark = build_session("bench")
    qs = registry.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]

    # Warm-up (untimed): cache parquet footers/file listings, trigger JVM
    # JIT + whole-stage-codegen compilation, and start the Python/Arrow
    # worker pool. Steady-state timings are what matter for a long-lived
    # cluster; one-time session startup is not a per-query cost.
    from pyspark.sql import functions as F  # noqa: PLC0415
    from open_bus_stride_etl_spark.sources.lake import TESTDATA_TABLES, load_table  # noqa: PLC0415

    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).limit(1).write.format("noop").mode("overwrite").save()
    (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)))
        .mapInPandas(lambda it: it, "k bigint, `count(1)` bigint")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # stdout carries only the two JSON lines below: the task queries'
    # run-ledger lines go to stderr
    with contextlib.redirect_stdout(sys.stderr):
        timings = {name: round(time_query(spark, qs[name], sf_dir), 3) for name in names}
    canary = canary_block(canary_pre, round(box_speed(cores), 3))

    total = round(sum(timings.values()), 3)
    # Two lines, full map FIRST and a SHORT summary LAST: the driver's
    # tail-capture window truncated the 80-query single-line JSON
    # mid-stream in round 3 ("parsed": null — no machine-readable total
    # shipped). The final line stays well under any plausible tail
    # window and carries the whole contract except the long per-query
    # map, which remains intact on the line above for full captures.
    # "methodology" stamps the cache-accounting policy so round-over-
    # round comparisons are apples-to-apples (r3 switched to honest
    # per-run cost by releasing operator-internal persists between runs;
    # earlier rounds' dedup numbers were warm-cache-flattered ~2x).
    methodology = "min-of-N cold-cache (release_cached after every timed run; since r3)"
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "methodology": methodology,
                "canary": canary,
            },
            separators=(",", ":"),
        )
    )
    print(
        json.dumps(
            summary_payload(
                total, sf, len(timings),
                {n: timings[n] for n in HEADLINE if n in timings}, canary,
            ),
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""M1 operator-parity queries: filters, joins, aggregations, windows,
sorts, set ops (SURVEY.md §2.2-2.7). Each maps one reference operator to
its Spark-native form, with a DuckDB oracle twin.

Engine-portability notes: see plans/registry.py module docstring.

Retired true-twin queries (r7, VERDICT r6 item 6 — d1+d5 double-green,
zero coverage loss): date_window_inclusive (P3; ts-window predicate ⊂
time_window_halfopen, whose oracle covers the boundary arithmetic),
enum_neq_counts (P6; enum <> filter ⊂ pricing_summary's conditional
counts + term_df_top20's `term <> ''`), bbox_filter (P9; the lat/lon
between-predicate pair lives in stride_tasks.py:update_areas_fake_gtfs
with pytest coverage and in nearest_point_per_user's geo family),
multikey_join (J2; two-key equi-join ⊂ code_date_dim_join),
exact_ts_join (J5; timestamp equi-join ⊂ code_date_dim_join's date key +
streaming_click_purchase_join's ts-range join). like_prefix stays: it is
the sole LIKE-predicate carrier (P5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ledger import missing_dates
from ..sources.lake import load_table
from .registry import query




# --- P4: IS NULL "unprocessed" marker (siri/add_ride_durations.py:141).
#     The marker is synthesized (error events get NULL) since the test
#     tables have no nullable enrichment column. --------------------------

@query(
    "null_marker_todo",
    """
    SELECT event_id, user_id, event_type
    FROM (SELECT *, CASE WHEN event_type = 'error' THEN NULL ELSE ts END AS processed_at
          FROM events)
    WHERE processed_at IS NULL
    """,
)
def null_marker_todo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "processed_at",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("ts")),
    )
    return ev.where(F.col("processed_at").isNull()).select("event_id", "user_id", "event_type")


# --- P5: LIKE prefix filter (stats/api.py:52 snapshot_id LIKE 'date/%') ---

@query(
    "like_prefix",
    """
    SELECT doc_id, source, lang
    FROM documents
    WHERE source LIKE 'src1%' AND text LIKE '%join%'
    """,
)
def like_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.where(F.col("source").like("src1%") & F.col("text").like("%join%")).select(
        "doc_id", "source", "lang"
    )








# --- J3: equi-join on business code against a date-versioned dimension
#     (update_ride_stops_gtfs.py:30-31: gtfs_stop.code = siri_stop.code AND
#     gtfs_stop.date = ride date). The "dim" here is a per-(user, day)
#     aggregate joined back on both keys. ---------------------------------

@query(
    "code_date_dim_join",
    """
    WITH dim AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS day_value_c
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS d, dim.day_value_c
    FROM events e
    JOIN dim ON dim.user_id = e.user_id AND dim.d = CAST(e.ts AS DATE)
    WHERE e.event_type = 'purchase'
    """,
)
def code_date_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_value_c"))
    fact = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.to_date("ts").alias("d")
    )
    return fact.join(dim, on=["user_id", "d"], how="inner").select(
        "event_id", "user_id", "d", "day_value_c"
    )




# --- J7: left join with compound band condition (packagers/siri.py:57-60) -

@query(
    "left_band_join",
    """
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
    FROM customer c
    LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey
     AND o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey
    """,
)
def left_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (F.col("o.o_custkey") == F.col("c.c_custkey"))
        & (F.col("o.o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o.o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        c.alias("c")
        .join(o.alias("o"), cond, "left")
        .groupBy("c.c_custkey")
        .agg(
            F.count("o.o_orderkey").alias("n_orders"),
            F.sum(F.round(F.col("o.o_totalprice") * 100).cast("long")).alias("total_c"),
        )
    )


# --- J11/A7: scalar-subquery cross join — two single-row counts combined
#     into a ratio (gtfs/update_ride_aggregations.py:60-74 completeness %) -

@query(
    "completeness_ratio",
    """
    SELECT CAST(ROUND(10000.0 * a.n / b.n) AS BIGINT) AS pct_bp, a.n AS n_complete, b.n AS n_all
    FROM (SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > 150000) a,
         (SELECT COUNT(*) AS n FROM orders) b
    """,
)
def completeness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") > 150000).agg(F.count(F.lit(1)).alias("n_complete"))
    b = o.agg(F.count(F.lit(1)).alias("n_all"))
    return a.crossJoin(b).select(
        F.round(10000.0 * F.col("n_complete") / F.col("n_all"))
        .cast("long")
        .alias("pct_bp"),
        "n_complete",
        "n_all",
    )


# --- A2: group by day x key (siri/common.py:20-26 drives per-(date, route)
#     processing; the loop becomes one aggregation) ------------------------

@query(
    "group_day_type",
    """
    SELECT CAST(ts AS DATE) AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM events GROUP BY CAST(ts AS DATE), event_type
    """,
)
def group_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_c"),
    )


# --- A3: min/max id of a window (add_ride_durations.py:119-124 keyset
#     cursor bounds) --------------------------------------------------------

@query(
    "window_id_bounds",
    """
    SELECT MIN(event_id) AS min_id, MAX(event_id) AS max_id, COUNT(*) AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def window_id_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return ev.where((F.col("ts") >= lo) & (F.col("ts") < hi)).agg(
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.count(F.lit(1)).alias("n"),
    )


# --- A9: per-hour min/max/count lives in q_streaming.streaming_hourly_events
#     (same oracle; the batch twin hourly_minmax was retired in the r5
#     registry consolidation) ---

# --- A11/U2: distinct set per group (siri/common.py:29 route-id sets) -----

@query(
    "distinct_set_per_day",
    """
    SELECT CAST(ts AS DATE) AS day,
           COUNT(DISTINCT user_id) AS n_users,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
    FROM events GROUP BY CAST(ts AS DATE)
    """,
)
def distinct_set_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
    )


# --- W1: row_number per group, top-n (add_ride_durations first/last
#     rows): the registered query top2_per_user was RETIRED in r8
#     (d2+d6 double-green true twin — the rank-and-filter ordering is
#     exercised by training_shard_order and verified end-to-end inside
#     shard_export_invariance's per-shard pos contract). -------------------


# --- W2: ordered per-group iteration / group-break detection
#     (update_ride_stops_vehicle_locations.py:91-101): the registered
#     query session_gaps was RETIRED in r8 (d3+d6 double-green true twin
#     of streaming_session_windows, whose oracle pins the identical
#     30-minute-gap break semantics). --------------------------------------


# --- W3: running min per key (update_ride_stops_vehicle_locations.py:33-38
#     dict-based running min) ----------------------------------------------

@query(
    "running_min",
    """
    SELECT event_id, user_id,
           MIN(CAST(ROUND(value * 100) AS BIGINT))
             OVER (PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id) AS run_min_c
    FROM events
    """,
)
def running_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Null ordering is explicit on BOTH sides: Spark defaults ASC to
    # NULLS FIRST but DuckDB defaults to NULLS LAST, so an implicit
    # ORDER BY diverges the window prefix on any data with NULL ts.
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id")
    )
    return ev.select(
        "event_id",
        "user_id",
        F.min(F.round(F.col("value") * 100).cast("long")).over(w).alias("run_min_c"),
    )


# --- O1/O4: sort with NULLS LAST + top-k by recency (stats/api.py:20-22) --

@query(
    "sort_nulls_last_topk",
    """
    SELECT event_id, user_id, value_n FROM (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value_n
      FROM events) t
    ORDER BY value_n DESC NULLS LAST, event_id ASC
    LIMIT 20
    """,
)
def sort_nulls_last_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_n", F.when(F.col("event_type") == "view", F.lit(None)).otherwise(F.col("value"))
    )
    return (
        ev.select("event_id", "user_id", "value_n")
        .orderBy(F.col("value_n").desc_nulls_last(), F.col("event_id").asc())
        .limit(20)
    )


@query(
    "topk_recent",
    """
    SELECT event_id, ts, user_id, event_type
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 10
    """,
)
def topk_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "ts", "user_id", "event_type")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(10)
    )


# --- U1/J9: ledger missing-dates union (idempotent_process_gtfs_data.py:
#     95-109): never-attempted ∪ failed-or-null, desc. The ledger is
#     synthesized per-day from events: attempted = days <= 01-20; success
#     tri-state keyed on day-of-month (day % 7: 0 -> NULL, 1-2 -> FALSE,
#     else TRUE) so every union branch AND the success-exclusion class
#     fire BY CONSTRUCTION at every sf. The original error-count
#     tri-state (0 / 1-5 / >5 errors) concentrated into the one >5 class
#     at every gate — per-day error counts grow with sf, so the TRUE and
#     FALSE branches were vacuous and got MORE vacuous with scale (r9
#     audit). The real data-derived completeness gate lives in
#     ride_aggregation_ledger_invariance (the 90% rule on the actual
#     task); this row pins the U1/J9 union/anti-join shape. --------------

@query(
    "ledger_missing_dates",
    """
    WITH all_days AS (SELECT DISTINCT CAST(ts AS DATE) AS date FROM events
                      WHERE ts IS NOT NULL),
         ledger AS (
           SELECT date,
                  CASE WHEN day(date) % 7 = 0 THEN NULL
                       WHEN day(date) % 7 <= 2 THEN FALSE
                       ELSE TRUE END AS success
           FROM (SELECT DISTINCT CAST(ts AS DATE) AS date FROM events
                 WHERE CAST(ts AS DATE) <= DATE '2024-01-20')
         )
    SELECT date FROM all_days
    WHERE date NOT IN (SELECT date FROM ledger)
       OR date IN (SELECT date FROM ledger WHERE success IS NULL OR success = FALSE)
    ORDER BY date DESC
    """,
)
def ledger_missing_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL dates are excluded up front: SQL `NOT IN` drops a NULL probe
    # row, but a left-anti join keeps it — excluding makes both engines
    # (and the reference's never-null date ledger) agree.
    ev = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    all_days = ev.select("date").where(F.col("date").isNotNull()).distinct()
    ledger = (
        ev.where(F.col("date") <= F.lit("2024-01-20").cast("date"))
        .select("date")
        .distinct()
        .withColumn(
            "success",
            F.when(F.dayofmonth("date") % 7 == 0, F.lit(None).cast("boolean"))
            .when(F.dayofmonth("date") % 7 <= 2, F.lit(False))
            .otherwise(F.lit(True)),
        )
        .withColumn("task_name", F.lit("t"))
    )
    return missing_dates(all_days, ledger, task_name="t")


# ---------------------------------------------------------------------------
# Analytic extensions the reference never had (SURVEY.md §2.4 note: Spark
# gives rollup/cube and window frames for free; exactly oracle-checkable)
# ---------------------------------------------------------------------------

@query(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows,
           CAST(GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS INTEGER) AS grouping_lvl
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals in ONE pass (rollup = partial aggregation
    reuse — Spark expands grouping sets map-side, no extra scan).
    Quantity sums in decimal so the subtotal rows are bit-equal across
    engines (double addition is order-sensitive; decimal is exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(20,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.grouping("l_returnflag") + F.lit(2) * F.grouping("l_linestatus")).alias(
                "grouping_lvl"
            ),
        )
    )


@query(
    "moving_avg_frame",
    """
    WITH e AS (
      SELECT user_id, event_id, ts,
             CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS vmic
      FROM events
      WHERE ts IS NOT NULL AND user_id % 25 = 0
    ), w AS (
      SELECT user_id, event_id,
             CAST(SUM(vmic) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s3,
             CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS c3,
             CAST(SUM(vmic) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rs
      FROM e
    )
    SELECT user_id, event_id,
           CAST((2 * s3 + c3) // (2 * c3) AS BIGINT) AS mov_avg_micro,
           rs AS run_sum_micro
    FROM w
    """,
)
def moving_avg_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAMES (rowsBetween) — the reference emulated windows
    procedurally and never had frames at all (SURVEY.md §2.5).

    Bit-portability: this query failed the driver's value hash in rounds
    1 AND 2 while passing the local fetchall-based gate — its old
    ``run_sum DECIMAL(30,6)`` was the registry's ONLY decimal-typed
    OUTPUT column, and decimal outputs cross engine boundaries
    asymmetrically (DuckDB's pandas path widens DECIMAL to float64;
    Spark keeps Decimal objects). Everything is now exact BIGINT
    micro-units: value quantized via decimal(20,6) (doubles never sit on
    a half-decimal boundary, so HALF_UP vs half-even can't diverge),
    and the moving average is round-half-up integer division
    ``(2*s + c) div (2*c)`` — values are nonnegative, so Spark's
    truncating ``div`` equals DuckDB's flooring ``//``.
    ``tools/check_oracle.py`` now hard-fails any decimal output column."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & (F.col("user_id") % 25 == 0)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vmic = (F.col("value").cast("decimal(20,6)") * 1000000).cast("long")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.sum(vmic).over(w.rowsBetween(-2, 0)).alias("s3"),
            F.count(F.lit(1)).over(w.rowsBetween(-2, 0)).alias("c3"),
            F.sum(vmic)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("run_sum_micro"),
        )
        .select(
            "user_id",
            "event_id",
            F.expr("(2 * s3 + c3) div (2 * c3)").alias("mov_avg_micro"),
            "run_sum_micro",
        )
    )



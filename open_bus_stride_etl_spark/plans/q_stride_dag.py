"""Stride enrichment-DAG invariance query (VERDICT r8 ask #2): a hard
driver verdict for the TASK-LAYER composition of the reference's own
pipeline — the surface that previously had only pytest coverage.

The reference chains its SIRI enrichment tasks per
/root/reference/open_bus_stride_etl/siri/dags.yaml:1-19
(add-ride-durations @hourly, then the gtfs matchers); each task is an
UPDATE-in-Postgres pass whose re-run over the same window CONVERGES
(the IS NULL todo-marker contract, SURVEY.md §7.4). Here the FULL
ported DAG (plans/stride_tasks.py: siri-add-ride-durations →
siri-update-rides-gtfs → siri-update-ride-stops-gtfs →
siri-update-ride-stops-vehicle-locations) runs TWICE over a synthetic
stride lake built inside the query, and the emitted row pins:

- the enriched ``siri_ride`` snapshot (row counts + an
  order-insensitive content hash over every enrichment column,
  including the marker timestamps) against an analytic oracle composed
  from the first_last_durations (A4 guards), banded_priority_match
  (J4/W4 tiers) and enrich_update_guarded (J8 only-if-null) contracts;
- the enriched ``siri_ride_stop`` snapshot (gtfs-stop code+date match
  per code_date_dim_join's contract; nearest-vehicle-location per
  nearest_point_per_user's argmin-haversine contract, NULL-coordinate
  rows dropped);
- the convergence contract: every second-run "rows newly updated"
  metric must be 0 and the post-run-2 tables must still hash to the
  run-1 prediction (a drifting marker, a re-matched ride, or a
  lost/duplicated row all fail the value hash).

The lake is DERIVED deterministically from the shared ``events`` table
(rid = event_id/20), so DuckDB re-derives identical inputs and unrolls
the same two-stage enrichment in SQL — nothing is baked into literals
except the fixed guard clock. The derivation plants every contract
edge: NULL-timestamp telemetry (nulls-last), rides with no telemetry
(stay todo after run 1 → re-processed to the same state in run 2),
settled/unsettled/stale guard outcomes, tier-1 winners over tier-5
decoys, rides with no route tier that fall through to the journey or
scheduled-time strategies, and the already-processed precondition
split (updated_duration_minutes IS NOT NULL gates the gtfs matcher).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import haversine_sql
from ..functions.hashing import row_hash, row_hash_sql
from ..sources import stride_lake as lake
from ..sources.lake import load_table
from .registry import query

EPOCH = "2024-03-01 00:00:00"
NOW_TS = "2024-03-06 00:00:00"  # fixed guard clock (epoch + 5 days)
STRAGGLER_TS = "2024-03-05 23:00:00"  # inside the 6h settle window of NOW


def _rides_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rid = event_id/20 for event_id % 20 == 0 — i.e. rid = 1..n_ev/20,
    carried through a real table scan so the corpus scales with sf and
    the oracle derives the identical set from the same parquet."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit(EPOCH).cast("timestamp")
    rid = (F.col("event_id") / 20).cast("long").alias("rid")
    # Density cap (r9, measured): the synthetic schedule space is
    # 10 days x 16 hours x 60 minutes x 50 routes, so beyond ~100k rides
    # every additional ride lands on an already-taken (sched, route)
    # slot and banded-join candidates grow QUADRATICALLY with ride count
    # (1.5M rides at sf30 = ~1,250 exact-duplicate schedules per slot ->
    # executor OOM) — a property of the fixture, not the operators. The
    # contract this query pins is scale-independent; the banded join's
    # own scale rows live with banded_priority_match/left_band_join over
    # the time-diverse events data.
    src = ev.where(
        (F.col("event_id") % 20 == 0) & (F.col("event_id") <= 2_000_000)
    ).select(rid)
    return src.select(
        "rid",
        (F.col("rid") % 10).alias("day_idx"),
        (
            epoch
            + F.make_interval(
                days=(F.col("rid") % 10).cast("int"),
                hours=(5 + F.col("rid") % 16).cast("int"),
                mins=((F.col("rid") * 7) % 60).cast("int"),
            )
        ).alias("sched"),
    )



def _write_table(df, base: str, name: str) -> None:
    """Builder-only write: the synthetic lake tables are FRESH dirs with
    no concurrent reader, so the atomic snapshot swap that
    lake.overwrite_table pays is pure fixed cost here. A builder writes
    only the columns its query derives; ``lake.read_table``'s declared
    schema reads every other column as NULL. The TASKS under test still
    go through lake.overwrite_table — that swap and its schema check
    are part of the surface being verified."""
    df.write.mode("overwrite").parquet(lake.table_path(base, name))


def _write_tables_parallel(base: str, pairs) -> None:
    """Stage independent builder tables CONCURRENTLY (r9, guide §1.2/§6):
    each staging write is a tiny job whose wall is dominated by job
    launch + task scheduling, and the builders run 3-8 of them with no
    data dependency (every frame derives from an already-checkpointed
    source or a literal range). Serial submission paid that fixed
    latency 8x back-to-back; submitting from a thread pool overlaps
    them (Spark schedules concurrent jobs from one session safely —
    DataFrames are immutable and each write targets its own fresh dir).
    Table CONTENT is byte-identical per table; only wall-clock changes."""
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    with ThreadPoolExecutor(max_workers=len(pairs)) as ex:
        # list() re-raises the first writer exception, if any
        list(ex.map(lambda p: _write_table(p[0], base, p[1]), pairs))


def _build_lake(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Materialize the synthetic stride lake the chained tasks run on.
    Mod-class design (all mirrored in the oracle CTEs):

    - rid % 3  == 0: todo ride (NULL marker); others pre-marked at EPOCH
    - rid % 17 == 0: no telemetry at all (stays todo across both runs;
      its matched ride stops also never get a nearest location)
    - rid % 13 == 0: extra straggler ping at NOW-1h (unsettled; stale→0
      for day_idx <= 2)
    - rid % 5  == 0: both same-route gtfs rides outside every tier (no
      route match; falls through to journey/scheduled strategies)
    - rid % 4  == 1: gtfs ride g1 carries the rearranged journey_ref key
    - rid % 7  == 0: gtfs ride g3 (different route) at the exact
      scheduled_start_time (strategy-3 match)
    - stop sid > 35: siri stops with no GTFS counterpart (their ride
      stops stay unmatched and re-converge to NULL on run 2)
    - rid % 11 == 0: the j==1 telemetry ping has a NULL latitude (the
      reference's dropped-row filter in the nearest-location pass)
    """
    epoch = F.lit(EPOCH).cast("timestamp")
    # One events scan for the whole build: four of the table writes
    # derive from `src`, and without the checkpoint each write re-runs
    # the events scan + filter + interval arithmetic (guide §2.4: remove
    # repeated passes). The checkpointed frame is 3 narrow columns.
    src = _rides_src(spark, sf_dir).localCheckpoint(eager=True)
    _tables = []

    _tables.append((
        src.select(
            F.col("rid").alias("id"),
            (1 + F.col("rid") % 50).alias("siri_route_id"),
            F.concat(
                F.date_format("sched", "yyyy-MM-dd"),
                F.lit("-"),
                (10000 + F.col("rid")).cast("string"),
            ).alias("journey_ref"),
            F.concat(F.lit("v"), F.col("rid").cast("string")).alias("vehicle_ref"),
            F.col("sched").alias("scheduled_start_time"),
            F.when(F.col("rid") % 3 != 0, epoch).alias("updated_duration_minutes"),
        ),
        "siri_ride"))

    routes = spark.range(1, 51, numPartitions=1).select(
        F.col("id"),
        F.concat(F.lit("op"), (F.col("id") % 10).cast("string")).alias("operator_ref"),
        F.concat(F.lit("line"), F.col("id").cast("string")).alias("line_ref"),
    )
    _tables.append((routes, "siri_route"))

    _tables.append((
        src.select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("k"), F.col("rid")
        ).select(
            (2 * F.col("rid") - 1 + F.col("k")).alias("id"),
            F.col("rid").alias("siri_ride_id"),
            (1 + (F.col("rid") + F.col("k")) % 40).alias("siri_stop_id"),
            F.col("k").cast("int").alias("order"),
        ),
        "siri_ride_stop"))

    _tables.append((
        spark.range(1, 41, numPartitions=1).select(
            F.col("id"), F.format_string("S%03d", F.col("id")).alias("code")
        ),
        "siri_stop"))

    with_locs = src.where(F.col("rid") % 17 != 0)
    regular = with_locs.select(
        "rid", "sched", F.explode(F.array(*[F.lit(i) for i in range(5)])).alias("j")
    )
    straggler = with_locs.where(F.col("rid") % 13 == 0).select(
        "rid", "sched", F.lit(5).alias("j")
    )
    _tables.append((
        regular.unionByName(straggler).select(
            ((F.col("rid") - 1) * 6 + F.col("j") + 1).alias("id"),
            (2 * F.col("rid") - 1 + F.pmod(F.col("j"), F.lit(2))).alias(
                "siri_ride_stop_id"
            ),
            F.when(F.col("j") == 5, F.lit(STRAGGLER_TS).cast("timestamp"))
            .when(
                F.col("j") != 2,
                F.col("sched") + F.make_interval(mins=(F.col("j") * 2).cast("int")),
            )
            .alias("recorded_at_time"),
            F.when(
                ~((F.col("rid") % 11 == 0) & (F.col("j") == 1)),
                32.0 + ((F.col("rid") + F.col("j")) % 100) / 100.0,
            ).alias("lat"),
            (34.7 + ((F.col("rid") + F.col("j")) % 50) / 100.0).alias("lon"),
        ),
        "siri_vehicle_location"))

    # GTFS stops cover only sid <= 35 (codes S036..S040 stay unmatched);
    # id = day*40 + sid keeps the arithmetic uniform with a gap.
    _tables.append((
        spark.range(10, numPartitions=1)
        .select(F.col("id").alias("d"))
        .crossJoin(spark.range(1, 36, numPartitions=1).select(F.col("id").alias("sid")))
        .select(
            (F.col("d") * 40 + F.col("sid")).alias("id"),
            F.date_add(F.lit("2024-03-01").cast("date"), F.col("d").cast("int")).alias(
                "date"
            ),
            F.format_string("S%03d", F.col("sid")).alias("code"),
            (32.0 + F.col("sid") / 100.0).alias("lat"),
            (34.7 + (F.col("sid") * 3 % 90) / 100.0).alias("lon"),
        ),
        "gtfs_stop"))

    dates = spark.range(10, numPartitions=1).select(F.col("id").alias("d"))
    _tables.append((
        dates.crossJoin(spark.range(1, 51, numPartitions=1).select(F.col("id").alias("r"))).select(
            (F.col("d") * 50 + F.col("r")).alias("id"),
            F.date_add(F.lit("2024-03-01").cast("date"), F.col("d").cast("int")).alias(
                "date"
            ),
            F.concat(F.lit("op"), (F.col("r") % 10).cast("string")).alias("operator_ref"),
            F.concat(F.lit("line"), F.col("r").cast("string")).alias("line_ref"),
        ),
        "gtfs_route"))

    compat = F.col("day_idx") * 50 + 1 + F.col("rid") % 50
    g1 = src.select(
        (3 * F.col("rid") - 2).alias("id"),
        compat.alias("gtfs_route_id"),
        F.when(
            F.col("rid") % 4 == 1,
            F.concat(
                (10000 + F.col("rid")).cast("string"),
                F.lit("_"),
                F.date_format("sched", "ddMMyy"),
            ),
        )
        .otherwise(F.concat(F.lit("g1x"), F.col("rid").cast("string")))
        .alias("journey_ref"),
        (
            F.col("sched")
            + F.make_interval(
                secs=F.when(F.col("rid") % 5 != 0, 30).otherwise(600).cast("double")
            )
        ).alias("start_time"),
    )
    g2 = src.select(
        (3 * F.col("rid") - 1).alias("id"),
        compat.alias("gtfs_route_id"),
        F.concat(F.lit("g2x"), F.col("rid").cast("string")).alias("journey_ref"),
        (
            F.col("sched")
            + F.make_interval(
                secs=F.when(F.col("rid") % 5 != 0, 240).otherwise(-600).cast("double")
            )
        ).alias("start_time"),
    )
    g3 = src.select(
        (3 * F.col("rid")).alias("id"),
        (F.col("day_idx") * 50 + 1 + (F.col("rid") + 3) % 50).alias("gtfs_route_id"),
        F.concat(F.lit("g3x"), F.col("rid").cast("string")).alias("journey_ref"),
        (
            F.col("sched")
            + F.make_interval(
                secs=F.when(F.col("rid") % 7 == 0, 0).otherwise(3600).cast("double")
            )
        ).alias("start_time"),
    )
    _tables.append((g1.unionByName(g2).unionByName(g3), "gtfs_ride"))
    _write_tables_parallel(base, _tables)



_SQL_STRIDE_DAG = f"""
    WITH r0 AS (
      SELECT CAST(event_id // 20 AS BIGINT) AS rid
      FROM events WHERE event_id % 20 = 0 AND event_id <= 2000000
    ),
    rides AS (
      SELECT rid,
             TIMESTAMP '{EPOCH}'
               + (rid % 10) * INTERVAL 1 DAY
               + (5 + rid % 16) * INTERVAL 1 HOUR
               + ((rid * 7) % 60) * INTERVAL 1 MINUTE AS sched,
             (rid % 10) * 50 + 1 + rid % 50 AS compat_groute
      FROM r0
    ),
    locs AS (
      SELECT r.rid, (r.rid - 1) * 6 + t.j + 1 AS loc_id,
             CASE WHEN t.j = 5 THEN TIMESTAMP '{STRAGGLER_TS}'
                  WHEN t.j <> 2 THEN r.sched + t.j * 2 * INTERVAL 1 MINUTE END AS ts,
             CASE WHEN NOT (r.rid % 11 = 0 AND t.j = 1)
                  THEN 32.0 + ((r.rid + t.j) % 100) / 100.0 END AS lat,
             34.7 + ((r.rid + t.j) % 50) / 100.0 AS lon
      FROM rides r CROSS JOIN (SELECT CAST(range AS BIGINT) AS j FROM range(0, 6)) t
      WHERE r.rid % 17 <> 0 AND (t.j < 5 OR r.rid % 13 = 0)
    ),
    -- first/last per TODO ride; NULL-ts rows ignored (A4 nulls-last)
    fl AS (
      SELECT rid,
             MAX(CASE WHEN rn_f = 1 THEN loc_id END) AS first_id,
             MAX(CASE WHEN rn_l = 1 THEN loc_id END) AS last_id,
             MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM (
        SELECT rid, loc_id, ts,
               row_number() OVER (PARTITION BY rid ORDER BY ts ASC, loc_id ASC) AS rn_f,
               row_number() OVER (PARTITION BY rid ORDER BY ts DESC, loc_id DESC) AS rn_l
        FROM locs WHERE ts IS NOT NULL
      ) GROUP BY rid
    ),
    -- A4 guards at the fixed clock: settled (< NOW-6h) -> minutes;
    -- else stale (first < NOW-2d) -> 0; else NULL
    durs AS (
      SELECT rid, first_id, last_id,
             CASE WHEN last_ts < TIMESTAMP '2024-03-05 18:00:00'
                  THEN CAST(ROUND(date_diff('second', first_ts, last_ts) / 60.0) AS INT)
                  WHEN first_ts < TIMESTAMP '2024-03-04 00:00:00' THEN 0
             END AS duration
      FROM fl WHERE rid % 3 = 0
    ),
    -- post-add state: todo rides with telemetry get values + NOW markers
    -- (only-if-null enrich); pre-marked rides keep their EPOCH marker
    r1 AS (
      SELECT r.rid, r.sched, r.compat_groute,
             d.first_id, d.last_id, d.duration,
             CASE WHEN r.rid % 3 <> 0 THEN TIMESTAMP '{EPOCH}'
                  WHEN d.rid IS NOT NULL THEN TIMESTAMP '{NOW_TS}'
             END AS upd_marker,
             CASE WHEN r.rid % 3 = 0 AND d.rid IS NOT NULL
                  THEN TIMESTAMP '{NOW_TS}' END AS fl_marker
      FROM rides r LEFT JOIN durs d ON d.rid = r.rid
    ),
    elig AS (SELECT * FROM r1 WHERE upd_marker IS NOT NULL),
    grides AS (
      SELECT 3 * rid - 2 AS gid, compat_groute AS groute,
             sched + CASE WHEN rid % 5 <> 0 THEN 30 ELSE 600 END * INTERVAL 1 SECOND AS gstart,
             CASE WHEN rid % 4 = 1
                  THEN CAST(10000 + rid AS VARCHAR) || '_' || strftime(sched, '%d%m%y')
                  ELSE 'g1x' || CAST(rid AS VARCHAR) END AS jref
      FROM rides
      UNION ALL
      SELECT 3 * rid - 1, compat_groute,
             sched + CASE WHEN rid % 5 <> 0 THEN 240 ELSE -600 END * INTERVAL 1 SECOND,
             'g2x' || CAST(rid AS VARCHAR)
      FROM rides
      UNION ALL
      SELECT 3 * rid, (rid % 10) * 50 + 1 + (rid + 3) % 50,
             sched + CASE WHEN rid % 7 = 0 THEN 0 ELSE 3600 END * INTERVAL 1 SECOND,
             'g3x' || CAST(rid AS VARCHAR)
      FROM rides
    ),
    -- strategy 1: same gtfs_route, |dt| <= 5 min, tightest tier wins
    rpairs AS (
      SELECT e.rid, g.gid, abs(date_diff('second', g.gstart, e.sched)) AS dt
      FROM elig e JOIN grides g ON g.groute = e.compat_groute
      WHERE abs(date_diff('second', g.gstart, e.sched)) <= 300
    ),
    rbest AS (
      SELECT rid, gid FROM (
        SELECT rid, gid,
               row_number() OVER (PARTITION BY rid ORDER BY
                 CASE WHEN dt <= 60 THEN 1 WHEN dt <= 180 THEN 3 ELSE 5 END, dt, gid) AS rn
        FROM rpairs
      ) WHERE rn = 1
    ),
    -- strategy 2: rearranged journey_ref equality
    jbest AS (
      SELECT e.rid, MIN(g.gid) AS gid
      FROM elig e JOIN grides g
        ON g.jref = CAST(10000 + e.rid AS VARCHAR) || '_' || strftime(e.sched, '%d%m%y')
      GROUP BY e.rid
    ),
    -- strategy 3: exact scheduled-time equality
    sbest AS (
      SELECT e.rid, MIN(g.gid) AS gid
      FROM elig e JOIN grides g ON g.gstart = e.sched
      GROUP BY e.rid
    ),
    final AS (
      SELECT r.rid, r.first_id, r.last_id, r.duration, r.upd_marker, r.fl_marker,
             rb.gid AS route_id, jb.gid AS journey_id, sb.gid AS sched_id,
             COALESCE(rb.gid, jb.gid, sb.gid) AS gtfs_id
      FROM r1 r
      LEFT JOIN rbest rb ON rb.rid = r.rid
      LEFT JOIN jbest jb ON jb.rid = r.rid
      LEFT JOIN sbest sb ON sb.rid = r.rid
    ),
    -- stage 3 (update-ride-stops-gtfs): code+date dim match; GTFS stops
    -- exist only for sid <= 35, id = day*40 + sid
    rstops AS (
      SELECT 2 * rid - 1 + t.k AS rs_id, rid, t.k AS k, 1 + (rid + t.k) % 40 AS sid
      FROM rides CROSS JOIN (SELECT CAST(range AS BIGINT) AS k FROM range(0, 2)) t
    ),
    smatch AS (
      SELECT rs.rs_id, rs.rid, rs.sid, (rs.rid % 10) * 40 + rs.sid AS g_stop
      FROM rstops rs JOIN elig e ON e.rid = rs.rid
      WHERE rs.sid <= 35
    ),
    -- stage 4 (update-ride-stops-vehicle-locations): argmin haversine
    -- over the ride's non-NULL-coordinate pings, tie by location id
    ncand AS (
      SELECT s.rs_id, l.loc_id,
             {haversine_sql('l.lat', 'l.lon', '(32.0 + s.sid / 100.0)', '(34.7 + (s.sid * 3 % 90) / 100.0)')} AS dist
      FROM smatch s JOIN locs l ON l.rid = s.rid
      WHERE l.lat IS NOT NULL
    ),
    nbest AS (
      SELECT rs_id, loc_id FROM (
        SELECT rs_id, loc_id,
               row_number() OVER (PARTITION BY rs_id ORDER BY dist, loc_id) AS rn
        FROM ncand) WHERE rn = 1
    ),
    rsfinal AS (
      SELECT rs.rs_id, rs.rid, rs.k, rs.sid, s.g_stop, nb.loc_id AS nearest_id
      FROM rstops rs
      LEFT JOIN smatch s ON s.rs_id = rs.rs_id
      LEFT JOIN nbest nb ON nb.rs_id = rs.rs_id
    )
    SELECT r.*, s.*
    FROM (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rides,
             CAST(COUNT(upd_marker) AS BIGINT) AS n_marker_set,
             CAST(COUNT(duration) AS BIGINT) AS n_duration_set,
             CAST(COUNT(route_id) AS BIGINT) AS n_route_matched,
             CAST(COUNT(gtfs_id) AS BIGINT) AS n_gtfs_matched,
             CAST(SUM({row_hash_sql(
               'rid', 'first_id', 'last_id', 'duration', 'route_id',
               'journey_id', 'sched_id', 'gtfs_id',
               "date_diff('second', TIMESTAMP '1970-01-01 00:00:00', upd_marker)",
               "date_diff('second', TIMESTAMP '1970-01-01 00:00:00', fl_marker)",
             )}) AS BIGINT) AS ride_hash,
             CAST(0 AS BIGINT) AS upd2_duration,
             CAST(0 AS BIGINT) AS upd2_gtfs
      FROM final
    ) r CROSS JOIN (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_ride_stops,
             CAST(COUNT(g_stop) AS BIGINT) AS n_stops_matched,
             CAST(COUNT(nearest_id) AS BIGINT) AS n_nearest_set,
             CAST(SUM({row_hash_sql(
               'rs_id', 'rid', 'sid', 'k', 'g_stop', 'nearest_id'
             )}) AS BIGINT) AS stop_hash,
             CAST(0 AS BIGINT) AS upd2_stops,
             CAST(0 AS BIGINT) AS upd2_nearest
      FROM rsfinal
    ) s
    """


@query("stride_dag_convergence", _SQL_STRIDE_DAG)
def stride_dag_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the reference's FULL siri enrichment DAG twice — the REAL
    chained tasks add-ride-durations → update-rides-gtfs →
    update-ride-stops-gtfs → update-ride-stops-vehicle-locations, per
    siri/dags.yaml — on a lake derived from the events table, at a
    fixed guard clock. Emits row counts, order-insensitive hashes of
    BOTH enriched snapshots (``siri_ride`` incl. the marker timestamps,
    and ``siri_ride_stop`` incl. the gtfs-stop match and the nearest
    vehicle location), and every second-run newly-updated metric (all
    must be 0 — the convergence contract; still-todo rows such as
    no-telemetry rides and unmatched stop codes must recompute to the
    same NULLs). Scale shape is the tasks' own: telemetry is
    aggregated to one row per ride before any join; gtfs matching is
    the binned banded equi-join plus two hash joins; the stop match is
    a broadcast code+date dim join; the nearest pass is one argmin
    aggregation over ride-keyed candidates; each lake swap is a
    write-new-and-rename, never read-overwrite. Self-contained: the
    temp lake is removed before returning."""
    import tempfile  # noqa: PLC0415

    from .tasks import run_task  # noqa: PLC0415

    with tempfile.TemporaryDirectory(prefix="stride_dag_", ignore_cleanup_errors=True) as base:
        _build_lake(spark, sf_dir, base)
        window = {"min_date": "2024-03-01", "max_date": "2024-03-15"}

        def _chain() -> dict[str, int]:
            m_a = run_task(
                spark, "siri-add-ride-durations", base_dir=base, now_ts=NOW_TS,
                **window,
            )
            m_b = run_task(spark, "siri-update-rides-gtfs", base_dir=base, **window)
            m_c = run_task(
                spark, "siri-update-ride-stops-gtfs", base_dir=base, **window
            )
            m_d = run_task(
                spark, "siri-update-ride-stops-vehicle-locations", base_dir=base,
                **window,
            )
            return {
                "upd2_duration": int(m_a["updated_duration"]),
                "upd2_gtfs": int(m_b["matched_gtfs_rides"]),
                "upd2_stops": int(m_c["matched_gtfs_stops"]),
                "upd2_nearest": int(m_d["matched_nearest_locations"]),
            }

        _chain()
        # convergence: the same window re-runs to the identical state
        m2 = _chain()

        rides = lake.read_table(spark, base, "siri_ride")
        h = row_hash(
            F.col("id"),
            F.col("first_vehicle_location_id"),
            F.col("last_vehicle_location_id"),
            F.col("duration_minutes"),
            F.col("route_gtfs_ride_id"),
            F.col("journey_gtfs_ride_id"),
            F.col("scheduled_time_gtfs_ride_id"),
            F.col("gtfs_ride_id"),
            F.unix_timestamp("updated_duration_minutes"),
            F.unix_timestamp("updated_first_last_vehicle_locations"),
        )
        ride_agg = rides.agg(
            F.count(F.lit(1)).alias("n_rides"),
            F.count("updated_duration_minutes").alias("n_marker_set"),
            F.count("duration_minutes").alias("n_duration_set"),
            F.count("route_gtfs_ride_id").alias("n_route_matched"),
            F.count("gtfs_ride_id").alias("n_gtfs_matched"),
            F.sum(h).alias("ride_hash"),
        )
        rstops = lake.read_table(spark, base, "siri_ride_stop")
        h2 = row_hash(
            F.col("id"),
            F.col("siri_ride_id"),
            F.col("siri_stop_id"),
            F.col("order"),
            F.col("gtfs_stop_id"),
            F.col("nearest_siri_vehicle_location_id"),
        )
        stop_agg = rstops.agg(
            F.count(F.lit(1)).alias("n_ride_stops"),
            F.count("gtfs_stop_id").alias("n_stops_matched"),
            F.count("nearest_siri_vehicle_location_id").alias("n_nearest_set"),
            F.sum(h2).alias("stop_hash"),
        )
        out = ride_agg.crossJoin(stop_agg)  # two single-row aggregates
        for name, val in m2.items():
            out = out.withColumn(name, F.lit(val).cast("long"))
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Packager-backfill invariance: the reference's flagship OUTPUT artifact
# (the hourly CSV datapackages, packagers/siri.py) gets a hard driver
# verdict for the publish contract end to end.
# ---------------------------------------------------------------------------


def _build_packager_lake(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Minimal flat-export lake derived from events (rid = event_id/50).
    Hours are CLAMPED to 48 (rid % 48) so package count stays bounded
    while rows-per-hour grow with sf — the backfill's one-job shape.
    Planted edges: NULL recorded_at_time pings (excluded by the window
    predicate), one fully telemetry-less hour slot (rid % 48 == 43:
    every ping NULL-ts — the hourly sweep's 'empty' class, inside its
    12-hour window), NULL duration_minutes, ride stops with no GTFS
    match (left-join NULL columns in the export). All column derivations are
    mirrored in the oracle; doubles/timestamps round-trip the CSV and
    hash identically across engines (shortest-roundtrip rendering in
    both — verified r9)."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit(EPOCH).cast("timestamp")
    rid = (F.col("event_id") / 50).cast("long").alias("rid")
    src = ev.where(F.col("event_id") % 50 == 0).select(rid)
    # One events scan for the whole build (three table writes derive
    # from `rides`; guide §2.4): checkpoint the 2-column frame once.
    rides = src.select(
        "rid",
        (epoch + F.make_interval(hours=(F.col("rid") % 48).cast("int"))).alias("sched"),
    ).localCheckpoint(eager=True)
    _tables = []

    _tables.append((
        rides.select(
            F.col("rid").alias("id"),
            (1 + F.col("rid") % 20).alias("siri_route_id"),
            F.concat(F.lit("j"), F.col("rid").cast("string")).alias("journey_ref"),
            F.concat(F.lit("v"), F.col("rid").cast("string")).alias("vehicle_ref"),
            F.col("sched").alias("scheduled_start_time"),
            F.when(F.col("rid") % 4 != 0, F.col("rid") % 90)
            .cast("int")
            .alias("duration_minutes"),
        ),
        "siri_ride"))
    _tables.append((
        spark.range(1, 21, numPartitions=1).select(
            F.col("id"),
            F.concat(F.lit("op"), (F.col("id") % 5).cast("string")).alias("operator_ref"),
            F.concat(F.lit("line"), F.col("id").cast("string")).alias("line_ref"),
        ),
        "siri_route"))
    _tables.append((
        spark.range(1, 31, numPartitions=1).select(
            F.col("id"), F.concat(F.lit("S"), F.col("id").cast("string")).alias("code")
        ),
        "siri_stop"))
    _tables.append((
        rides.select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("k"), F.col("rid")
        ).select(
            (2 * F.col("rid") - 1 + F.col("k")).alias("id"),
            F.col("rid").alias("siri_ride_id"),
            (1 + (F.col("rid") + F.col("k")) % 30).alias("siri_stop_id"),
            F.col("k").cast("int").alias("order"),
            F.when((F.col("rid") + F.col("k")) % 6 != 0, 100 + (F.col("rid") + F.col("k")) % 30)
            .alias("gtfs_stop_id"),
        ),
        "siri_ride_stop"))
    _tables.append((
        spark.range(0, 30, numPartitions=1).select(
            (100 + F.col("id")).alias("id"),
            (32.0 + F.col("id") / 100.0).alias("lat"),
            (34.0 + F.col("id") / 100.0).alias("lon"),
            F.concat(F.lit("city"), (F.col("id") % 7).cast("string")).alias("city"),
            F.concat(F.lit("stop "), F.col("id").cast("string")).alias("name"),
        ),
        "gtfs_stop"))
    _tables.append((
        rides.select(
            "rid", "sched", F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("j")
        ).select(
            ((F.col("rid") - 1) * 3 + F.col("j") + 1).alias("id"),
            (2 * F.col("rid") - 1 + F.pmod(F.col("j"), F.lit(2))).alias(
                "siri_ride_stop_id"
            ),
            F.lit(1).cast("long").alias("siri_snapshot_id"),
            F.when(
                ~((F.col("j") == 2) & (F.col("rid") % 9 == 0))
                & (F.col("rid") % 48 != 43),
                F.col("sched") + F.make_interval(mins=(F.col("j") * 25).cast("int")),
            ).alias("recorded_at_time"),
            (32.0 + ((F.col("rid") + F.col("j")) % 80) / 100.0).alias("lat"),
            (34.0 + ((F.col("rid") * 3 + F.col("j")) % 80) / 100.0).alias("lon"),
            (F.col("j") * 17 % 360).cast("int").alias("bearing"),
            (F.col("j") * 13 % 90).cast("int").alias("velocity"),
            (F.col("j") * 500).cast("int").alias("distance_from_journey_start"),
        ),
        "siri_vehicle_location"))
    _write_tables_parallel(base, _tables)



_SQL_PACKAGE_BACKFILL = f"""
    WITH r0 AS (
      SELECT CAST(event_id // 50 AS BIGINT) AS rid
      FROM events WHERE event_id % 50 = 0
    ),
    rides AS (
      SELECT rid,
             TIMESTAMP '{EPOCH}' + (rid % 48) * INTERVAL 1 HOUR AS sched,
             1 + rid % 20 AS route_id,
             CASE WHEN rid % 4 <> 0 THEN CAST(rid % 90 AS INT) END AS dur
      FROM r0
    ),
    rstops AS (
      SELECT 2 * rid - 1 + t.k AS rs_id, rid, CAST(t.k AS INT) AS k,
             1 + (rid + t.k) % 30 AS sid,
             CASE WHEN (rid + t.k) % 6 <> 0 THEN 100 + (rid + t.k) % 30 END AS gsid
      FROM rides CROSS JOIN (SELECT CAST(range AS BIGINT) AS k FROM range(0, 2)) t
    ),
    locs AS (
      SELECT r.rid, (r.rid - 1) * 3 + t.j + 1 AS loc_id,
             2 * r.rid - 1 + t.j % 2 AS rs_id,
             CASE WHEN NOT (t.j = 2 AND r.rid % 9 = 0) AND r.rid % 48 <> 43
                  THEN r.sched + t.j * 25 * INTERVAL 1 MINUTE END AS ts,
             32.0 + ((r.rid + t.j) % 80) / 100.0 AS lat,
             34.0 + ((r.rid * 3 + t.j) % 80) / 100.0 AS lon,
             CAST(t.j * 17 % 360 AS INT) AS bearing,
             CAST(t.j * 13 % 90 AS INT) AS velocity,
             CAST(t.j * 500 AS INT) AS dist
      FROM rides r CROSS JOIN (SELECT CAST(range AS BIGINT) AS j FROM range(0, 3)) t
    ),
    wide AS (
      SELECT l.loc_id, l.ts, l.lat, l.lon, l.bearing, l.velocity, l.dist,
             rs.rs_id, rs.k, r.rid,
             'j' || CAST(r.rid AS VARCHAR) AS jref,
             'v' || CAST(r.rid AS VARCHAR) AS vref,
             r.sched, r.dur,
             'op' || CAST(r.route_id % 5 AS VARCHAR) AS op,
             'line' || CAST(r.route_id AS VARCHAR) AS line,
             'S' || CAST(rs.sid AS VARCHAR) AS scode,
             CASE WHEN rs.gsid IS NOT NULL THEN 32.0 + (rs.gsid - 100) / 100.0 END AS glat,
             CASE WHEN rs.gsid IS NOT NULL THEN 34.0 + (rs.gsid - 100) / 100.0 END AS glon,
             CASE WHEN rs.gsid IS NOT NULL THEN 'city' || CAST((rs.gsid - 100) % 7 AS VARCHAR) END AS gcity,
             CASE WHEN rs.gsid IS NOT NULL THEN 'stop ' || CAST(rs.gsid - 100 AS VARCHAR) END AS gname
      FROM locs l
      JOIN rstops rs ON rs.rs_id = l.rs_id
      JOIN rides r ON r.rid = rs.rid
      WHERE l.ts IS NOT NULL
    ),
    h AS (
      SELECT date_trunc('hour', ts) AS hr,
             {row_hash_sql(
               "loc_id", "ts", "lat", "lon", "bearing", "velocity", "dist",
               "rs_id", "k", "rid", "jref", "vref", "sched", "dur",
               "op", "line", "scode", "glat", "glon", "gcity", "gname",
             )} AS hv
      FROM wide
    ),
    ph AS (SELECT hr, SUM(hv) + COUNT(*) AS mhash, COUNT(*) AS n FROM h GROUP BY hr)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(SUM(mhash) AS BIGINT) AS package_hash_sum,
           CAST(SUM(mhash) AS BIGINT) AS csv_hash_sum,
           CAST(COUNT(*) AS BIGINT) AS written_run1,
           CAST(0 AS BIGINT) AS skipped_run1,
           CAST(0 AS BIGINT) AS written_run2,
           CAST(COUNT(*) AS BIGINT) AS skipped_run2
    FROM ph
    """


@query("package_backfill_invariance", _SQL_PACKAGE_BACKFILL)
def package_backfill_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKAGER-BACKFILL invariance: runs the REAL siri-packages-backfill
    task (stride_tasks.py — the one-distributed-job catch-up path of the
    reference's hourly packager, packagers/siri.py) twice on a synthetic
    flat-export lake and pins, against an analytic oracle:

    - the per-hour package MANIFESTS (count of hours, total rows, and
      the sum of the manifests' order-insensitive content hashes — the
      F14 kernel the skip-if-unchanged protocol keys on);
    - the written CSV ARTIFACT BYTES: every hour's CSV is read back
      with the manifest's schema contract (all-string then cast, the
      reference's CAST_TO_STRINGS strategy) and re-hashed — a
      lost/duplicated row, a misquoted field, or a lossy double/
      timestamp round-trip fails ``csv_hash_sum``;
    - the effectively-once publish contract: run 2 must skip EVERY hour
      (manifest hash unchanged) and write nothing.

    Scale shape (the task's): ONE aggregation computes every hour's
    hash, ONE partitioned write materializes changed hours — two Spark
    jobs for any number of hours; hours are bounded (48) while
    rows-per-hour grow with sf. Self-contained: temp dirs removed
    before returning."""
    import glob  # noqa: PLC0415
    import json  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from ..sources.csv_package import manifest_fields  # noqa: PLC0415
    from .tasks import run_task  # noqa: PLC0415

    with tempfile.TemporaryDirectory(prefix="pkg_backfill_", ignore_cleanup_errors=True) as base:
        _build_packager_lake(spark, sf_dir, base)
        out = f"{base}/packages"
        m1 = run_task(spark, "siri-packages-backfill", base_dir=base, out_dir=out)
        m2 = run_task(spark, "siri-packages-backfill", base_dir=base, out_dir=out)

        manifests = [
            json.load(open(p)) for p in sorted(glob.glob(f"{out}/*-metadata.json"))
        ]
        fields = manifest_fields(manifests[0])
        all_string = ", ".join(f"`{f['name']}` string" for f in fields)
        typed = (
            spark.read.option("header", True)
            .schema(all_string)
            .csv(sorted(glob.glob(f"{out}/*.csv")))
            .select(*[F.col(f["name"]).cast(f["type"]).alias(f["name"]) for f in fields])
        )
        hv = row_hash(*[F.col(f["name"]) for f in fields])
        csv_sum = typed.agg(
            (F.sum(hv) + F.count(F.lit(1))).alias("s")
        ).collect()[0]["s"]

        row = {
            "n_hours": len(manifests),
            "total_rows": sum(int(m["count_of_rows"]) for m in manifests),
            "package_hash_sum": sum(int(m["hash"]) for m in manifests),
            "csv_hash_sum": int(csv_sum),
            "written_run1": int(m1["written"]),
            "skipped_run1": int(m1["skipped"]),
            "written_run2": int(m2["written"]),
            "skipped_run2": int(m2["skipped"]),
        }
        schema = ", ".join(f"{k} long" for k in row)
        return spark.createDataFrame([tuple(row.values())], schema)


# ---------------------------------------------------------------------------
# Ledger-driven aggregation invariance: the reference's
# idempotent_process_gtfs_data loop (only never-processed or
# previously-FAILED dates recompute; a date is successful only at >= 90%
# completeness) gets a hard driver verdict.
# ---------------------------------------------------------------------------


def _build_gtfs_lake(spark: SparkSession, sf_dir: str, base: str) -> None:
    """GTFS-side lake derived from events (gid = event_id/25).
    Planted contract edges, mirrored in the oracle:

    - day 3 (gid % 10 == 3): exactly HALF its rides are stopless
      (gid % 4 == 1 — gids ≡ 3 mod 10 alternate 3,1 mod 4), so day 3
      fails the 90% completeness gate at EVERY sf and is re-selected by
      the ledger on every rerun (recorded failed, never successful);
    - other days: ~1.5% stopless (gid % 67 == 0) — comfortably >= 90%;
    - gtfs_ride.start_time pre-exists NON-NULL, so the only-if-null
      enrich must NOT overwrite it with the aggregated first departure
      (end_time starts NULL and is set to the last arrival)."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit(EPOCH).cast("timestamp")
    gid = (F.col("event_id") / 25).cast("long").alias("gid")
    g0 = ev.where(F.col("event_id") % 25 == 0).select(gid)
    # Checkpointed once: both gtfs_ride and gtfs_ride_stop derive from
    # `rides` (one events scan instead of two; guide §2.4).
    rides = g0.select(
        "gid",
        (F.col("gid") % 10).alias("day"),
        (1 + F.col("gid") % 5).alias("r"),
        (
            epoch
            + F.make_interval(
                days=(F.col("gid") % 10).cast("int"),
                hours=(6 + F.col("gid") % 12).cast("int"),
            )
        ).alias("start0"),
        (
            ((F.col("gid") % 10 == 3) & (F.col("gid") % 4 == 1))
            | ((F.col("gid") % 10 != 3) & (F.col("gid") % 67 == 0))
        ).alias("stopless"),
    ).localCheckpoint(eager=True)
    _tables = []
    _tables.append((
        spark.range(10, numPartitions=1)
        .select(F.col("id").alias("d"))
        .crossJoin(spark.range(1, 6, numPartitions=1).select(F.col("id").alias("r")))
        .select(
            (F.col("d") * 5 + F.col("r")).alias("id"),
            F.date_add(F.lit("2024-03-01").cast("date"), F.col("d").cast("int")).alias(
                "date"
            ),
            F.concat(F.lit("op"), (F.col("r") % 3).cast("string")).alias("operator_ref"),
            F.concat(F.lit("line"), F.col("r").cast("string")).alias("line_ref"),
        ),
        "gtfs_route"))
    _tables.append((
        rides.select(
            F.col("gid").alias("id"),
            (F.col("day") * 5 + F.col("r")).alias("gtfs_route_id"),
            F.concat(F.lit("g"), F.col("gid").cast("string")).alias("journey_ref"),
            F.col("start0").alias("start_time"),
        ),
        "gtfs_ride"))
    _tables.append((
        rides.where(~F.col("stopless"))
        .select(
            "gid", "start0",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("seq"),
        )
        .select(
            ((F.col("gid") - 1) * 3 + F.col("seq")).alias("id"),
            F.col("gid").alias("gtfs_ride_id"),
            (1 + (F.col("gid") + F.col("seq")) % 30).alias("gtfs_stop_id"),
            F.col("seq").cast("int").alias("stop_sequence"),
            (F.col("start0") + F.make_interval(mins=(F.col("seq") * 10).cast("int"))).alias(
                "arrival_time"
            ),
            (
                F.col("start0")
                + F.make_interval(mins=(F.col("seq") * 10 + 1).cast("int"))
            ).alias("departure_time"),
        ),
        "gtfs_ride_stop"))
    _write_tables_parallel(base, _tables)



_SQL_RIDE_AGG_LEDGER = f"""
    WITH g0 AS (
      SELECT CAST(event_id // 25 AS BIGINT) AS gid
      FROM events WHERE event_id % 25 = 0
    ),
    grides AS (
      SELECT gid, gid % 10 AS day, 1 + gid % 5 AS r,
             TIMESTAMP '{EPOCH}' + (gid % 10) * INTERVAL 1 DAY
               + (6 + gid % 12) * INTERVAL 1 HOUR AS start0,
             ((gid % 10 = 3 AND gid % 4 = 1)
              OR (gid % 10 <> 3 AND gid % 67 = 0)) AS stopless
      FROM g0
    ),
    -- post-run state: only-if-null keeps start_time; end/first/last come
    -- from the stop aggregation (first/last by (stop_sequence, id))
    enr AS (
      SELECT gid, day * 5 + r AS groute, start0,
             CASE WHEN NOT stopless THEN start0 + 30 * INTERVAL 1 MINUTE END AS end_t,
             CASE WHEN NOT stopless THEN (gid - 1) * 3 + 1 END AS first_id,
             CASE WHEN NOT stopless THEN (gid - 1) * 3 + 3 END AS last_id
      FROM grides
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rides,
           CAST(COUNT(end_t) AS BIGINT) AS n_end_set,
           CAST(SUM({row_hash_sql(
             'gid', 'groute',
             "date_diff('second', TIMESTAMP '1970-01-01 00:00:00', start0)",
             "date_diff('second', TIMESTAMP '1970-01-01 00:00:00', end_t)",
             'first_id', 'last_id',
           )}) AS BIGINT) AS ride_agg_hash,
           CAST(10 AS BIGINT) AS dates_run1,
           CAST(9 AS BIGINT) AS ok_run1,
           CAST(1 AS BIGINT) AS failed_run1,
           CAST(1 AS BIGINT) AS dates_run2,
           CAST(11 AS BIGINT) AS n_ledger_rows,
           CAST(9 AS BIGINT) AS n_ledger_ok
    FROM enr
    """


@query("ride_aggregation_ledger_invariance", _SQL_RIDE_AGG_LEDGER)
def ride_aggregation_ledger_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEDGER-DRIVEN recompute contract (ref
    gtfs/idempotent_process_gtfs_data.py:30-124 + update_ride_aggregations
    .py:32-74): runs the REAL gtfs-update-ride-aggregations task twice on
    an events-derived GTFS lake and pins, against an analytic oracle:

    - the enriched ``gtfs_ride`` snapshot (first/last stop by
      stop_sequence, end_time = last arrival, start_time NOT overwritten
      — the only-if-null guard — and stopless rides keeping NULLs);
    - the 90% completeness gate: day 3 is built to fail it at every sf
      (half its rides stopless), so run 1 records 9 successful dates +
      1 failed;
    - the ledger re-selection rule: run 2 reprocesses EXACTLY the failed
      date (dates_run2 = 1, converging to the same state), and the
      ledger accumulates 9 success + 2 failure rows.

    Scale shape (the task's): one distributed min_by/max_by aggregation
    over ride stops for ALL todo dates at once (the reference loops
    dates in Python), ledger bookkeeping as parquet appends, aggregate
    tables refreshed per run. Self-contained: temp lake removed before
    returning."""
    import tempfile  # noqa: PLC0415

    from .tasks import run_task  # noqa: PLC0415

    with tempfile.TemporaryDirectory(prefix="gtfs_ledger_", ignore_cleanup_errors=True) as base:
        _build_gtfs_lake(spark, sf_dir, base)
        m1 = run_task(spark, "gtfs-update-ride-aggregations", base_dir=base)
        m2 = run_task(spark, "gtfs-update-ride-aggregations", base_dir=base)

        rides = lake.read_table(spark, base, "gtfs_ride")
        h = row_hash(
            F.col("id"),
            F.col("gtfs_route_id"),
            F.unix_timestamp("start_time"),
            F.unix_timestamp("end_time"),
            F.col("first_gtfs_ride_stop_id"),
            F.col("last_gtfs_ride_stop_id"),
        )
        ledger = lake.read_table(spark, base, "gtfs_data_task")
        # one aggregation job for both ledger counters (was two)
        lrow = ledger.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("success"), 1)).alias("ok"),
        ).collect()[0]
        n_ledger, n_ok = lrow["n"], lrow["ok"]
        return (
            rides.agg(
                F.count(F.lit(1)).alias("n_rides"),
                F.count("end_time").alias("n_end_set"),
                F.sum(h).alias("ride_agg_hash"),
            )
            .withColumn("dates_run1", F.lit(int(m1["dates_processed"])).cast("long"))
            .withColumn("ok_run1", F.lit(int(m1["dates_ok"])).cast("long"))
            .withColumn("failed_run1", F.lit(int(m1["dates_failed"])).cast("long"))
            .withColumn("dates_run2", F.lit(int(m2["dates_processed"])).cast("long"))
            .withColumn("n_ledger_rows", F.lit(int(n_ledger)).cast("long"))
            .withColumn("n_ledger_ok", F.lit(int(n_ok)).cast("long"))
            .localCheckpoint(eager=True)
        )


_SQL_HOURLY_LOOP = """
    WITH r0 AS (
      SELECT CAST(event_id // 50 AS BIGINT) AS rid
      FROM events WHERE event_id % 50 = 0
    ),
    -- hour slot of each ride's telemetry (all three pings share it)
    -- hour 43 is telemetry-less by construction (every ping NULL-ts),
    -- so it is ABSENT here while sitting inside the 12-hour sweep
    -- window: the 'empty' outcome class is exercised on both runs
    hrs AS (SELECT DISTINCT rid % 48 AS h FROM r0 WHERE rid % 48 <> 43),
    b AS (SELECT MAX(h) AS hi, MIN(h) AS lo FROM hrs),
    -- the task runs with max_hours=12 (newest-first; scanned counts
    -- EVERY stepped hour, empty slots included) and force_days=0
    -- (force_cutoff == the newest hour, so on run 2 only that hour
    -- re-runs the hash compare; every older present hour
    -- short-circuits on its manifest without any Spark job)
    w AS (SELECT LEAST(b.hi - b.lo + 1, 12) AS n_scan, b.hi AS hi FROM b),
    inwin AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_present
      FROM hrs, w WHERE hrs.h > w.hi - w.n_scan
    )
    SELECT CAST(w.n_scan AS BIGINT) AS scanned_run1,
           inwin.n_present AS created_run1,
           CAST(w.n_scan - inwin.n_present AS BIGINT) AS empty_run1,
           CAST(w.n_scan AS BIGINT) AS scanned_run2,
           CAST(0 AS BIGINT) AS created_run2,
           CAST(0 AS BIGINT) AS updated_run2,
           CAST(1 AS BIGINT) AS skipped_run2,
           (inwin.n_present - 1) AS skipped_exists_run2,
           CAST(w.n_scan - inwin.n_present AS BIGINT) AS empty_run2
    FROM w CROSS JOIN inwin
    """


@query("package_hourly_loop_invariance", _SQL_HOURLY_LOOP)
def package_hourly_loop_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's HOURLY packager loop contract (packagers/siri.py
    :206-240 — the @daily production task, vs the backfill's one-job
    catch-up): runs the REAL siri-hourly-update-packages task twice on
    the packager lake and pins the newest-first hour sweep's outcome
    classification against an analytic oracle:

    - run 1: every present hour publishes a package ('created'); hour
      slots inside the span with no telemetry classify 'empty' (no
      manifest is written for them — the sweep and the backfill agree;
      slot rid%48==43 is telemetry-less BY CONSTRUCTION inside the
      12-hour window, so the class is non-degenerate at every sf);
    - run 2 with ``force_days=0``: every hour older than the
      force-refresh horizon (= the newest hour) short-circuits on the
      existing manifest WITHOUT any recompute ('skipped_exists', the
      reference's :218 horizon); the newest hour re-runs the hash
      compare and skips unchanged ('skipped'); nothing is created or
      updated. ``max_hours=12`` bounds the sweep (newest-first, the
      reference's budget knob).

    The artifact bytes themselves are pinned by the backfill twin
    (package_backfill_invariance — same lake, same manifests); this row
    pins the incremental CONTROL FLOW. Self-contained: temp dirs
    removed before returning."""
    import tempfile  # noqa: PLC0415

    from .tasks import run_task  # noqa: PLC0415

    with tempfile.TemporaryDirectory(prefix="pkg_hourly_", ignore_cleanup_errors=True) as base:
        _build_packager_lake(spark, sf_dir, base)
        out = f"{base}/packages"
        # max_hours bounds the sweep (the loop pays ~2 Spark jobs per
        # scanned hour — an unbounded 48-hour sweep measured 87 s at
        # sf0.1); force_days=0 puts the force-refresh horizon at the
        # newest hour so run 2 exercises BOTH skip classes.
        kw = {"base_dir": base, "out_dir": out, "force_days": 0, "max_hours": 12}
        m1 = run_task(spark, "siri-hourly-update-packages", **kw)
        m2 = run_task(spark, "siri-hourly-update-packages", **kw)
        row = {
            "scanned_run1": int(m1["hours_scanned"]),
            "created_run1": int(m1["created"]),
            "empty_run1": int(m1["empty"]),
            "scanned_run2": int(m2["hours_scanned"]),
            "created_run2": int(m2["created"]),
            "updated_run2": int(m2["updated"]),
            "skipped_run2": int(m2["skipped"]),
            "skipped_exists_run2": int(m2["skipped_exists"]),
            "empty_run2": int(m2["empty"]),
        }
        schema = ", ".join(f"{k} long" for k in row)
        return spark.createDataFrame([tuple(row.values())], schema)

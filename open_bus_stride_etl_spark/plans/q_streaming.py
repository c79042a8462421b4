"""Oracle-checked Structured Streaming queries.

The reference has no streaming runtime (SURVEY.md §2.9) — these queries
prove the engine's streaming variants compute EXACTLY the batch answer:
each runs a real Structured Streaming job (readStream -> watermarked
transformation -> one availableNow ``foreachBatch`` run through
streaming/bounded.py:run_bounded) and is hash-compared against a plain
batch SQL oracle. Every sink writes each micro-batch to a temp parquet
dir — overwrite in complete mode, append in append/update mode, or a
query-specific foreachBatch function (the keyed upsert, the LSH index
probe) — which ``_run_stream`` reads back with the known schema.
Complete/append-mode output over a bounded source is the batch result,
so the DuckDB comparison is exact.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import text as tx
from ..operators.first_last import first_last_aggs
from ..session import configure
from ..streaming.bounded import BatchFn, run_bounded, write_each_batch
from .q_llm import _SQL_BUCKETS, _SQL_MINHASH, _sql_shingles
from .registry import query


def _table_stream(
    spark: SparkSession, sf_dir: str, table: str, ts_cols: tuple[str, ...] = ()
) -> tuple[DataFrame, str]:
    """readStream over a test table with the same nanos->timestamp
    normalization as sources/lake.py:load_table applied to ``ts_cols``.
    Returns the stream and the symlink source dir (deleted by
    ``_run_stream`` after the run)."""
    configure(spark)
    path = f"{sf_dir}/{table}.parquet"
    schema = spark.read.parquet(path).schema
    # FileStreamSource requires a directory; the test tables are single
    # parquet files, so stream a temp dir holding a symlink to the file.
    src_dir = tempfile.mkdtemp(prefix=f"{table}_src_")
    os.symlink(os.path.abspath(path), os.path.join(src_dir, f"{table}.parquet"))
    stream = spark.readStream.schema(schema).parquet(src_dir)
    for c in ts_cols:
        if isinstance(schema[c].dataType, T.LongType):
            stream = stream.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(schema[c].dataType, T.TimestampNTZType):
            # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
            # NTZ, which withWatermark rejects; session tz is UTC so the
            # cast is a pure relabel (same normalization as
            # sources/lake.py:load_table).
            stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    return stream, src_dir


def _events_stream(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    return _table_stream(spark, sf_dir, "events", ts_cols=("ts",))


# Stateful-shuffle width for the BOUNDED harness runs, sized from the
# source's byte volume. A streaming query pays per-partition fixed costs
# the batch path doesn't: every micro-batch initializes/commits one
# state store per shuffle partition, and availableNow adds a closing
# no-data batch that touches all of them again. On toy bounded sources
# those fixed costs dominated (streaming_click_purchase_join spent
# 6.3 s at sf0.1 on 32-way state-store init x several batches; 8
# partitions -> 3.0 s) — but a CONSTANT narrow width is its own scale
# trap: the same 8 partitions starved the sf10 stream-stream join
# (290 MB of events through 8 state tasks: 27.5 s, a 10x x100 ratio
# where the r3 32-wide run scaled at ~2x). So the width follows the
# data: one state partition per ~8 MB of bounded source, clamped to
# [8, ceiling] where the CEILING IS THE SESSION'S defaultParallelism
# (cluster-correct by construction — on local[32] that is the same 32
# as before; on a 1000-core cluster the width can grow to the cores
# available rather than a box constant). Production streams size this
# to the cluster (state-store count is fixed at first checkpoint); the
# scope restores the caller's value in `finally`.
_STREAM_PART_BYTES = 8 << 20
_STREAM_PART_MIN = 8


def _stream_partitions(src_dir: str, spark: SparkSession) -> int:
    size = 0
    for name in os.listdir(src_dir):
        try:
            size += os.path.getsize(os.path.join(src_dir, name))  # follows symlinks
        except OSError:
            pass
    ceiling = max(_STREAM_PART_MIN, spark.sparkContext.defaultParallelism)
    return max(_STREAM_PART_MIN, min(ceiling, -(-size // _STREAM_PART_BYTES)))


@contextlib.contextmanager
def _stream_shuffle_scope(spark: SparkSession, src_dir: str):
    """Temporarily size spark.sql.shuffle.partitions to the bounded
    source's volume, restoring the caller's value on exit."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_stream_partitions(src_dir, spark)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def _run_stream(
    df: DataFrame,
    spark: SparkSession,
    src_dir: str,
    mode: str = "append",
    sink: Callable[[str], BatchFn] | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Run the bounded stream to completion and return a SELF-CONTAINED
    result. Each micro-batch goes to a parquet dir under one temp root
    — ``write_each_batch`` by default, or ``sink(out_dir)``'s
    foreachBatch function — which is read back with the KNOWN schema
    (``schema``, default the stream's) and re-materialized as
    localCheckpoint blocks (executor memory, spillable; reclaimed by the
    ContextCleaner when the caller drops the DataFrame). The temp root
    (checkpoint + output) and the source dir are deleted before
    returning, on every exit path: a bench sweep runs each streaming
    query 2-3 times and a long-lived scheduler session would otherwise
    accumulate them without bound. A run with no batches writes nothing;
    reading the empty out dir with the known schema returns the correct
    empty DataFrame, where schema inference would throw."""
    try:
        with tempfile.TemporaryDirectory(prefix="stream_run_", ignore_cleanup_errors=True) as root:
            out_dir = os.path.join(root, "out")
            with _stream_shuffle_scope(spark, src_dir):
                run_bounded(
                    df,
                    sink(out_dir) if sink else write_each_batch(out_dir, mode),
                    os.path.join(root, "ckpt"),
                    mode,
                )
            os.makedirs(out_dir, exist_ok=True)
            out = spark.read.schema(schema or df.schema).parquet(out_dir)
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


@query(
    "streaming_hourly_events",
    """
    SELECT date_trunc('hour', ts) AS hour_start,
           min(ts) AS min_ts, max(ts) AS max_ts,
           count(*) AS n_rows
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
)
def streaming_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packager's per-hour bookkeeping (§2.4 A9) as a REAL streaming
    job — tumbling 1h windows with a watermark — whose complete-mode
    result must hash-match the batch GROUP BY oracle."""
    from ..streaming.incremental import stream_hourly_stats  # noqa: PLC0415

    stream, src_dir = _events_stream(spark, sf_dir)
    agg = stream_hourly_stats(stream.withColumnRenamed("ts", "recorded_at_time"))
    return _run_stream(agg, spark, src_dir, mode="complete")


@query(
    "streaming_user_first_last",
    """
    WITH agg AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n_points
      FROM events GROUP BY user_id
    ),
    f AS (
      SELECT e.user_id, min(e.event_id) AS first_event_id
      FROM events e JOIN agg a ON e.user_id = a.user_id AND e.ts = a.first_ts
      GROUP BY e.user_id
    ),
    l AS (
      SELECT e.user_id, max(e.event_id) AS last_event_id
      FROM events e JOIN agg a ON e.user_id = a.user_id AND e.ts = a.last_ts
      GROUP BY e.user_id
    )
    SELECT a.user_id, f.first_event_id, l.last_event_id,
           a.first_ts, a.last_ts, a.n_points
    FROM agg a
    LEFT JOIN f ON f.user_id = a.user_id
    LEFT JOIN l ON l.user_id = a.user_id
    """,
)
def streaming_user_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first/last event per user (the A4 aggregation under
    readStream): watermarked groupBy with the exact batch min_by/max_by
    expressions from operators/first_last.py:first_last_aggs."""
    stream, src_dir = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "4 days")
        .groupBy("user_id")
        .agg(*first_last_aggs("ts", ["event_id"], ["event_id"]))
    )
    out = _run_stream(agg, spark, src_dir, mode="complete")
    return out.select(
        "user_id",
        "first_event_id",
        "last_event_id",
        F.col("min_ts").alias("first_ts"),
        F.col("max_ts").alias("last_ts"),
        F.col("n_rows").alias("n_points"),
    )


@query(
    "streaming_session_windows",
    """
    WITH e AS (SELECT user_id, ts FROM events WHERE ts IS NOT NULL AND user_id % 25 = 0),
    o AS (SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM e),
    m AS (SELECT user_id, ts,
                 CASE WHEN pts IS NULL OR ts - pts > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk FROM o),
    g AS (SELECT user_id, ts,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS grp FROM m)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, grp
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The W2 sessionization (30-minute inactivity gap) as a REAL
    Structured Streaming job: watermarked session_window aggregation
    over readStream, complete mode over the bounded source, hash-checked
    against a gaps-and-islands CTE oracle (the batch session_window
    twin carried the same oracle until the r5 registry consolidation
    retired it; `F.session_window` itself works identically in batch).
    This is the stateful-merge operator
    the batch variant only implies — streaming session windows merge
    adjacent per-batch sessions in the state store, which is what a
    continuous GPS/event feed needs at scale."""
    raw_stream, src_dir = _events_stream(spark, sf_dir)
    ev = raw_stream.where(F.col("ts").isNotNull() & (F.col("user_id") % 25 == 0))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_stream(agg, spark, src_dir, mode="complete")
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


@query(
    "streaming_ride_tracker",
    """
    WITH e AS (SELECT user_id, event_id, ts FROM events WHERE ts IS NOT NULL),
    agg AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n_points
      FROM e GROUP BY user_id
    ),
    f AS (
      SELECT e.user_id, min(e.event_id) AS first_event_id
      FROM e JOIN agg a ON e.user_id = a.user_id AND e.ts = a.first_ts
      GROUP BY e.user_id
    ),
    l AS (
      SELECT e.user_id, max(e.event_id) AS last_event_id
      FROM e JOIN agg a ON e.user_id = a.user_id AND e.ts = a.last_ts
      GROUP BY e.user_id
    )
    SELECT a.user_id, f.first_event_id, l.last_event_id,
           a.first_ts, a.last_ts, a.n_points,
           FALSE AS finalized, CAST(NULL AS INTEGER) AS duration_minutes
    FROM agg a
    JOIN f ON f.user_id = a.user_id
    JOIN l ON l.user_id = a.user_id
    """,
)
def streaming_ride_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful streaming operator under the driver:
    applyInPandasWithState ride tracking (per-key state machine with an
    event-time settle timeout, streaming/incremental.py:_track_ride)
    run over the bounded events source. One availableNow batch means
    every key emits exactly one update-mode snapshot — finalized=false,
    NULL duration, (ts,id)-deterministic endpoints — which is precisely
    the batch first/last aggregation, so even this non-SQL operator
    gets a full value-hash oracle rather than a rows-only check. The
    settle/finalize transition is pinned by
    tests/test_streaming.py::test_stream_ride_tracker_state_and_finalize.

    The one-snapshot equivalence requires that NO ride settles during
    the run: availableNow's closing no-data batch advances the
    event-time watermark to max_ts - watermark_delay, and any ride with
    last_ts + settle below that fires its timeout and emits a SECOND
    finalized=true row, breaking the hash. Rather than silently relying
    on the generator's current ~2-day span, the watermark delay is
    DERIVED from the data (span + 1 day margin, floor 4 days — one
    cheap min/max over the batch table), so the invariant holds on any
    future dataset by construction."""
    from ..sources.lake import load_table  # noqa: PLC0415
    from ..streaming.incremental import stream_ride_tracker  # noqa: PLC0415

    span = (
        load_table(spark, sf_dir, "events")
        .agg((F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("s"))
        .collect()[0]["s"]
        or 0
    )
    wm_days = max(4, int(span // 86400) + 2)

    raw_stream, src_dir = _events_stream(spark, sf_dir)
    stream = raw_stream.select(
        F.col("user_id").alias("siri_ride_id"),
        F.col("event_id").alias("id"),
        F.col("ts").alias("recorded_at_time"),
    )
    out = _run_stream(
        stream_ride_tracker(stream, watermark=f"{wm_days} days"),
        spark,
        src_dir,
        mode="update",
    )
    return out.select(
        F.col("siri_ride_id").alias("user_id"),
        F.col("first_vehicle_location_id").alias("first_event_id"),
        F.col("last_vehicle_location_id").alias("last_event_id"),
        F.col("first_ts"),
        F.col("last_ts"),
        F.col("n_points"),
        F.col("finalized"),
        F.col("duration_minutes"),
    )


@query(
    "streaming_enriched_events",
    """
    SELECT e.event_id, e.ts, e.user_id, e.event_type,
           c.c_name AS customer_name, c.c_mktsegment AS mktsegment
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def streaming_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (§2.9): the streaming fact feed enriched
    against a batch dimension table — the standard streaming-ETL enrich
    stage. The static side loads through the lake reader and broadcasts
    (Spark re-reads it per micro-batch, so dim updates are picked up
    without restarting the stream); append mode over the bounded source
    emits each enriched row exactly once, hash-matching the plain batch
    join oracle."""
    from ..sources.lake import load_table  # noqa: PLC0415

    raw_stream, src_dir = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = raw_stream.join(
        F.broadcast(dim), raw_stream["user_id"] == dim["c_custkey"]
    ).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    return _run_stream(joined, spark, src_dir)


@query(
    "streaming_click_purchase_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c
    JOIN events p ON p.user_id = c.user_id
                 AND c.event_type = 'click' AND p.event_type = 'purchase'
                 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.ts IS NOT NULL AND p.ts IS NOT NULL
    """,
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join with an event-time range condition —
    funnel attribution (every purchase within 30 minutes of a same-user
    click), the canonical two-feed streaming join. Both sides carry
    watermarks so the state store evicts clicks once no purchase can
    still match them (the time-range bound + watermark IS the state-TTL
    contract at scale); append mode over the bounded source emits each
    matched pair exactly once, hash-matching the batch join oracle."""
    raw_stream, src_dir = _events_stream(spark, sf_dir)
    base = raw_stream.where(F.col("ts").isNotNull())
    clicks = (
        base.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        base.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    return _run_stream(joined, spark, src_dir)


@query(
    "streaming_dedup_exact",
    f"SELECT DISTINCT {tx.prefix_fingerprint_sql('text')} AS fingerprint FROM documents",
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup — the incremental-ingest twin of
    dedup_exact_groups and the state-BOUNDED variant of a global
    distinct: ``dropDuplicatesWithinWatermark`` on the normalized-prefix
    fingerprint keeps one row per fingerprint and, at scale, EVICTS each
    fingerprint's state once the event-time watermark passes it — so a
    continuously-ingesting corpus pays state proportional to the
    watermark window, not to corpus history (the plain streaming
    ``dropDuplicates`` grows state forever; the batch incremental path
    is dedup_incremental's anti-join against the seen-index). Ingest
    time is synthesized deterministically from doc_id (the bounded test
    table has no ingest column), so the synthetic event-time span is
    exactly max(doc_id) seconds — and the oracle-exactness invariant
    (append mode emits exactly the distinct fingerprint set) requires
    that NO fingerprint's state is evicted mid-run, i.e. the watermark
    delay must cover the whole span. Rather than asserting the span is
    "well under 1h" (false beyond 3600 docs — a multi-file source or
    trigger split would silently re-emit duplicates >delay apart), the
    delay is DERIVED from the data like streaming_ride_tracker's: one
    cheap max(doc_id) over the batch table, +1h margin, floor 1h. At
    production scale the delay is the ingest-lateness bound instead,
    and re-emitting a fingerprint last seen beyond it is the documented
    state/recall trade. Which physical row survives per fingerprint is
    arrival-order dependent, so only the KEY column is emitted
    (deterministic by construction); survivor election on payload is
    the batch twin's job (min doc_id = keeper)."""
    from ..sources.lake import load_table  # noqa: PLC0415

    span_s = (
        load_table(spark, sf_dir, "documents").agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        or 0
    )
    wm_hours = max(1, int(span_s) // 3600 + 2)

    raw, src_dir = _table_stream(spark, sf_dir, "documents")
    d = raw.select(
        tx.prefix_fingerprint(F.col("text")).alias("fingerprint"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ingest_ts"),
    )
    deduped = (
        d.withWatermark("ingest_ts", f"{wm_hours} hours")
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("fingerprint")
    )
    return _run_stream(deduped, spark, src_dir)


@query(
    "streaming_hourly_distinct_users",
    """
    SELECT date_trunc('hour', ts) AS hour_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_events
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
)
def streaming_hourly_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful DISTINCT aggregation under streaming: per-hour unique
    user counts via a watermarked ``collect_set`` (streaming forbids
    COUNT(DISTINCT) directly — the set IS the state, merged across
    micro-batches and evicted with its window behind the watermark).
    This is the cardinality-bookkeeping shape (unique vehicles per
    hour, unique docs per crawl window) that neither the running
    counts (streaming_hourly_events) nor the batch A11 distinct-set
    query exercises in streaming form. Complete mode over the bounded
    source makes the merged sets exactly the batch sets, so the count
    hash-matches the COUNT(DISTINCT) oracle. State note for unbounded
    use: per-window state is O(distinct keys); beyond memory, the
    exact set swaps for approx_count_distinct (sketch state, no
    oracle-exactness) — the documented trade, not a silent cap."""
    stream, src_dir = _events_stream(spark, sf_dir)
    agg = (
        stream.where(F.col("ts").isNotNull())
        .withWatermark("ts", "4 days")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.size(F.collect_set("user_id")).cast("long").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    out = _run_stream(agg, spark, src_dir, mode="complete")
    return out.select(
        F.col("w.start").alias("hour_start"), "n_users", "n_events"
    )


@query(
    "streaming_upsert_snapshot",
    """
    WITH v AS (
      SELECT user_id, event_id, ts,
             (CAST(floor(date_part('epoch', ts)) AS BIGINT) << 24)
               | (event_id & 16777215) AS ver
      FROM events WHERE ts IS NOT NULL
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ver DESC) AS rn
          FROM v)
    SELECT user_id, event_id AS last_event_id, ts AS last_ts, ver
    FROM r WHERE rn = 1
    """,
)
def streaming_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed-UPSERT sink under the oracle: stream the events table
    through ``writeStream.foreachBatch(parquet_upsert_sink)`` — each
    micro-batch latest-wins-merged into a keyed parquet snapshot
    (streaming/upsert_sink.py; the plain-parquet MERGE INTO every
    continuously-updated serving table needs, and the streaming form of
    the reference's keyed UPDATE..FROM tasks). The version is a total
    order (epoch-seconds << 24 | low event-id bits — event ids are
    unique and < 2^24 at every test SF), so the final snapshot is
    exactly "the newest event per user" and hash-matches the batch
    row_number oracle regardless of how many micro-batches the source
    splits into (latest-wins is associative; the multi-batch and
    partitioned/idempotent-replay mechanics are pinned by
    tests/test_upsert_sink.py). The snapshot is read back and
    localCheckpoint-ed so the temp dirs can be deleted immediately
    (self-contained-results rule)."""
    from ..streaming.upsert_sink import parquet_upsert_sink  # noqa: PLC0415

    stream, src_dir = _events_stream(spark, sf_dir)
    ver = F.shiftleft(F.unix_timestamp("ts"), 24).bitwiseOR(
        F.col("event_id").bitwiseAND(F.lit(16777215))
    )
    v = stream.where(F.col("ts").isNotNull()).select(
        "user_id", "event_id", "ts", ver.alias("ver")
    )
    out = _run_stream(
        v, spark, src_dir, sink=lambda snap: parquet_upsert_sink(snap, ["user_id"], "ver")
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        "ver",
    )


@query(
    "streaming_dedup_lsh",
    "WITH "
    + _sql_shingles("documents")
    + ", "
    + _SQL_MINHASH
    + ", "
    + _SQL_BUCKETS
    + """,
    idx AS (SELECT DISTINCT bucket FROM buckets WHERE doc_id % 5 = 0),
    stream_b AS (SELECT doc_id, bucket FROM buckets WHERE doc_id % 5 <> 0)
    SELECT s.doc_id, CAST(COUNT(i.bucket) AS BIGINT) AS n_bands_hit
    FROM stream_b s LEFT JOIN idx i ON i.bucket = s.bucket
    GROUP BY s.doc_id
    """,
)
def streaming_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup suppression against a PERSISTED seen-corpus
    LSH band index — the continuous-ingest shape of a training-data
    pipeline: the crawler streams new documents, and each one is
    admitted only if none of its MinHash band buckets collides with the
    already-curated corpus. Upgrades the exact-fingerprint pair
    (dedup_incremental's batch anti-join, streaming_dedup_exact's
    watermarked state) to NEAR-dup matching, and exercises the full
    index lifecycle like ann_ivf_persisted_topk: build band buckets for
    the seen fifth of the corpus (doc_id % 5 = 0) -> write the bucket
    set to parquet -> reload -> probe it per micro-batch.

    Per batch (``foreachBatch`` — the production sink for index-probe
    logic, which as a declarative stream would chain a stateful
    aggregation into a join): MinHash signatures (one shuffle over the
    batch's shingles), band-bucket explode, equi-join against the
    reloaded index (AQE broadcasts it while it is small; at scale the
    bucket set is a plain shuffle join key — never an all-pairs
    comparison), and a per-doc hit count. Emitted: EVERY stream doc
    with its ``n_bands_hit`` (novel = 0 hits), so the oracle hash
    covers the whole join, not just the accept set. Each doc's verdict
    depends only on itself and the static index, so the result is
    batching-invariant (oracle-deterministic however the file source
    splits triggers). Production additionally appends each batch's
    novel buckets back to the index so later arrivals dedup against
    earlier ones — correct but arrival-order-dependent, so the
    harness query keeps the index static; docs with no shingles
    (< k words) carry no bucket and are absent by contract on both
    engines."""
    from ..operators import dedup as dd  # noqa: PLC0415
    from ..sources.lake import load_table  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    seen = d.where(F.col("doc_id") % 5 == 0)
    with tempfile.TemporaryDirectory(prefix="lsh_index_", ignore_cleanup_errors=True) as idx_dir:
        dd.band_buckets(dd.minhash_signatures(seen)).select(
            "bucket"
        ).distinct().write.mode("overwrite").parquet(idx_dir)
        idx = spark.read.parquet(idx_dir).withColumn("_hit", F.lit(1))

        raw, src_dir = _table_stream(spark, sf_dir, "documents")
        stream = raw.where(F.col("doc_id") % 5 != 0)

        # BENCHNOTES r8 #1 / r9 audit: no batch respread here — the batch
        # scan already parallelizes (the staged source file carries the
        # testdata's small row groups; measured 32 working partitions, and
        # a respread A/B at sf30 was sign-mixed noise). The r8 rule's real
        # trigger is ROW GROUPS per batch file: a coalesce(1)-staged file
        # has ~128MB groups = 1 working task (llm_tasks._admit's case).
        def _score(out_dir: str) -> BatchFn:
            def _write(batch: DataFrame, _batch_id: int) -> None:
                (
                    dd.band_buckets(dd.minhash_signatures(batch))
                    .join(idx, on="bucket", how="left")
                    .groupBy("doc_id")
                    .agg(F.count("_hit").cast("long").alias("n_bands_hit"))
                    .write.mode("append")
                    .parquet(out_dir)
                )

            return _write

        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("n_bands_hit", T.LongType()),
            ]
        )
        return _run_stream(stream, spark, src_dir, sink=_score, schema=out_schema)


@query(
    "streaming_watermark_late_drop",
    """
    WITH b0 AS (
      SELECT event_id, ts FROM events
      WHERE ts IS NOT NULL AND user_id % 5 = 0
    ),
    anchor AS (
      SELECT date_trunc('hour', max(ts)) + INTERVAL 8 HOUR AS a FROM b0
    ),
    b0all AS (
      SELECT event_id, ts FROM b0
      UNION ALL SELECT CAST(-1 AS BIGINT), a FROM anchor
    ),
    b1 AS (
      SELECT CAST(-event_id - 100 AS BIGINT) AS event_id, ts
      FROM events WHERE ts IS NOT NULL AND user_id % 10 = 0
      UNION ALL SELECT CAST(-2 AS BIGINT), a - INTERVAL 6 HOUR - INTERVAL 30 MINUTE FROM anchor
      UNION ALL SELECT CAST(-3 AS BIGINT), a - INTERVAL 6 HOUR - INTERVAL 5 MINUTE FROM anchor
      UNION ALL SELECT CAST(-4 AS BIGINT), a - INTERVAL 6 HOUR + INTERVAL 30 MINUTE FROM anchor
      UNION ALL SELECT CAST(-5 AS BIGINT), a - INTERVAL 6 HOUR + INTERVAL 45 MINUTE FROM anchor
      UNION ALL SELECT CAST(-6 AS BIGINT), a - INTERVAL 6 HOUR + INTERVAL 90 MINUTE FROM anchor
      UNION ALL SELECT CAST(-7 AS BIGINT), a - INTERVAL 6 HOUR - INTERVAL 90 MINUTE FROM anchor
      UNION ALL SELECT CAST(-8 AS BIGINT), a + INTERVAL 17 HOUR + INTERVAL 30 MINUTE FROM anchor
      UNION ALL SELECT CAST(-9 AS BIGINT), a + INTERVAL 24 HOUR FROM anchor
    ),
    kept1 AS (
      SELECT event_id, ts FROM b1, anchor
      WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > a - INTERVAL 6 HOUR
    ),
    unioned AS (
      SELECT event_id, ts FROM b0all
      UNION ALL SELECT event_id, ts FROM kept1
    ),
    agg AS (
      SELECT date_trunc('hour', ts) AS window_start,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(event_id) AS BIGINT) AS sum_ids
      FROM unioned GROUP BY 1
    )
    SELECT window_start, n_rows, sum_ids FROM agg, anchor
    WHERE window_start + INTERVAL 1 HOUR <= a + INTERVAL 18 HOUR
    """,
)
def streaming_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WATERMARK LATE-DROP contract, oracle-pinned — the one §2.9
    streaming class every prior round left deliberately vacuous
    (complete-mode runs never drop; CLAUDE.md "known remaining
    vacuities"). Determinism comes from the staged-batch harness the
    ingest crash-replay row proved out (q_llm.py ingest_replay_
    idempotence): two mtime-ordered source files + maxFilesPerTrigger=1
    make the batch sequence — and therefore the watermark trajectory —
    reproducible, so the dropped-late set is a pure function of the
    shared events table and the oracle can unroll it analytically.

    MEASURED Spark semantics this query pins (3-file experiment,
    progress-log numRowsDroppedByWatermark): the late-record filter of
    batch N uses the watermark of the PREVIOUS trigger (a late row
    arriving in the same batch where the watermark first jumps is still
    MERGED — eviction at that batch's end uses the new value), and the
    filter predicate is window.end <= wm (a window ending exactly AT
    the watermark is dropped). Hence THREE staged batches: batch 0
    carries a 20% sample of events plus a planted hour-aligned anchor
    row 8h past the data (event_id -1), so the post-batch-0 watermark
    is EXACTLY anchor - 6h =: W (hour-aligned by construction — the
    boundary classes are observable at all). Batch 1 is a single
    marker row (-4, W+30min): it neither drops nor advances W, but it
    burns the one-trigger filter lag, so batch 2's late rows face
    filter watermark W. Batch 2 redelivers half the batch-0 sample
    late (every clone's window now ends below W -> dropped) plus
    planted rows from the same anchor arithmetic straddling every
    boundary: windows ending exactly AT W (-2, -3 — dropped, the <=
    filter class), just above (-5, -6 — kept, merging with the -4
    marker's live window), well below (-7 — dropped), a window ending
    exactly at the FINAL watermark (-8 — pins the eviction boundary),
    and a far-future driver (-9) that advances the final watermark to
    anchor+18h so availableNow's closing no-data batch flushes every
    settled window while -9's own window stays open and unemitted
    (append mode withholds it). Every class is non-empty by
    construction (tests/test_fixture_vitality.py) and the oracle
    encodes the same arithmetic, so a Spark-side change in the filter
    lag, the filter boundary, or the eviction boundary flips the
    value hash.

    Scale shape: one watermarked tumbling-window aggregation (partial
    agg per batch, state keyed by window) — the standard unbounded
    pattern; state is O(open windows), eviction bounded by the
    watermark. Staging writes a 20% and a 10% events sample plus a
    one-row marker file (coalesce(1) per batch file by the determinism
    contract — the documented harness cost, small at every gate SF)."""
    import time as _time  # noqa: PLC0415
    from datetime import timedelta  # noqa: PLC0415
    from glob import glob as _glob  # noqa: PLC0415

    from ..sources.lake import load_table  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    b0 = ev.where(F.col("user_id") % 5 == 0).select("event_id", "ts")
    h0 = b0.agg(F.date_trunc("hour", F.max("ts")).alias("h")).collect()[0]["h"]
    a = h0 + timedelta(hours=8)
    wm = a - timedelta(hours=6)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    b0all = b0.unionByName(spark.createDataFrame([(-1, a)], schema))
    clones = ev.where(F.col("user_id") % 10 == 0).select(
        (-F.col("event_id") - 100).alias("event_id"), "ts"
    )
    marker = spark.createDataFrame([(-4, wm + timedelta(minutes=30))], schema)
    planted2 = spark.createDataFrame(
        [
            (-2, wm - timedelta(minutes=30)),
            (-3, wm - timedelta(minutes=5)),
            (-5, wm + timedelta(minutes=45)),
            (-6, wm + timedelta(minutes=90)),
            (-7, wm - timedelta(minutes=90)),
            (-8, a + timedelta(hours=17, minutes=30)),
            (-9, a + timedelta(hours=24)),
        ],
        schema,
    )
    b2all = clones.unionByName(planted2)

    with tempfile.TemporaryDirectory(prefix="wm_late_", ignore_cleanup_errors=True) as base:
        src = os.path.join(base, "src")
        os.makedirs(src)
        # ONE staging job for all three batch files (r9; guide §8): the
        # pre-change per-batch coalesce(1) writes single-threaded the
        # whole events scan TWICE (b0 and b2 both derive from it) and
        # measured 11.1 s of the query's 13.4 s warm total at sf0.1.
        # repartition(3, _b) hash-routes each label to exactly one
        # shuffle partition, so partitionBy still yields ONE file per
        # batch (the batch==file determinism contract — asserted below);
        # within-file row order changes, which the windowed aggregation
        # and the watermark trajectory are insensitive to by
        # construction (batch SETS and their max ts are unchanged).
        staged = (
            b0all.withColumn("_b", F.lit("b0"))
            .unionByName(marker.withColumn("_b", F.lit("b1")))
            .unionByName(b2all.withColumn("_b", F.lit("b2")))
        )
        stage = os.path.join(base, "stage")
        (
            staged.repartition(3, "_b")
            .write.mode("overwrite")
            .partitionBy("_b")
            .parquet(stage)
        )
        now = _time.time()
        for name, age_s in (("b0", 900), ("b1", 600), ("b2", 300)):
            parts = _glob(os.path.join(stage, f"_b={name}", "part-*.parquet"))
            assert len(parts) == 1, f"batch {name} must be one file, got {parts}"
            dst = os.path.join(src, f"{name}.parquet")
            shutil.move(parts[0], dst)
            # FileStreamSource orders unseen files by modification time
            # (latestFirst=false): age b0 so it is batch 0.
            os.utime(dst, (now - age_s, now - age_s))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "6 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("event_id").alias("sum_ids"),
            )
        )
        out = _run_stream(agg, spark, src)
        return out.select(
            F.col("w.start").alias("window_start"), "n_rows", "sum_ids"
        )

"""Query registry: every implemented operator exposed as a named query
``(spark, sf_dir) -> DataFrame`` plus a matching ANSI-SQL oracle string
for DuckDB. This is the correctness gate (SURVEY.md §5): each SURVEY §2
operator is exercised on the shared deterministic test tables and must
hash-match the oracle.

Engine-portability rules used throughout (so Spark and DuckDB produce
bit-identical values):
- Money/quantity aggregates use exact integer arithmetic (cents as
  BIGINT); any float division happens once, on identical integers.
- Timestamps stay UTC instants end to end (session tz UTC).
- Ratios are reported in integer basis points.
- Hashes are md5-based (both engines implement standard md5).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.first_last import first_last_by
from ..session import ship_package
from ..sources.lake import load_table
from .flat_join import flat_export

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Constructing a query marks a cache-scope boundary: reclaim
            # the PREVIOUS query's operator-internal persists (see
            # operators/util.py:release_cached). Sequential hosts — the
            # external driver, check_oracle — run query N's action before
            # constructing query N+1, so by the time we release here the
            # old cache is dead weight; without this a 50-query session
            # accumulates every dedup query's candidate/shingle caches in
            # executor storage memory. If a host ever interleaves two
            # live queries the release is still safe: an unpersisted
            # subtree recomputes from lineage (perf, never correctness).
            from ..operators.util import release_cached  # noqa: PLC0415

            release_cached()
            ship_package(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship: denormalizing flat export (SURVEY §2 P1/J1/J7)
# ---------------------------------------------------------------------------

query(
    "flat_export",
    """
    SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
           l.l_quantity AS quantity, l.l_extendedprice AS extendedprice,
           l.l_discount AS discount, l.l_returnflag AS returnflag,
           l.l_linestatus AS linestatus, l.l_shipdate AS shipdate,
           o.o_orderstatus AS orderstatus, o.o_totalprice AS totalprice,
           o.o_orderdate AS orderdate, o.o_orderpriority AS orderpriority,
           c.c_name AS customer_name, c.c_mktsegment AS mktsegment,
           s.s_name AS supplier_name, p.p_name AS part_name,
           p.p_brand AS brand, p.p_type AS part_type,
           n.n_name AS nation_name, r.r_name AS region_name
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)(flat_export)


# ---------------------------------------------------------------------------
# A1/A2: grouped + conditional aggregation (TPC-H Q1 shape)
# Reference analog: per-(day, route) batching groups, siri/common.py:20-26.
# ---------------------------------------------------------------------------

@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_qty_disc,
           COUNT(*) AS n_rows,
           COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_high_disc
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.where(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_c"),
            F.sum(price_c).alias("sum_price_c"),
            F.sum(qty_c * disc_c).alias("sum_qty_disc"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_disc"),
        )
    )


# ---------------------------------------------------------------------------
# A4/W1/F7: first/last event per group + duration (add_ride_durations core)
# NULL ordering keys must be ignored (NULLS LAST): error events get a NULL
# ts to exercise it, mirroring rides whose locations lack recorded_at_time.
# user_id % 50 == 7 groups are ALL-null (the no-telemetry ride: endpoints
# and duration stay NULL while n_rows counts) — without them that output
# class was vacuous at every sf: no user is all-errors by chance, and the
# odds vanish as groups grow with sf (r9 audit).
# ---------------------------------------------------------------------------

@query(
    "first_last_durations",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'error' OR user_id % 50 = 7
                  THEN NULL ELSE ts END AS ts_n
      FROM events
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_n ASC NULLS LAST, event_id ASC) AS rn_f,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_n DESC NULLS LAST, event_id DESC) AS rn_l
      FROM e
    )
    SELECT user_id,
           MAX(CASE WHEN rn_f = 1 AND ts_n IS NOT NULL THEN event_id END) AS first_event_id,
           MAX(CASE WHEN rn_l = 1 AND ts_n IS NOT NULL THEN event_id END) AS last_event_id,
           MIN(ts_n) AS first_ts,
           MAX(ts_n) AS last_ts,
           CAST(ROUND(CAST(date_diff('second', MIN(ts_n), MAX(ts_n)) AS DOUBLE) / 60.0) AS BIGINT) AS duration_minutes,
           COUNT(*) AS n_rows
    FROM r GROUP BY user_id
    """,
)
def first_last_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_n",
        F.when(
            (F.col("event_type") == "error") | (F.col("user_id") % 50 == 7),
            F.lit(None),
        ).otherwise(F.col("ts")),
    )
    first_ts, last_ts = F.col("min_ts_n"), F.col("max_ts_n")
    return first_last_by(ev, "user_id", "ts_n", ["event_id"], ["event_id"]).select(
        "user_id",
        "first_event_id",
        "last_event_id",
        first_ts.alias("first_ts"),
        last_ts.alias("last_ts"),
        F.round((F.unix_timestamp(last_ts) - F.unix_timestamp(first_ts)) / 60.0)
        .cast("long")
        .alias("duration_minutes"),
        "n_rows",
    )


# ---------------------------------------------------------------------------
# P2: half-open time-window predicate (packagers/siri.py:62-63)
# ---------------------------------------------------------------------------

@query(
    "time_window_halfopen",
    """
    SELECT event_id, ts, user_id, event_type
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-11 00:00:00'
      AND NOT (event_id % 101 = 0 AND event_id <= 10100)
      AND NOT (event_id % 103 = 0 AND event_id <= 10300)
    UNION ALL
    SELECT event_id, TIMESTAMP '2024-01-10 00:00:00' AS ts, user_id, event_type
    FROM events
    WHERE event_id % 101 = 0 AND event_id <= 10100
    """,
)
def time_window_halfopen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The raw microsecond timestamps never land exactly on a bound, so
    # the half-open-vs-closed distinction was unobservable at every sf
    # (a `<=` bug produced the identical result — r9 audit). Pin pings
    # AT both edges: the first ~100 event_id % 101 rows sit exactly on
    # the lower bound (INCLUDED — the second UNION branch), the first
    # ~100 % 103 rows exactly on the upper (EXCLUDED — in neither
    # branch). Structured as a UNION, not a derived-ts CASE, so the
    # production branch keeps its raw-column scan pushdown (a CASE over
    # ts defeated PushedFilters — the P2 canary caught it), and the
    # planted branch prunes on the pushable event_id <= cap.
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-11 00:00:00").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    plant_lo = (F.col("event_id") % 101 == 0) & (F.col("event_id") <= 10100)
    plant_hi = (F.col("event_id") % 103 == 0) & (F.col("event_id") <= 10300)
    main = ev.where(
        (F.col("ts") >= lo) & (F.col("ts") < hi) & ~plant_lo & ~plant_hi
    ).select("event_id", "ts", "user_id", "event_type")
    boundary = ev.where(plant_lo).select(
        "event_id", lo.alias("ts"), "user_id", "event_type"
    )
    return main.unionAll(boundary)


# ---------------------------------------------------------------------------
# J9/J10: anti-join and semi-join (ledger "missing dates" shape)
# ---------------------------------------------------------------------------

@query(
    "customers_without_orders",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (J9). Restricted to finished ('F') orders so the
    result is non-trivial on the dense test data — every customer has
    SOME order at every SF, which made the unrestricted anti-join a
    zero-row (and thus zero-signal) comparison."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey", "c_name")


@query(
    "customers_with_open_orders",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select("c_custkey", "c_name")


# Queries moved to the END of the registration order. The external driver
# verifies exactly the FIRST 50 registered queries, so ordering decides
# which queries get the hard driver verdict. Demotion policy: every
# registered query must accumulate at least one driver-green row across
# rounds, so the tail holds only queries that are ALREADY double-green
# (driver-verified in 2+ rounds) or whose coverage is redundantly held by
# an in-window query. tests/test_smoke.py guards the headroom: adding a
# query without also demoting (or accepting a spill past position 50)
# fails the suite.
#
# Round-3 rotation (VERDICT r2 item 2): session_gaps, ts_parse_roundtrip
# and ride_durations_guarded had NO driver row in r1 or r2 (demoted /
# absent both rounds) — promoted into the window. Swapped out for three
# r1+r2 double-green queries: time_window_halfopen (P2; in-window green
# r1+r2), customers_with_open_orders (J10 semi-join, twin of the
# in-window J9 anti-join; green r1+r2), sort_nulls_last_topk (O1; green
# r1+r2). Net driver-verdict ledger after r3: every registered query has
# ≥1 driver row across rounds.
DRIVER_WINDOW = 50
_DEMOTE_LAST = [
    # --- Round-5 rotation (VERDICT r4 item 1): re-verification. The 11
    # tail queries whose ONLY driver-green rows dated to r1 (verified
    # against a codebase two major refactors ago) were promoted back
    # into the window: first_last_by_seq, window_id_bounds,
    # date_window_inclusive, null_marker_todo, like_prefix,
    # enum_neq_counts, bbox_filter, multikey_join, exact_ts_join,
    # running_min, topk_recent. Six true-twin tail queries that added
    # no distinct operator coverage were RETIRED outright (VERDICT r4
    # item 7): simhash_signatures (⊂ dedup_simhash_hamming),
    # ann_lsh_topk (⊂ ann_lsh_multiprobe_topk), source_balance_stats
    # (⊂ balanced_corpus), session_window_events (same oracle as
    # streaming_session_windows), hourly_minmax (same oracle as
    # streaming_hourly_events), sample_10pct_stats (same md5-bucket
    # membership as stratified_sample_counts / balanced_corpus).
    # --- Round-6/7 rotation history: see git log for the full per-round
    # narratives (r6: VERDICT r5 item 1 — 12 r2-stale promotions,
    # cosine_topk retired; r7: VERDICT r6 items 1/6/7 — 12 r4-stale
    # promotions, five d1+d5 true twins retired, semdedup twin swap,
    # mid-r7 dedup_simhash60 slot). Surviving r6/r7 demotions below.
    # --- Round-9 rotation (VERDICT r8 items 1/2/6): the pre-declared
    # debt was PAID — the ten d6-era tail rows (time_window_halfopen,
    # customers_with_open_orders, customers_without_orders,
    # distinct_set_per_day, left_band_join, completeness_ratio,
    # json_extract_filter, rollup_revenue, semdedup_pairs,
    # dedup_simhash_hamming — two refactor generations stale by r9) are
    # back in the window for re-verification, joined by the two r9
    # newcomers: stride_dag_convergence (the stride enrichment DAG's own
    # end-to-end invariance verdict, VERDICT item 2) and
    # curate_incremental_noop (the last pytest-only LLM task's
    # incremental no-op contract, item 6). The 12 slots came from the
    # freshest multi-greens, each with an in-window family twin — the
    # entries live at the "--- r9 demotions" marker near the list tail
    # (NOT in the Round-8 block that happens to follow this comment;
    # several names appear in both as r8 promotions then r9 demotions).
    # --- Round-8 rotation (VERDICT r7 items 2, 3, 6): the pre-declared
    # rotation debt was PAID — the six d1+d5 demotes (null_marker_todo,
    # like_prefix, window_id_bounds, running_min, topk_recent,
    # first_last_by_seq) and the four d5-green one-shots
    # (ann_ivf_persisted_topk, streaming_dedup_exact,
    # streaming_upsert_snapshot, dedup_incremental) are back in the
    # window for re-verification. Four double-green true twins were
    # RETIRED outright (r5/r7 precedent, zero coverage loss): top2_per_user
    # (W1 row_number-rank ⊂ training_shard_order + the new
    # shard_export_invariance's pos contract), canonical_export (F14
    # canonical serialization ⊂ content_hash), session_gaps (W2 gap
    # break ⊂ streaming_session_windows, same oracle semantics),
    # ride_durations_guarded (A4 settle/stale guards ⊂
    # first_last_durations + pytest). Slots for the promotions plus the
    # three r8 newcomers (dedup_groups_cc60 — the production-width CC
    # pipeline's own verdict, VERDICT item 2; ingest_replay_idempotence —
    # the crash-replay contract, item 4; shard_export_invariance — the
    # export task's artifact contract, item 8) came from the VERDICT
    # item-2 twin swap (dedup_groups_cc -> tail: its oracle chain stays,
    # production width holds the in-window slot) and the 12 freshest
    # double-greens — the r4-stale queries re-verified in r7, each with
    # an in-window family twin.
    # --- Round-10 rotation (VERDICT r9 item 7): the pre-declared debt
    # was PAID — the d7-era tail verdicts (ann_ivf_topk one-shot + the
    # eleven d4+d7 double-greens: geodesic_agreement, tokenize_vocab_ids,
    # epoch_upsample_mix, training_shard_order, streaming_ride_tracker,
    # streaming_enriched_events, streaming_hourly_distinct_users,
    # group_day_type, computed_key_join, moving_avg_frame,
    # dedup_embedding_cosine) are back in the window for re-verification.
    # The two VERDICT-named true twins (customers_with_open_orders /
    # customers_without_orders — anti/semi families quadruple-green)
    # are DEMOTED-with-COVERED_BY rather than retired: retirement would
    # REMOVE bench `queries` entries (customers_with_open_orders is one
    # of the five summary-line keys the driver's PERF common-set
    # comparison reads), which the optimization-round bench contract
    # forbids ("additions only") and VERDICT item 3 itself requires
    # keeping. Same window effect, zero contract risk. The other ten
    # slots came from the freshest in-window multi-greens, each with an
    # in-window family twin (several covers repointed to the promoted
    # rows — computed_key_join, geodesic_agreement,
    # streaming_ride_tracker now HOLD families their promotions vacate):
    "dedup_groups_cc",  # d2-d7 multi-green; 32-bit oracle-chain twin of dedup_groups_cc60 (VERDICT r7 item 2 swap)
    "customers_without_orders",  # d1-d6+d9 multi-green; anti-join family via ledger_missing_dates (left-anti missing-key detection)
    "customers_with_open_orders",  # d1-d6+d9 multi-green; semi-join family via dedup_minhash_lsh's member left-semi prune (also a bench summary key — stays registered)
    "semdedup_pairs",  # d6+d9; fixed-k=32 oracle-chain twin of semdedup_scaled_pairs (production scaled-k rule in-window)
    "dedup_simhash_hamming",  # d6+d9; 32-bit oracle-chain twin of dedup_simhash60 (production width in-window)
    "left_band_join",  # d6+d9; band-predicate join family via banded_priority_match
    "distinct_set_per_day",  # d6+d9; distinct-accumulation aggregate family via term_df_top20
    "completeness_ratio",  # d6+d9; the 90%-completeness gate runs IN-TASK in ride_aggregation_ledger_invariance
    "rollup_revenue",  # d6+d9; rollup-the-aggregated family via ride_aggregation_ledger_invariance's by_hour rollup
    "enrich_update_guarded",  # multi-green; guarded enrichment updates run as REAL tasks inside stride_dag_convergence
    "nearest_point_per_user",  # multi-green; argmin geo-distance family via geodesic_agreement (promoted r10)
    "code_date_dim_join",  # multi-green; derived-key equi-join family via computed_key_join (promoted r10)
    "streaming_user_first_last",  # multi-green; keyed stateful streaming family via streaming_ride_tracker (promoted r10)
    # --- r8 extension (the full stale sweep): the six r4-demoted rows
    # (dedup_exact_groups, stratified_sample_counts, doc_chunks, lang_id,
    # doc_fingerprints, dedup_ngram_jaccard) still carried r3-era
    # verdicts — FIVE refactor generations old, the oldest in the
    # registry — so they are promoted too, swapping with six 5-7x
    # driver-green window residents whose families their promotions (or
    # other in-window queries) now hold. After this sweep NO registered
    # query's newest driver verdict predates r6 (the VERDICT r7 item-3
    # done-criterion), assuming CORRECTNESS_r08 comes back green.
    "content_hash",  # d1-d7 (7x); F14 order-insensitive hash kernel verified in-query by compact_roundtrip_hash
    "reservoir_per_user",  # d2-d7 (6x); md5-bucket membership via stratified_sample_counts (promoted r8)
    "packed_batches",  # d2-d7 (6x); chunk/pack family via doc_chunks (promoted r8)
    "text_quality",  # d1-d7 (7x); quality/lang scoring runs in-query in corpus_clean_keep
    "kmeans_assign",  # d3-d7 (5x); the same kmeans_fit trainer runs inside ann_ivf_persisted_topk (promoted r8)
    "sort_nulls_last_topk",  # d1+d2+d6+d7; order-by+limit top-k via topk_recent (promoted r8); NULLS LAST keys also pinned by first_last_durations' nulls-last min_by/max_by
    # --- r9 demotions (the 12 freshest multi-greens; slots for the ten
    # d6-era re-promotions + the two newcomers):
    "null_marker_todo",  # d1+d5+d8 (3x); IS NULL marker ≡ outer-join null side via ledger_missing_dates
    "like_prefix",  # d1+d5+d8 (3x); string-predicate filter via pii_redaction_stats; kept registered as the sole LIKE carrier (SURVEY P5)
    "window_id_bounds",  # d1+d5+d8 (3x); min/max extremes via first_last_durations
    "running_min",  # d1+d5+d8 (3x); window frame agg via quantile_quality_keep's cumulative histogram
    "first_last_by_seq",  # d1+d5+d8 (3x); first/last-by-sequence via first_last_durations
    "streaming_dedup_exact",  # d5+d8; exact-fingerprint streaming dedup ⊂ streaming_dedup_lsh's band probe
    "streaming_upsert_snapshot",  # d5+d8; keyed latest-state stream via streaming_user_first_last
    "dedup_incremental",  # d5+d8; seen-index anti/probe join via streaming_dedup_lsh (and the curate task's in-query anti-join, curate_incremental_noop)
    "dedup_exact_groups",  # d3+d8; exact-fingerprint components built in-query by split_leakage_check
    "stratified_sample_counts",  # d3+d8; md5-bucket membership via balanced_corpus (repointed r9: old cover reservoir_per_user is tail)
    "lang_id",  # d3+d8; lang-id gate runs in-query in corpus_clean_keep
    "doc_fingerprints",  # d3+d8; fingerprint scan runs in-query in corpus_clean_keep (and curate_incremental_noop's seen index)
    "dedup_ngram_jaccard",  # d3+d8; candidate-pair Jaccard is a stage of the in-window LSH path (slot for mid-r9 package_backfill_invariance)
    "boilerplate_ngrams",  # d3-d8 (6x); shingle-explode corpus-stat family via term_df_top20 (slot for mid-r9 ride_aggregation_ledger_invariance)
    "ts_parse_roundtrip",  # d3-d8 multi-green; F4 ts format/parse round-trip via package_backfill_invariance's CSV cast round-trip (slot for mid-r9 package_hourly_loop_invariance)
    "streaming_hourly_events",  # d1-d8 multi-green; hourly watermarked tumbling-window agg ⊂ streaming_watermark_late_drop's 3-batch contract (slot for the late-r9 vacuity closure)
    "corpus_clean_keep",  # d6-d8 multi-green; the identical quality∧lang∧exact∧LSH composition runs in corpus_clean_verdicts over the planted corpus, which additionally pins every drop branch (slot for the late-r9 lang-drop vacuity closure)
]

# Auditable coverage ledger (VERDICT r3 item 8): every demoted query
# maps to the IN-WINDOW query that redundantly exercises its operator
# family, so the rotation bookkeeping is machine-checkable instead of
# comment-archaeology. tests/test_smoke.py enforces: (a) every
# _DEMOTE_LAST entry has a row here, (b) every covering query actually
# sits inside the driver window. A tail query additionally keeps its
# local check_oracle gate every round and has >= 1 driver-green row in
# some past round (the rotation policy above).
COVERED_BY = {
    # (rows for promoted/retired queries are removed with each rotation)
    # r8 demotions (still tail after r10):
    "dedup_groups_cc": "dedup_groups_cc60",  # same CC operator + banded candidate equi-join; production band width in-window
    # r10 demotions (slots for the 12 d7-era re-promotions):
    "customers_without_orders": "ledger_missing_dates",  # left-anti missing-key detection family (J9)
    "customers_with_open_orders": "dedup_minhash_lsh",  # left-semi membership prune family (J10; the member prune is a left_semi on doc ids)
    "semdedup_pairs": "semdedup_scaled_pairs",  # fixed-k oracle-chain twin; scaled-k production rule in-window
    "dedup_simhash_hamming": "dedup_simhash60",  # 32-bit oracle-chain twin; production 60-bit width in-window
    "left_band_join": "banded_priority_match",  # band-predicate (non-equi range) join family
    "distinct_set_per_day": "term_df_top20",  # distinct-accumulation aggregation family (per-key distinct counts)
    "completeness_ratio": "ride_aggregation_ledger_invariance",  # the 90%-completeness gate is enforced in-task there
    "rollup_revenue": "ride_aggregation_ledger_invariance",  # rollup-the-aggregated (sum/min/max regrouping) runs in-task there
    "enrich_update_guarded": "stride_dag_convergence",  # guarded enrichment updates run as REAL tasks in the DAG chain
    "nearest_point_per_user": "geodesic_agreement",  # argmin geo-distance (haversine) family
    "code_date_dim_join": "computed_key_join",  # derived-key equi-join family
    "streaming_user_first_last": "streaming_ride_tracker",  # keyed stateful streaming tracker family
    # r8 stale-sweep demotions (reverse twin swaps with the six promotions):
    "content_hash": "compact_roundtrip_hash",  # F14 order-insensitive content hash computed in-query there (same functions/hashing.row_hash kernel)
    "reservoir_per_user": "balanced_corpus",  # md5-bucket membership core (repointed r9: stratified_sample_counts demoted)
    "packed_batches": "doc_chunks",  # chunking/packing family (posexplode map-local windows)
    "text_quality": "corpus_clean_verdicts",  # quality_score_bp + lang_id gate the in-window curation outcome ledger (repointed late-r9)
    "kmeans_assign": "ann_ivf_persisted_topk",  # kmeans_fit trains the persisted IVF index in-query
    "sort_nulls_last_topk": "topk_recent",  # order-by + limit top-k; NULLS LAST ordering keys also in first_last_durations
    # r9 demotions:
    "null_marker_todo": "ledger_missing_dates",  # IS NULL marker predicate ≡ outer-join null-side detection
    "like_prefix": "pii_redaction_stats",  # string-predicate filter family (sole LIKE carrier, SURVEY P5)
    "window_id_bounds": "first_last_durations",  # per-group min/max extremes
    "running_min": "quantile_quality_keep",  # window frame aggregate (cumulative histogram core)
    "first_last_by_seq": "first_last_durations",  # first/last endpoint family
    "streaming_dedup_exact": "streaming_dedup_lsh",  # streaming dedup-vs-index family (near-dup superset in-window)
    "streaming_upsert_snapshot": "streaming_ride_tracker",  # keyed latest-state streaming aggregate (repointed r10: streaming_user_first_last demoted)
    "dedup_incremental": "streaming_dedup_lsh",  # seen-index probe join (exact anti-join ⊂ band-bucket probe; also run by curate_incremental_noop's task)
    "dedup_exact_groups": "split_leakage_check",  # exact-fingerprint components (fingerprint -> min-doc_id groupBy) built in-query there
    "stratified_sample_counts": "balanced_corpus",  # salted md5-bucket membership streams
    "lang_id": "corpus_clean_verdicts",  # lang-id gate runs in-query in the outcome ledger, lang-drop branch planted (repointed late-r9)
    "doc_fingerprints": "corpus_clean_verdicts",  # fingerprint scan + exact-dup keeper run in-query there (and feed curate_incremental_noop's seen index; repointed late-r9)
    "dedup_ngram_jaccard": "dedup_minhash_lsh",  # candidate-pair exact Jaccard is the re-rank stage of the LSH pipeline
    "boilerplate_ngrams": "term_df_top20",  # shingle-explode + hash-aggregate corpus-stat family (per-ngram doc counts ⊂ per-term doc counts)
    "ts_parse_roundtrip": "package_backfill_invariance",  # F4 format/parse round-trip: the CSV artifact re-read casts timestamp strings back and re-hashes them
    "streaming_hourly_events": "streaming_watermark_late_drop",  # same watermarked hourly tumbling-window streaming agg, plus the late-drop/eviction boundary contract
    "corpus_clean_keep": "corpus_clean_verdicts",  # same four-gate curation pipeline; the ledger variant plants every drop class (lang/exact_dup non-vacuous) and pins the CASE precedence
}


def _ordered(d: dict) -> dict:
    head = {k: v for k, v in d.items() if k not in _DEMOTE_LAST}
    tail = {k: d[k] for k in _DEMOTE_LAST if k in d}
    return {**head, **tail}


def queries() -> dict[str, QueryFn]:
    _load_all()
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return _ordered(ORACLES)


def _load_all() -> None:
    """Import the query-definition modules (they self-register via the
    ``@query`` decorator). Deferred so importing the registry stays cheap."""
    from . import q_relational  # noqa: F401
    from . import q_semantics  # noqa: F401
    from . import q_llm  # noqa: F401
    from . import q_streaming  # noqa: F401
    from . import q_stride_dag  # noqa: F401

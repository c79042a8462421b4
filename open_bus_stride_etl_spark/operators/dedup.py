"""Document deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard (LLM training-data pipeline extensions).

Scale design, since dedup is THE shuffle-heavy stage of a 100 TB text
pipeline:
- Exact dedup: one hash-groupBy on a 16-byte fingerprint — map-side
  partial aggregation, minimal shuffle payload (hash, id), no text moves.
- MinHash+LSH: shingle explosion is map-local; signatures are one
  groupBy(doc); banding re-keys (band, bucket) so candidate generation is
  an equi-join, never an all-pairs comparison. Only candidate pairs ever
  compute exact Jaccard.
- SimHash: per-bit majority vote as 32 conditional SUMs in ONE aggregate
  over exploded tokens — no bit-explosion join.
- All hashes are md5-derived integers (portable, deterministic) and the
  MinHash permutations use (a*h + b) mod p with a < 2^20, h < 2^40 so
  products stay below 2^61 - 1 (the Mersenne prime modulus) — exact in
  int64 on every engine, no overflow UB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .text import SHINGLE_K, normalize_text, shingle_array
from .util import track_persist

# (a*h + b) mod P permutation constants. P = 2^61 - 1 (Mersenne prime);
# a are primes < 2^20 so a*h < 2^60 < P never overflows int64.
MINHASH_P = (1 << 61) - 1
MINHASH_A = (999983, 999979, 999961, 999959, 999953, 999931, 999917, 999907)
MINHASH_B = (15485863, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823, 141650939)
N_BANDS = 4  # 8 signatures = 4 bands x 2 rows
# Degenerate-corpus guard for the pair-level broadcasts (see
# minhash_lsh_pairs): above this many candidate pairs / probe rows the
# hints drop and AQE shuffle joins take over. Read at call time.
MAX_BROADCAST_ROWS = 5_000_000
# Star rounds connected_components runs before it gives up.
CC_MAX_ROUNDS = 25
# SimHash pair contract: hamming distance <= SIMHASH_THRESHOLD over
# SIMHASH_BANDS equal-width bands (pigeonhole-exact: threshold < bands).
SIMHASH_THRESHOLD = 3
SIMHASH_BANDS = 4


def _shingled(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """One row per (doc, DISTINCT shingle-hash). The shingle string is
    hashed to 40 bits BEFORE the distinct so every downstream shuffle
    (dedup, set-size counts, intersection joins) moves 8-byte keys
    instead of full k-gram strings — at 100 TB the difference is the
    whole shuffle budget. All set operations downstream are defined over
    the hash (the oracle hashes identically, so results agree by
    construction).

    ``distinct=False`` returns the raw exploded stream (duplicates
    preserved) — for consumers whose aggregates are duplicate-
    insensitive (MIN for minhash) or dedupe inside the aggregate
    (count_distinct), which removes the full-corpus distinct shuffle
    entirely."""
    words = F.split(normalize_text(F.col("text")), " ")
    out = (
        docs.withColumn("_words", words)
        .select(F.col("doc_id"), F.explode(shingle_array("_words")).alias("shingle"))
        .select(F.col("doc_id"), md5_long("shingle").alias("h"))
    )
    return out.distinct() if distinct else out


def _shingled_pos(docs: DataFrame) -> DataFrame:
    """One row per (doc, position, shingle-hash): the POSITIONAL shingle
    stream (1-based position of the k-gram's first word). Duplicates
    within a doc are kept — position IS the identity here. Same 40-bit
    md5 hash as ``_shingled`` so the two streams join consistently."""
    words = F.split(normalize_text(F.col("text")), " ")
    return (
        docs.withColumn("_words", words)
        .select(F.col("doc_id"), F.posexplode(shingle_array("_words")))
        .select(
            F.col("doc_id"),
            (F.col("pos") + 1).alias("pos"),
            md5_long("col").alias("h"),
        )
    )


def shared_span_pairs(docs: DataFrame) -> DataFrame:
    """Exact shared-span detection between candidate document pairs —
    the substring-level dedup signal (public result: verbatim repeated
    spans across training documents hurt model quality more than
    set-overlap alone suggests; span length is the actionable signal,
    cf. Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"). For each candidate pair: the longest run of
    CONSECUTIVE shared word-k-gram shingles, i.e. the longest common
    word-substring, plus the total matched-alignment count:
    ``(doc_a, doc_b, max_run_shingles, max_run_words, n_matches)``
    where ``max_run_words = max_run_shingles + SHINGLE_K - 1``.

    The MinHash-LSH banding generates the candidates (same contract as
    ``minhash_lsh_pairs``); ``_span_runs`` is the span core over any
    candidate pair table. Matching is defined over the
    40-bit shingle hash (collisions conflate spans; the oracle hashes
    identically so both engines agree by construction).

    How runs are found without any sequential scan: a shared occurrence
    is a cell (pos_a, pos_b) with equal hashes; consecutive shared
    shingles advance BOTH positions by one, i.e. they lie on the same
    diagonal ``pos_a - pos_b``. Grouping cells by (pair, diagonal) and
    subtracting a row_number along pos_a collapses each maximal
    consecutive run to one island key — two hash aggregations and one
    window over (pair, diagonal) groups whose size is bounded by doc
    length, never corpus size (the gaps-and-islands plan, not an
    iterative loop).

    Scale shape: candidate pairs and the member prune follow
    ``minhash_lsh_pairs``'s candidate-first doctrine — positional shingles
    are computed ONLY for member docs (pre-explosion semi-join), and
    nothing pair-level shuffles corpus volume. Only the CANDIDATE-PAIR
    table and the member-id list carry broadcast hints (both are
    pair-count-sized, 8-byte ids); the member positional-shingle stream
    is token volume, so its doc_b-side join is left to AQE — broadcast
    when it measures small, shuffled on (doc_b, h) otherwise (measured
    identical at bench scale; a hint there would force a driver collect
    that can exceed the broadcast limit on a large candidate set)."""
    candidates = lsh_candidate_pairs(minhash_signatures(docs))
    return _span_runs(docs, candidates)


def _span_runs(docs: DataFrame, candidates: DataFrame) -> DataFrame:
    """``shared_span_pairs`` over the given ``(doc_a, doc_b)`` candidate
    pairs."""
    cands = track_persist(candidates)
    members = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    m_docs = docs.join(F.broadcast(members), on="doc_id", how="left_semi")
    pos_sh = track_persist(_shingled_pos(m_docs))
    cells = (
        F.broadcast(cands)
        .join(
            pos_sh.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h"),
            on="doc_a",
        )
        .join(
            pos_sh.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h"),
            on=["doc_b", "h"],
        )
        .select("doc_a", "doc_b", "pa", "pb")
        .distinct()
    )
    from pyspark.sql import Window  # noqa: PLC0415

    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", F.col("pa") - F.col("pb")).orderBy("pa")
    runs = (
        cells.select("doc_a", "doc_b", "pa", diag, (F.col("pa") - F.row_number().over(w)).alias("isl"))
        .groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(F.count(F.lit(1)).alias("rl"))
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("rl").cast("long").alias("max_run_shingles"),
        (F.max("rl") + F.lit(SHINGLE_K - 1)).cast("long").alias("max_run_words"),
        F.sum("rl").cast("long").alias("n_matches"),
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per doc: 8 MinHash values m0..m7 over word-k-gram shingles — the
    one signature aggregation every LSH consumer (pair pipeline, span
    candidates, curate band index, streaming probes) goes through.

    It reads the RAW shingle stream (``distinct=False``): MIN is
    duplicate-insensitive, so the values are those of the distinct
    shingle set while the only full-corpus shuffle is this one
    groupBy(doc) — no corpus-wide distinct in front of it."""
    raw = _shingled(docs, distinct=False)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return raw.groupBy("doc_id").agg(*aggs)


def band_buckets(signatures: DataFrame) -> DataFrame:
    """(id, bucket): one row per LSH band (bands of 2 rows over m0..m7,
    band index baked into the bucket key so bands never cross-match).
    This is the join key space for every LSH consumer — candidate
    pairing (lsh_candidate_pairs), and the persisted seen-corpus index
    the streaming near-dup path probes (q_streaming.streaming_dedup_lsh)."""
    bands = F.array(
        *[
            F.concat_ws("_", F.lit(i), F.col(f"m{2 * i}"), F.col(f"m{2 * i + 1}"))
            for i in range(N_BANDS)
        ]
    )
    return signatures.select(F.col("doc_id"), F.explode(bands).alias("bucket"))


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Docs sharing any LSH band bucket (bands of 2 rows over m0..m7).
    Equi-join on (band, bucket) — the scale path: candidates are linear
    in bucket occupancy, not quadratic in corpus size. The two sides are
    aliases of ONE bucket subtree, so they share a single exchange at
    runtime — do NOT filter one side here (a per-side filter breaks the
    reuse and runs the signature aggregation twice; measured r9, the
    first b-side-restriction draft cost ~1 s at sf0.1)."""
    keyed = band_buckets(signatures)
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(shingled: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard (basis points) for every doc pair
    sharing >= 1 shingle — the shingle itself is the blocker, so this
    is only sane at small scale. ``shingled`` is a ``_shingled(docs)``
    table; it is consumed three times here (both self-join sides and
    the set sizes) with no exchange reuse, so callers persist it.

    The end-to-end LSH dedup should use ``minhash_lsh_pairs``, which
    scores only candidate pairs and never runs a corpus-wide distinct
    or set-size pass."""
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shingled.alias("a"), shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                10000.0 * F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            )
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Full MinHash → LSH-banding → exact-Jaccard pipeline as ONE
    plan-tuned operator: ``(doc_a, doc_b, jaccard_bp)`` for every LSH
    candidate pair (callers filter on the basis-point threshold).

    This is the shape the composed query should run at 100 TB, flattened
    from the naive composition's 13-exchange plan (~7 static exchanges):

    - The shingle stream is consumed RAW (no full-corpus distinct
      ANYWHERE): ``minhash_signatures`` is the only full-corpus shuffle
      — the old plan shuffled the corpus twice (distinct, then each
      aggregate). Exact set sizes are only ever needed for docs that
      appear in a candidate pair, so they are computed from the
      member-pruned shingle table, never the corpus.
    - Candidates and the member-pruned shingle table are persisted:
      each is small by the LSH contract (candidate pairs / member
      shingles), each is consumed 2+ times, and persisting stops
      Catalyst from re-deriving the corpus-wide subtree per consumer.
      Signatures are NOT persisted — their only consumer is the bucket
      self-join, whose two sides share one exchange at runtime
      (measured a wash at sf0.1 AND sf1; the barrier buys nothing).
    - Every pair-level join is an explicit broadcast (members into the
      semi-join prune, candidates into the intersection, intersections
      into the size join): candidate volume is bounded by bucket
      occupancy — the LSH design invariant — so the build sides stay
      small at any corpus size; nothing pair-level ever shuffles the
      per-doc tables.
    - DEGENERATE-CORPUS GUARD (r5): the LSH occupancy invariant is a
      property of the DATA, not the algorithm — a templated corpus
      where (nearly) every doc collides in every band makes the
      candidate set O(n^2), and the forced broadcasts then OOM the
      driver with an opaque Spark error (observed on a synthetic
      all-near-identical 20k-doc lake). The candidate count is known
      for free (``cands`` is persisted for its 2+ consumers anyway; the
      count materializes that cache), so above ``MAX_BROADCAST_ROWS``
      the broadcast hints are dropped and AQE falls back to mergeable
      shuffle joins — slower, but it completes and the caller gets the
      same rows. Healthy corpora never hit the bound. The count also
      makes the guarded build faster than unconditional broadcasts
      (r6 paired A/B: -0.75 s sf0.1, -3.1 s sf1): it fills the persist
      in one job before any eager broadcast build can re-derive the
      candidate subtree.
    """
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return _verified_jaccard(docs, pairs)


def _verified_jaccard(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The exact-Jaccard verify tail shared by ``minhash_lsh_pairs`` and
    ``minhash_lsh_pairs_from_buckets``: candidate pairs → member prune →
    member re-shingle → intersection/size joins → jaccard_bp. Factored
    out verbatim in r10 (plan shape unchanged — the guarded-broadcast
    doctrine, the persist/count materialization order and the
    pre-explosion member semi-join are all documented on
    ``minhash_lsh_pairs``)."""
    cands = track_persist(pairs)
    n_cands = cands.count()  # materializes the persist its consumers reuse
    bc = F.broadcast if n_cands <= MAX_BROADCAST_ROWS else (lambda df: df)
    members = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Re-shingle only the member DOCS (pre-explosion semi-join) rather
    # than semi-joining the exploded corpus stream: the explode runs over
    # |members| docs — bounded by candidate volume — instead of a second
    # full-corpus pass. At 100 TB the corpus is exploded exactly once
    # (for the signature aggregate); everything pair-level re-derives
    # from the pruned doc set. distinct() here is per-member-doc shingle
    # sets, needed for exact Jaccard set sizes.
    m_docs = docs.join(bc(members), on="doc_id", how="left_semi")
    m_sh = track_persist(
        _shingled(m_docs).select("doc_id", "h")
    )
    inter = (
        bc(cands)
        .join(m_sh.select(F.col("doc_id").alias("doc_a"), "h"), on="doc_a")
        .join(bc(m_sh.select(F.col("doc_id").alias("doc_b"), "h")), on=["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = m_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        bc(bc(inter).join(na, "doc_a"))
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                10000.0 * F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            )
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


def minhash_lsh_pairs_from_buckets(
    docs: DataFrame,
    buckets: DataFrame,
    b_ids: DataFrame,
    probe_rows: int,
) -> DataFrame:
    """``minhash_lsh_pairs`` computed from a PRE-MATERIALIZED
    ``(id, bucket)`` table covering the whole corpus (r10, VERDICT r9
    #1 — the amortized band-index path): candidate generation is an
    equi-join over the materialized bucket table, with NO full-corpus
    shingle/MinHash signature aggregation anywhere in the plan. Returns
    exactly the rows of ``minhash_lsh_pairs(docs)`` whose ``doc_b`` is
    in ``b_ids``, PROVIDED ``buckets`` equals
    ``band_buckets(minhash_signatures(docs))`` row-set-wise (duplicate
    index rows are harmless — the pair ``distinct()`` absorbs them;
    missing or stale rows are NOT, which is why the curate task
    validity-filters its index against the current corpus's
    fingerprints before calling this).

    Probe shape: the b-side is the bucket rows of ``b_ids`` docs
    (fetched FROM the index via a semi-join — never recomputed from
    text). The curate task passes its admissible remainder: the unseen
    docs that pass quality and language and keep their exact-dup group,
    i.e. this run's would-be survivors plus every prior near-dup loser
    still in the corpus. ``probe_rows`` is the caller's exact (or
    upper-bound) b-side row count — the curate task observes the
    remainder's size in the scoring pass it runs anyway, and the b-side
    is 4 band rows per doc — so no sizing job runs here. When it is within
    ``MAX_BROADCAST_ROWS`` the b-side broadcasts into the probe join, so
    the corpus-sized index is SCANNED but never SHUFFLED — the
    steady-state incremental run's only full-corpus touch is one slim
    columnar scan. A degenerate (huge-batch / bootstrap-sized) b-side
    drops the hint and AQE falls back to a shuffle join, same rows."""
    a = buckets.select(F.col("doc_id").alias("doc_a"), "bucket")
    probe = buckets.join(b_ids.select("doc_id").distinct(), on="doc_id", how="left_semi").select(
        F.col("doc_id").alias("doc_b"), "bucket"
    )
    pb = F.broadcast if probe_rows <= MAX_BROADCAST_ROWS else (lambda df: df)
    pairs = (
        a.join(pb(probe), on="bucket")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verified_jaccard(docs, pairs)


def _local_cc_finish(edges: DataFrame) -> DataFrame:
    """Driver-side tail finish: solve a bounded edge set (the caller
    checks the bound) in one pass and return ``(doc_id, component_id =
    component min)`` for every node in it.

    Rationale: iterative graph contraction is overhead-bound at the
    tail — each distributed round is 4 shuffles + a checkpoint job no
    matter how few edges remain, and the convergence confirmation costs
    one full extra round. Once the surviving edge set fits in a bounded
    driver buffer, one local pass replaces the last O(log n) rounds.

    Kernel (r7): vectorized min-label propagation with pointer jumping
    over numpy arrays — compact node ids with ``np.unique`` (sorted, so
    index order = id order and the min label IS the min id), then
    alternate an edge-relax (scatter-min both directions) with full
    pointer-jump collapse until the exact fixpoint. Replaces the r4-r6
    per-row Python dict union-find, whose cost degraded superlinearly
    with node count (measured r7 on a 20M-edge / 40M-node near-dup-
    shaped graph: dict union-find + per-node readback ~800 s ≈ 20 us/
    node vs ~1.6 us/node at 5M nodes — dict/TLB locality, sorted(), and
    40M find() calls; the vectorized kernel solves the same graph in
    13.4 s and matches the union-find output exactly on randomized
    cross-checks, tests/test_llm_ops.py::
    test_connected_components_matches_union_find plus the direct kernel
    test below it). The 16M-edge cap in
    ``_derived_finish_bound`` is honest again: ~10 s of driver time,
    comparable to ONE distributed round at that scale, where the old
    kernel would have spent ~10 min. Output contract unchanged:
    component_id = MIN node id, exactly the distributed rounds'
    read-off."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql import types as T  # noqa: PLC0415

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("component_id", T.LongType(), False),
        ]
    )
    pdf = edges.toPandas()  # Arrow path — ~5x faster than collect() here
    us = pdf.iloc[:, 0].to_numpy(dtype=np.int64, copy=False)
    vs = pdf.iloc[:, 1].to_numpy(dtype=np.int64, copy=False)
    if len(us) == 0:
        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"doc_id": [], "component_id": []}), schema
        )
    ids = np.unique(np.concatenate([us, vs]))
    ui = np.searchsorted(ids, us)
    vi = np.searchsorted(ids, vs)
    label = np.arange(len(ids), dtype=np.int64)
    while True:
        m = np.minimum(label[ui], label[vi])
        np.minimum.at(label, ui, m)  # unbuffered scatter-min: duplicate
        np.minimum.at(label, vi, m)  # indices all land, unlike label[ui]=m
        while True:  # pointer jumping: collapse label chains to roots
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label[ui], label[vi]):  # exact fixpoint check
            break
    out = pd.DataFrame({"doc_id": ids, "component_id": ids[label]})
    return edges.sparkSession.createDataFrame(out, schema)


def _derived_finish_bound(spark) -> int:
    """``local_finish_edges`` derived from the driver's configured heap
    instead of a constant (r6, VERDICT r5 item 5): the Arrow collect
    moves ~16 B/edge but the transient python union-find dict costs
    ~200-250 B/edge, so budget the finish at heap/8 with 256 B/edge —
    ``heap_bytes // 2048`` edges — clamped to [500k, 16M]. An 8 GiB
    driver (this repo's default) absorbs ~4.2M edges; the r4 constant
    (500k) was tuned when the probe graphs were 305k edges and silently
    starved bigger drivers: the sf30 SimHash graph is 2.47M edges, and
    collecting it directly replaces every distributed star round
    (measured r6, interleaved paired A/B x4 on the sf30 CC query over a
    materialized pair table: const500k 18.2-20.1 s vs derived
    13.9-14.5 s, median paired delta +4.5 s, const slower 4/4). The
    JVM heap size is a proxy for how big the
    deployment sized its driver — on a cluster with a 64 GiB driver the
    bound rises to the 16M cap.

    r7 cap probe (VERDICT r6 item 8, 48 GiB driver, synthetic 20M-edge
    40M-node disjoint-pair graph — the LSH/SimHash shape — full runs of
    the CC query, /tmp probe): immediate collect at a lifted 24M bound
    57.0/37.9 s vs capped-16M 64.2/49.0 s vs fully-distributed
    51.7/71.4 s — indistinguishable within this box's contention noise
    now that the finish kernel is vectorized (_local_cc_finish: the old
    per-row dict union-find would have spent ~13 min on that collect;
    the numpy kernel solves it in 13.4 s). Verdict: the 16M cap stays —
    nothing measured above it, and the probe's real yield was two scale
    bugs it flushed out of the ROUNDS path (Observation-based
    convergence metrics undercounting under ANSI overflow; see
    _checkpoint_with_fingerprint). Python-side memory for the finish is
    numpy arrays (~130 B/edge peak incl. temporaries), so the
    heap//2048 budget is now conservative by ~2x — kept, since the JVM
    heap is only a sizing proxy for the separate Python process."""
    raw = spark.conf.get("spark.driver.memory", "1g") or "1g"
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    s = raw.strip().lower()
    try:
        if s and s[-1] in units:
            heap = int(float(s[:-1]) * units[s[-1]])
        else:
            # Spark treats a suffix-less spark.driver.memory as MiB
            # (JavaUtils.byteStringAsMb), not bytes: '8192' means 8 GiB.
            heap = int(s) << 20
    except ValueError:
        heap = 1 << 30
    return max(500_000, min(heap // 2048, 16_000_000))


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    ``(doc_id, component_id)`` where component_id = MIN doc id in the
    component. The missing last step of every dedup family above —
    pairs alone don't dedupe a corpus; survivors are elected per
    component (keep MIN id, drop the rest).

    Algorithm: alternating large-star / small-star (the standard
    MapReduce-CC formulation from the published literature), expressed
    as DataFrame groupBy/join rounds:

    - large-star: every node connects its LARGER neighbors to the
      minimum of its neighborhood (incl. itself);
    - small-star: every node connects its smaller-or-equal neighbors
      (and itself) to the smallest of them.

    Converges in O(log^2 n) rounds REGARDLESS of component diameter —
    the property that matters at corpus scale, where naive min-label
    propagation needs O(diameter) rounds and an adversarial duplicate
    chain (A~B~C~...) makes diameter unbounded. Each round is two
    aggregations + two joins on (long, long) edges; lineage is truncated
    per round with ``localCheckpoint`` (iterative plans otherwise grow
    an exponential lineage). No re-orientation step between the stars:
    large-star output ``(v, m)`` already satisfies v > m (m <= u < v by
    construction), so the small-star's (hi -> lo) precondition holds for
    free — a greatest/least + distinct shuffle per round was removed on
    this invariant (r3).

    Convergence is detected with a constant-size edge-set fingerprint
    (count + 28-bit-masked hash sums — exact-in-int64 up to 2^35 edges
    per round, far past any realistic round; r7 shrank the mask from 40
    bits after a 20M-edge round tripped ANSI ARITHMETIC_OVERFLOW), and
    then CONFIRMED
    exactly with one ``exceptAll`` job on the tiny converged edge set,
    so a fingerprint collision between two different consecutive edge
    sets cannot terminate the loop early with wrong components.

    Only docs that appear in ``pairs`` are returned (singletons are
    their own trivial component — callers that need them can union).
    ``pairs`` must hold no self-loop: the edges come from the LSH and
    SimHash pair operators, which emit doc_a < doc_b (a self-loop alone
    would surface as a one-doc component on the local finish).

    HYBRID FINISH: the distributed rounds do the heavy contraction;
    once the surviving edge count (from each round's fingerprint
    aggregation) drops to ``local_finish_edges`` or fewer, the tail is
    solved driver-side in one union-find pass (``_local_cc_finish``) —
    a bounded Arrow collect replaces the last several
    overhead-dominated rounds (measured r3: the sf0.1 pair graph
    contracts 83k -> 8.4k edges in one round, then spent 4 more rounds
    x ~1 s of pure scheduling converging; r4: the sf10 graph is 305k
    edges of near-disjoint pairs — raising the bound from 100k to 500k
    skips rounds that contracted almost nothing, 12.0 s -> 6.7 s for
    the whole query). Every distributed round costs 4 shuffles + a
    checkpoint regardless of edge count, so the bound is set by what
    the driver comfortably absorbs — which depends on how the driver is
    SIZED, so it is derived from the configured driver heap
    (``_derived_finish_bound``: heap // 2048 edges, clamped [500k, 16M];
    r6 measurement in its docstring — the r4 500k constant left the
    2.47M-edge sf30 graph running star rounds a driver with 8 GiB of
    headroom could absorb in one collect). At corpus scale (billions of
    pair edges) the rounds keep running until either the bound or
    fingerprint convergence is hit. Every round boundary preserves the
    node set and the component partition (the same invariant the
    converged read-off relies on), so finishing at any boundary yields
    the same answer — pinned by tests that patch the bound to 0 (the
    fully-distributed path) and run both paths on the same graphs.
    """
    local_finish_edges = _derived_finish_bound(pairs.sparkSession)

    def _checkpoint_with_fingerprint(df: DataFrame):
        """Materialize one round, then collect its edge-set fingerprint
        with a direct aggregation over the checkpointed (memory-
        resident) edges. This was an ``Observation`` riding the
        localCheckpoint action through r6 — one job instead of two —
        but Observation metrics arrive over the listener bus, and at
        scale they UNDERCOUNT nondeterministically (r7 probe: a 20M-edge
        converged graph read n≈16.25M varying by thousands each round
        while ``count()`` returned exactly 20M every time; task-end
        events lag/drop under load, with or without AQE). A wrong n
        both mis-gates the local-finish bound and makes the fingerprint
        never stabilize — the loop then burns CC_MAX_ROUNDS rounds on an
        ALREADY-CONVERGED graph and raises. The direct agg is one extra
        scan of checkpointed blocks per round (~sub-second at 20M
        edges), exact by the same guarantee as any action — and it
        SURFACED the second half of the bug: 40-bit masked terms summed
        over 20M rows exceed 2^63 and throw ANSI ARITHMETIC_OVERFLOW
        (the listener-bus path had been swallowing exactly that into
        silent undercounts). Terms are now masked to 28 bits pre-sum:
        int64-exact up to 2^35 (~34B) edges per round. A weaker mask
        only triggers occasional extra exceptAll confirmations — the
        fingerprint is a trigger for the exact set check, never the
        proof."""
        mask = F.lit((1 << 28) - 1)
        ck = df.localCheckpoint()
        m = ck.agg(
            F.count(F.lit(1)).alias("n"),
            # every summed term is masked to 28 bits, incl. the raw ids —
            # doc ids may themselves be full-range hash longs
            F.coalesce(F.sum(F.xxhash64("u").bitwiseAND(mask)), F.lit(0)).alias("su"),
            F.coalesce(F.sum(F.xxhash64("v").bitwiseAND(mask)), F.lit(0)).alias("sv"),
            F.coalesce(F.sum(F.xxhash64("u", "v").bitwiseAND(mask)), F.lit(0)).alias("sh"),
        ).first()
        return ck, (m["n"], m["su"], m["sv"], m["sh"])

    e = pairs.select(F.col("doc_a").cast("long").alias("u"), F.col("doc_b").cast("long").alias("v"))
    edges, fp = _checkpoint_with_fingerprint(e)
    for _ in range(CC_MAX_ROUNDS):
        if fp[0] <= local_finish_edges:
            return _local_cc_finish(edges)
        # large-star over the undirected neighborhood view
        und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # output (v, m) with m <= u < v: strictly (hi -> lo) oriented and
        # never a self-loop, so small-star consumes it directly
        large = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the already-(hi -> lo) large-star output
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .union(mins2.select(F.col("u").alias("n"), F.col("m")))
            .where(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        prev = edges
        edges, new_fp = _checkpoint_with_fingerprint(small)
        if new_fp == fp and edges.exceptAll(prev).isEmpty():
            # fingerprint says converged; the exceptAll re-check makes a
            # hash collision between different consecutive edge sets
            # unable to terminate early. Count equality (in the
            # fingerprint) plus one-direction set containment proves the
            # two distinct sets equal; both sides are materialized
            # localCheckpoints, so this is one cheap tiny-set job that
            # runs at most once per call.
            break
        fp = new_fp
    else:
        raise RuntimeError(f"connected_components did not converge in {CC_MAX_ROUNDS} rounds")
    members = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
    roots = (
        edges.select(F.col("v").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component_id"))
    )
    return members.union(roots)


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """``bits``-wide SimHash over whitespace tokens (with multiplicity):
    bit j is the sign of the per-bit majority vote. One explode + one
    aggregate with ``bits`` conditional sums (map-side combinable).

    ``bits`` must be a multiple of 4 (the token hash is the first
    bits/4 hex chars of md5) and <= 60 so the signature — and DuckDB's
    '0x'-literal parse of the same hex prefix in the oracle twin —
    stays inside a signed 64-bit integer. 32 is the oracle-tractable
    registered config; 60 is the production width (see
    ``simhash_hamming_pairs``'s scale note)."""
    if bits % 4 or not 4 <= bits <= 60:
        raise ValueError("bits must be a multiple of 4 in [4, 60]")
    words = F.split(normalize_text(F.col("text")), " ")
    toks = docs.select(F.col("doc_id"), F.explode(words).alias("tok")).withColumn(
        "h", md5_long("tok", n_hex=bits // 4)
    )
    votes = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << j).cast("long")
        sim = term if sim is None else sim + term
    return per_doc.select(F.col("doc_id"), sim.alias("simhash"))


def simhash_hamming_pairs(docs: DataFrame, sim_bits: int = 32) -> DataFrame:
    """SimHash near-duplicate pairs: ``(doc_a, doc_b, hamming)`` for every
    pair whose signatures differ in <= ``SIMHASH_THRESHOLD`` bits.

    EXACT under the pigeonhole guarantee: with ``SIMHASH_BANDS``
    equal-width bands, any pair within hamming distance
    ``SIMHASH_BANDS - 1`` shares at least one band verbatim, so the
    banded equi-join enumerates every qualifying pair and the
    popcount-of-xor verify drops false candidates. Candidate generation
    shuffles on (band, value) — an equi-join, never all-pairs.

    Scale knob: band width controls bucket occupancy. 32-bit/4-band
    (8-bit values, 256 buckets/band) is the oracle-tractable registered
    config and is fine up to ~1M docs; at real corpus scale pass
    ``sim_bits=60`` (15-bit bands, 32768 buckets/band — the widest
    signature whose hex prefix both engines parse into a signed 64-bit
    int) so occupancy, not corpus size, bounds the per-bucket pair
    count. Measured r7 on the 5M-doc /tmp/sf100 corpus (same contended
    window, both configs): 32-bit banding put 227.4B candidate pairs
    through the verify (max bucket 58,314 docs; 229.4 s end-to-end, the
    one superlinear row of the 1000x probe) vs 60-bit's 2.07B
    candidates (110x fewer; max bucket 1,216; 27.3 s end-to-end,
    8.4x) — see SCALE30.md's 1000x notes. Same threshold 3 on a
    wider fingerprint is the published production operating point
    (Manku et al., WWW'07: f=64, k=3), a strictly finer near-dup
    notion than 3-of-32.
    """
    band_width = sim_bits // SIMHASH_BANDS
    mask = (1 << band_width) - 1
    sims = simhash(docs, bits=sim_bits)
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), band_width * j).bitwiseAND(F.lit(mask))
            for j in range(SIMHASH_BANDS)
        ]
    )
    bands = sims.select(
        F.col("doc_id"), F.col("simhash"), F.posexplode(band_vals).alias("band", "bv")
    )
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long")
    # hamming filter BEFORE the pair distinct: the xor-popcount is free
    # (JVM expression on join output), and filtering first keeps the
    # up-to-SIMHASH_BANDS duplicate candidates of NON-qualifying pairs out of
    # the distinct's shuffle (measured ~2x fewer rows shuffled here).
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.bv") == F.col("b.bv"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_THRESHOLD)
        .distinct()
    )

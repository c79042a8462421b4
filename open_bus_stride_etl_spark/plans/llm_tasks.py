"""LLM training-data pipeline tasks: the operator families composed
into schedulable stages with written artifacts, driven through the same
task registry/CLI as the transit ETL tasks (SURVEY.md §3; no
reference-repo analog — BASELINE.json extension). Four stages:
llm-curate-corpus (ingest -> score -> dedup -> write, optionally
incremental against a history of seen fingerprints and a persisted LSH
band index), llm-build-ann-index / llm-ann-query (the persisted IVF
lifecycle), and llm-export-training-shards (tokenize -> seeded shuffle
-> sharded replay-ordered write — the artifact a training loader
consumes).

llm-curate-corpus and the oracle-pinned `corpus_clean_keep` and
`corpus_clean_verdicts` queries (plans/q_llm.py) call the same selection
kernel (operators/curation.py: curate_scores, curate_checks,
near_dup_losers and the QUALITY_MIN_BP / CURATE_LANGS / JACCARD_MIN_BP
defaults): quality floor, language allow-list, exact-dup min-id
keeper, MinHash-LSH near-dup loser pruning. This task adds what a query
cannot carry: reading from parquet OR, when there is none, a JSONL
crawl dump, writing the curated corpus (with text) as parquet, and
per-stage survivor metrics for the run ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import curation as cu
from ..operators import dedup as dd
from ..operators import text as tx
from ..operators.util import track_checkpoint, track_persist
from ..sources import fs
from ..sources import stride_lake as lake
from ..streaming.bounded import run_bounded
from .tasks import task

# The IVF index llm-build-ann-index trains (ANN_CELLS k-means cells after
# LLOYD_ROUNDS rounds) and llm-ann-query's probe: the ANN_QUERIES
# lowest-id vectors, each probing its ANN_N_PROBE nearest cells for its
# ANN_TOP_K neighbours. Read at call time, so tests monkeypatch them.
ANN_CELLS = 8
LLOYD_ROUNDS = 3
ANN_QUERIES = 16
ANN_TOP_K = 5
ANN_N_PROBE = 2
# llm-export-training-shards: the corpus vocabulary size, the shard
# count and the shuffle's epoch seed. Read at call time, so tests
# monkeypatch them.
VOCAB_SIZE = 100
N_SHARDS = 8
EPOCH_SEED = "ep0"


def _indexed_lsh_pairs(
    spark: SparkSession,
    docs: DataFrame,
    history_dir: str,
    b_ids: DataFrame,
    cur: DataFrame,
    probe_rows: int,
) -> DataFrame:
    """Incremental LSH pairs via the AMORTIZED persisted band-bucket
    index (r10, VERDICT r9 #1): ``{history_dir}/lsh_band_index.parquet``
    holds one ``(doc_id, fp, bucket)`` row per band per ever-indexed
    doc. Each incremental run tops the index up with the docs it does
    not validly cover (one signature aggregation over THOSE docs only;
    the index is never rebuilt, and a validly indexed doc is never
    signed again) and probes batch-vs-index, so the steady-state run's
    only full-corpus work is one slim columnar scan of the index. The
    first history-backed run (no ``seen_fingerprints`` yet) is not
    indexed: it signs its corpus in-plan through ``minhash_lsh_pairs``
    and appends no band index, so the next run's bootstrap signs those
    docs a second time.

    Exactness: an index row is USED only when its ``fp`` (the task's
    md5 content fingerprint — the same text-identity the seen-index and
    exact-dup keeper already rely on) matches the doc's CURRENT
    fingerprint in ``cur``, so removed docs, changed text, and stale
    rows are invisible; after the top-up every current doc has a valid
    row, making the validity-filtered index row-set-equal to
    ``band_buckets(minhash_signatures(docs))`` — the precondition under
    which ``minhash_lsh_pairs_from_buckets`` returns exactly
    ``minhash_lsh_pairs(docs)`` filtered to ``doc_b ∈ b_ids`` (pinned by
    tests/test_llm_ops.py::test_lsh_pairs_from_buckets_equals_full). The
    index is append-only (a crash-replayed append at worst duplicates
    rows, which the candidate ``distinct()`` absorbs); compaction of
    stale rows is the deployment's lake-compaction concern, like every
    other append artifact here."""
    if lake.table_exists(history_dir, "lsh_band_index"):
        existing = lake.read_table(spark, history_dir, "lsh_band_index")
        # ONE corpus-scale validity join per run (the first cut ran it
        # per consumer — three corpus-sized joins; measured the whole
        # win away at sf10): the valid row set is persisted, and the
        # top-up anti-join, the candidate a-side and the probe b-side
        # all read the cache.
        valid = track_persist(
            existing.select("doc_id", F.col("fp").alias("_fp"), "bucket")
            .join(cur, on=["doc_id", "_fp"], how="left_semi")
            .select("doc_id", "bucket")
        )
        new_docs = docs.join(
            valid.select("doc_id").distinct(), on="doc_id", how="left_anti"
        )
    else:
        valid = None
        new_docs = docs  # bootstrap: first incremental run signs everything once
    # The batch's new buckets are computed ONCE (eager localCheckpoint):
    # the index append writes from the checkpoint and the probe union
    # reads it — no re-read of the just-written files, no second
    # signature pass over the batch.
    new_buckets = track_checkpoint(
        dd.band_buckets(dd.minhash_signatures(new_docs))
        .join(cur, on="doc_id")
        .select("doc_id", F.col("_fp").alias("fp"), "bucket")
    )
    lake.append_table(new_buckets, history_dir, "lsh_band_index")
    nb = new_buckets.select("doc_id", "bucket")
    buckets_now = nb if valid is None else valid.unionByName(nb)
    return dd.minhash_lsh_pairs_from_buckets(docs, buckets_now, b_ids, probe_rows)


def _load_docs(spark: SparkSession, base_dir: str) -> DataFrame:
    """``documents.parquet``, or the ``documents_jsonl/`` crawl dump
    when there is no parquet table."""
    parquet = f"{base_dir}/documents.parquet"
    if fs.exists(parquet, spark):
        return spark.read.parquet(parquet)
    from ..sources.jsonl import load_documents_jsonl  # noqa: PLC0415

    return load_documents_jsonl(spark, f"{base_dir}/documents_jsonl")


@task("llm-curate-corpus", cadence="daily")
def llm_curate_corpus(
    spark: SparkSession,
    base_dir: str,
    out_dir: str | None = None,
    history_dir: str | None = None,
) -> dict:
    """Curate ``{base_dir}/documents.parquet`` (or, without it,
    ``documents_jsonl/``) into ``{out_dir or base_dir/curated_documents}``:
    quality floor, language allow-list, exact-dedup min-id keeper, LSH
    near-dup loser pruning — then write the surviving documents WITH their text as
    parquet and report per-stage counts.

    ``history_dir`` (any path ``sources.fs`` accepts, URIs included)
    holds the seen-fingerprint index and the LSH band index; with it,
    each run admits only documents whose fingerprint it has not seen.

    Scale notes: the counters ride the one scoring pass as observed
    metrics (an incremental run's pass also materializes the admissible
    remainder, which everything after it reads); the only full-corpus
    shuffles are the exact-dup fingerprint window and the LSH
    pipeline's signature aggregate (the flattened `minhash_lsh_pairs`
    plan) — and on INCREMENTAL runs even that disappears: signatures
    are read from the amortized persisted band-bucket index in
    ``history_dir`` (see ``_indexed_lsh_pairs``: once indexed, a doc is
    not signed again while its text is unchanged; the first
    history-backed run's docs are signed twice, in that run and in the
    next run's bootstrap). The final write streams
    the survivor rows — nothing collects to the driver but the metric
    scalars."""
    docs = _load_docs(spark, base_dir)
    scored = cu.curate_scores(docs)
    ok_quality, ok_lang, keeper = cu.curate_checks()

    # Incremental mode (the daily-crawl shape, same contract as the
    # dedup_incremental query): drop any document whose fingerprint is
    # already in the history index — a join against an 8-byte-key
    # table — and, after the write, append the NEW survivors'
    # fingerprints so the next run sees them. The index append is
    # distinct fingerprints only: it grows with unique content, not
    # crawl volume. A Bloom-pre-filtered variant was tried here in r5
    # and deleted on measurement: at a 20M-key materialized index x
    # 5M-row batch the per-run bitset build made it 12x slower than
    # Spark's native AQE anti-join (2.4 s vs 29 s, interleaved A/B x3).
    seen = None
    if history_dir is not None and lake.table_exists(history_dir, "seen_fingerprints"):
        seen = lake.read_table(spark, history_dir, "seen_fingerprints")

    from pyspark.sql import Observation  # noqa: PLC0415

    admissible = ok_quality & ok_lang & keeper
    obs = Observation()
    flag_aggs = [
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(ok_quality & ok_lang, 1)).alias("n_quality_lang"),
        F.count(F.when(admissible, 1)).alias("n_after_exact"),
    ]
    if seen is None:
        # Non-incremental mode never branches on the counts, so they
        # ride the artifact write as observed metrics (guide §1.4, the
        # fs.publish_parquet pattern) — ONE scoring pass instead of two.
        # Checkpointing here would be a corpus-sized cache (r10).
        kept = (
            scored.observe(obs, *flag_aggs)
            .where(admissible)
            .drop("_quality_bp", "_lang", "_fp", "_min_id")
        )
        n_remaining = None
    else:
        # ONE scoring pass, materialized as an eager local checkpoint:
        # every doc's (doc_id, fingerprint) — the band index's view of
        # the current corpus — plus, for the ADMISSIBLE REMAINDER only
        # (docs that pass quality and language, are their exact-dup
        # group's keeper and carry a fingerprint the history has not
        # seen), the document itself. Every counter rides that job as
        # observed metrics (the no-op branch needs them before it
        # decides). The seen verdict joins as a nullable flag on
        # DISTINCT index fingerprints (appends may repeat one across
        # runs; a duplicate-key left join would duplicate rows); the
        # keeper window runs before it, so a whole fp-group drops
        # together. The index validity filter, the LSH probe's b-side,
        # its size and the artifact write all read the checkpoint,
        # never the corpus text again.
        remainder = admissible & F.col("_seen").isNull()
        ck = track_checkpoint(
            scored.join(
                seen.select(F.col("fingerprint").alias("_fp"))
                .distinct()
                .withColumn("_seen", F.lit(1)),
                on="_fp",
                how="left",
            )
            .observe(obs, *flag_aggs, F.count(F.when(remainder, 1)).alias("n_remaining"))
            .select("doc_id", "_fp", F.when(remainder, F.struct(*docs.columns)).alias("_doc"))
        )
        kept = ck.where(F.col("_doc").isNotNull()).select("_doc.*")
        n_remaining = obs.get["n_remaining"]

    if n_remaining != 0:
        # An empty remainder (the steady-state daily re-crawl) skips the
        # whole MinHash-LSH pipeline: pruning losers from nothing leaves
        # nothing. Otherwise the pair b-side is the remainder itself
        # (guide §3.2 selective semi-join): a near-dup loser only
        # matters if the anti-join below can drop it from `kept`, so
        # probing any other doc is wasted verify work. The a-side — the
        # candidate winners — stays the whole validity-filtered index,
        # so a winner that fails quality or was seen still suppresses
        # its near-dups.
        #
        # The candidate a-side comes from the persisted band-bucket
        # index in history_dir (_indexed_lsh_pairs) instead of a fresh
        # full-corpus signature aggregation — the amortized
        # O(batch)-signing shape. The first run (seen is None) keeps the
        # in-plan minhash_lsh_pairs pipeline (bootstrap happens on the
        # FIRST incremental run, which must sign the backlog once either
        # way).
        if seen is not None:
            pairs_src = _indexed_lsh_pairs(
                spark, docs, history_dir, kept.select("doc_id"), ck.select("doc_id", "_fp"),
                probe_rows=4 * n_remaining,
            )
        else:
            pairs_src = dd.minhash_lsh_pairs(docs)
        losers = cu.near_dup_losers(pairs_src)
        kept = kept.join(losers, on="doc_id", how="left_anti")
    out = out_dir or f"{base_dir}/curated_documents"
    # n_final is counted in the write job itself (no read-back count)
    n_final = fs.publish_parquet(kept, out)["rows"]
    if history_dir is not None and n_final > 0:
        # (an empty run appends nothing — skip the no-op job; the index
        # CONTENT is identical either way)
        lake.append_table(
            spark.read.schema(kept.schema)
            .parquet(out)
            .select(tx.doc_fingerprint(F.col("text")).alias("fingerprint"))
            .distinct(),
            history_dir,
            "seen_fingerprints",
        )
    fv = obs.get
    n_seen_dropped = 0 if n_remaining is None else fv["n_after_exact"] - n_remaining
    return {
        "n_total": fv["n_total"],
        "n_quality_lang": fv["n_quality_lang"],
        "n_after_exact": fv["n_after_exact"],
        "n_seen_dropped": n_seen_dropped,
        "n_near_dup_dropped": fv["n_after_exact"] - n_final - n_seen_dropped,
        "n_final": n_final,
        "out_dir": out,
    }


@task("llm-build-ann-index", cadence="daily")
def llm_build_ann_index(
    spark: SparkSession,
    base_dir: str,
    out_dir: str | None = None,
) -> dict:
    """Train and PERSIST the IVF index over ``{base_dir}/
    embeddings.parquet``: k-means centroids (the coarse quantizer) and
    the full assignment (the inverted lists), each written as parquet —
    the offline index-build stage every production ANN deployment runs
    (ann_ivf_topk's deterministic pivots are the oracle-checkable
    stand-in; THIS is the trained path). Reported occupancy stats are
    the index-health metrics that drive the scale-k-with-corpus rule
    (similarity.py:clustered_near_dup_pairs's enforced precondition).

    Scale shape: training is operators/clustering.py:kmeans_fit (each
    Lloyd round = one scan of the persisted long-format points; only
    k x dim ints ever reach the driver); the index write shuffles
    (id, cluster) pairs, never vectors."""
    from ..operators.clustering import kmeans_fit  # noqa: PLC0415

    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    assign, cents = kmeans_fit(emb, k=ANN_CELLS, iters=LLOYD_ROUNDS)
    out = out_dir or f"{base_dir}/ann_index"
    lake.overwrite_table(cents, out, "centroids")
    lake.overwrite_table(assign, out, "assignments")
    occ = (
        lake.read_table(spark, out, "assignments")
        .groupBy("cluster")
        .count()
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("count").alias("n_vectors"),
            F.min("count").alias("occ_min"),
            F.max("count").alias("occ_max"),
        )
        .collect()[0]
    )
    return {
        "k": ANN_CELLS,
        "iters": LLOYD_ROUNDS,
        "n_vectors": occ["n_vectors"],
        "n_cells_nonempty": occ["n_cells"],
        "occupancy_min": occ["occ_min"],
        "occupancy_max": occ["occ_max"],
        "out_dir": out,
    }


@task("llm-ann-query", cadence="daily")
def llm_ann_query(
    spark: SparkSession,
    base_dir: str,
    index_dir: str | None = None,
    out_dir: str | None = None,
) -> dict:
    """Answer a query set against the PERSISTED IVF index (built by
    llm-build-ann-index) without retraining: queries are coarse-
    quantized against the loaded centroids driver-side (k x dim ints),
    each probing its ``ANN_N_PROBE`` nearest cells; the corpus makes ONE
    mapInPandas pass keyed by its stored cell assignment, scoring each
    Arrow batch's cell-groups against the probing queries' blocks
    (operators/similarity.py:ivf_probe_persisted — only per-batch top-k
    rows leave the workers). The query set is the ``ANN_QUERIES`` lowest-id
    vectors (deterministic, like the oracle-checked ANN queries).

    Scale shape: the assignment join is an equi-join on the 8-byte id;
    nothing shuffles vectors except the one corpus scan's Arrow
    batches; raising ANN_N_PROBE trades recall for the number of cell
    blocks each batch matmuls against."""
    from ..operators.similarity import ivf_probe_persisted  # noqa: PLC0415

    idx = index_dir or f"{base_dir}/ann_index"
    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    result, probe_meta = ivf_probe_persisted(
        emb,
        lake.read_table(spark, idx, "centroids"),
        lake.read_table(spark, idx, "assignments"),
        n_queries=ANN_QUERIES,
        k_top=ANN_TOP_K,
        n_probe=ANN_N_PROBE,
    )
    out = out_dir or f"{base_dir}/ann_results"
    n_rows = fs.publish_parquet(result, out)["rows"]
    return {
        "n_queries": probe_meta["n_queries"],
        "k_top": ANN_TOP_K,
        "n_probe": ANN_N_PROBE,
        "n_result_rows": n_rows,
        "n_probed_cells": probe_meta["n_probed_cells"],
        "out_dir": out,
    }


def build_training_shards(docs: DataFrame) -> DataFrame:
    """The export task's logical plan, pre-write (factored out r8 so
    tests/test_partitioning.py can canary the plan shape): the corpus's
    top-``VOCAB_SIZE`` DF vocabulary (corpus_stats.top_df_vocab),
    tokenize_with_vocab, ``EPOCH_SEED``-seeded shard_shuffle
    (bucket-then-rank: ``N_SHARDS`` window partitions, NEVER one global
    sort), one repartition by shard with partition-local ordering by
    pos."""
    from ..operators import corpus_stats as cs  # noqa: PLC0415
    from ..operators import sampling as sp  # noqa: PLC0415

    toks = cs.tokenize_with_vocab(docs, cs.top_df_vocab(docs, VOCAB_SIZE))
    order_df = sp.shard_shuffle(docs, n_shards=N_SHARDS, seed=EPOCH_SEED)
    return (
        toks.join(order_df, on="doc_id")
        .select("doc_id", "shard", "pos", "n_tokens", "n_oov", "ids_csv")
        .repartition(N_SHARDS, "shard")
        .sortWithinPartitions("shard", "pos")
    )


@task("llm-export-training-shards", cadence="daily")
def llm_export_training_shards(
    spark: SparkSession,
    base_dir: str,
    in_dir: str | None = None,
    out_dir: str | None = None,
) -> dict:
    """The LAST MILE of the training-data pipeline: turn a curated
    corpus into the sharded, shuffled, tokenized artifact a training
    loader consumes. Chains the already-oracle-checked operators:

    1. vocabulary = the corpus's top-``VOCAB_SIZE`` document-frequency
       terms (rank = token id, ties by term — the tokenize_vocab_ids
       contract; a production run passes a fixed external vocab
       instead),
    2. ``tokenize_with_vocab`` — token-id sequences, OOV = 0,
    3. ``shard_shuffle(EPOCH_SEED)`` — the reproducible hash-random
       global order (bucket-then-rank; NEVER a single global sort), one
       seed per epoch,
    4. write parquet PARTITIONED BY shard, rows sorted by ``pos``
       within each shard file — a loader streams shards in any
       interleaving and replays the identical order on every engine.

    Scale shape: the vocab is a broadcast; tokenization is one
    posexplode + broadcast join + doc-keyed reassembly; the shuffle
    order is N_SHARDS independent window partitions (each bounded at
    |corpus|/N_SHARDS); the final exchange is one repartition by shard
    (one output file per shard partition at real scale). Reads
    ``in_dir`` (default: the llm-curate-corpus output if present, else
    the raw documents table)."""
    src = in_dir
    if src is None:
        cur = f"{base_dir}/curated_documents"
        src = cur if fs.exists_restoring(cur, spark) else f"{base_dir}/documents.parquet"
    docs = spark.read.parquet(src)
    sharded = build_training_shards(docs)
    out = out_dir or f"{base_dir}/training_shards/{EPOCH_SEED}"
    sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
    stats = spark.read.parquet(out).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("shard").alias("n_shards_written"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_oov").alias("total_oov"),
    ).collect()[0]
    return {
        "n_docs": stats["n_docs"],
        "n_shards_written": stats["n_shards_written"],
        "total_tokens": stats["total_tokens"],
        "oov_bp": int(round(10000.0 * stats["total_oov"] / stats["total_tokens"]))
        if stats["total_tokens"]
        else 0,
        "vocab_size": VOCAB_SIZE,
        "seed": EPOCH_SEED,
        "out_dir": out,
    }


@task("llm-stream-ingest-dedup", cadence="hourly")
def llm_stream_ingest_dedup(
    spark: SparkSession,
    base_dir: str,
    in_dir: str | None = None,
    index_dir: str | None = None,
    out_dir: str | None = None,
    max_files_per_trigger: int = 0,
) -> dict:
    """CONTINUOUS-INGEST near-dup suppression with index append-back —
    the production (order-dependent) variant of the oracle-checked
    streaming_dedup_lsh query (plans/q_streaming.py), which keeps its
    index static for batching-invariant determinism. Here each
    micro-batch (a) probes the persisted LSH band index, (b) admits
    only docs with ZERO band collisions, and (c) appends the admitted
    docs' buckets back to the index — so a near-dup arriving in a LATER
    batch is suppressed by an EARLIER batch's novel doc, which a static
    index cannot do. Within one batch, near-dup siblings are both
    admitted (and both indexed); the batch is the admission quantum —
    the crawler controls the trade by sizing triggers.

    Replay idempotence: ``foreachBatch`` re-delivers the in-flight
    batch after a crash, so both sinks write to ``batch=<id>``
    subdirectories with overwrite — a replayed batch rewrites its own
    files instead of duplicating rows (the same contract as the keyed
    upsert sink's staging swap). Duplicate BUCKET rows would be
    harmless (the probe is a semi-join) but get the same treatment for
    free. The checkpoint lives under ``base_dir`` so a restarted task
    resumes from the unprocessed files.

    Scale shape: per batch, one shuffle over the batch's shingles
    (MinHash aggregation) and one equi-join against the index on the
    band-bucket key — never an all-pairs comparison; the index is a
    bucket SET (one slim column), read fresh each batch so the
    append-back is visible. Admitted docs land as parquet (text and
    all); the lake-compaction task owns the small-file debt both sinks
    accrue."""
    src = in_dir or f"{base_dir}/ingest"
    idx_dir = index_dir or f"{base_dir}/lsh_band_index"
    dst = out_dir or f"{base_dir}/ingested_documents"
    ckpt = f"{base_dir}/ingest_ckpt"

    schema = spark.read.parquet(src).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src)

    totals = {"n_ingested": 0, "n_novel": 0, "n_batches": 0}

    def _admit(batch: DataFrame, batch_id: int) -> None:
        # Ingest batches are typically crawler-staged coalesced files
        # whose ~128MB parquet row groups gate the batch scan to ~1
        # WORKING task per file (the batch plan shows 32 split
        # partitions, but parquet parallelism is row-group-bound — r9
        # audit), and the shingle/MinHash map work happens BEFORE any
        # exchange — left alone it runs single-threaded over the whole
        # batch (measured r8: 35 s/batch at 250k docs vs ~7 s spread).
        # Re-spread to the session's parallelism before materializing;
        # hash-membership semantics are partitioning-invariant. Sources
        # with small row groups don't need this (streaming_dedup_lsh's
        # respread A/B at sf30 was sign-mixed noise — left alone).
        batch = track_checkpoint(  # two consumers below
            batch.repartition(batch.sparkSession.sparkContext.defaultParallelism)
        )
        buckets = dd.band_buckets(dd.minhash_signatures(batch))
        # Crash-replay guard: foreachBatch re-delivers the in-flight
        # batch, whose OWN batch=<id> index partition may already exist
        # from the crashed attempt. Probing it would make the batch's
        # docs hit their own buckets — novel goes empty and the
        # overwrite erases the previously-admitted rows. So the probe
        # reads every other batch=<id> directory, by name: a glob path
        # makes Spark look for a streaming sink's metadata log under it
        # and log a warning with a stack trace on every batch.
        prior = [
            fs.join_path(idx_dir, f)
            for f in fs.listdir(idx_dir, spark)
            if f.startswith("batch=") and f != f"batch={batch_id}"
        ]
        if prior:
            idx = (
                spark.read.schema("bucket string, batch long")
                .option("basePath", idx_dir)
                .parquet(*prior)
            )
            hit_docs = buckets.join(idx, on="bucket", how="left_semi").select("doc_id").distinct()
            novel = track_checkpoint(batch.join(hit_docs, on="doc_id", how="left_anti"))
        else:
            novel = batch
        novel.write.mode("overwrite").parquet(f"{dst}/batch={batch_id}")
        (
            buckets.join(novel.select("doc_id"), on="doc_id", how="left_semi")
            .select("bucket")
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{idx_dir}/batch={batch_id}")
        )
        totals["n_ingested"] += batch.count()
        totals["n_novel"] += novel.count()
        totals["n_batches"] += 1

    run_bounded(stream, _admit, ckpt)

    return {
        "n_batches": totals["n_batches"],
        "n_ingested": totals["n_ingested"],
        "n_novel": totals["n_novel"],
        "n_suppressed": totals["n_ingested"] - totals["n_novel"],
        "out_dir": dst,
        "index_dir": idx_dir,
    }

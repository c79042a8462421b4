"""Corpus curation operators: per-group quantile quality filtering and
deterministic source balancing (LLM training-data pipeline extensions;
no reference-repo analog — the reference is transit ETL).

Scale design — both operators avoid the trap their naive formulations
fall into at 100 TB:

- Quantile threshold WITHOUT a global sort: quality scores live in the
  bounded integer domain [0, 10000] (basis points), so the per-group
  k-th order statistic is computed from a per-(group, score) HISTOGRAM —
  a map-side-combined aggregation of at most 10001 rows per group —
  instead of rank-over-partition, which would sort one giant shuffle
  partition per group. The tiny threshold table broadcasts back; the
  keep-filter is map-local.
- Source balancing WITHOUT per-source ranking: per-source keep RATES
  (derived from one tiny count aggregation) turn into a deterministic
  md5-bucket filter — map-local after a broadcast join, reproducible
  across reruns and repartitionings, no quota sort. The k-th order
  statistic is tie-safe (the VALUE at rank k is deterministic even when
  row order among ties is not), which is what makes both operators
  exactly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .text import doc_fingerprint, lang_id, quality_score_bp

# quantile_threshold_filter keeps the top KEEP_NUM/KEEP_DEN of each group.
KEEP_NUM, KEEP_DEN = 1, 5
# Per-stage md5 salts (hash_bucket_bp): distinct so the stages' keep and
# duplicate decisions never correlate.
MIX_SEED = "mix"
SPLIT_SEED = "split"
# leakage_safe_split's split name -> basis points (sum 10000; cut points
# follow dict order). Read at call time, so tests monkeypatch it.
SPLIT_WEIGHTS_BP = {"train": 9000, "val": 500, "test": 500}

# The curate selection (llm-curate-corpus, corpus_clean_*; oracle twin
# q_llm._sql_curate): a document survives at quality >= QUALITY_MIN_BP,
# language in CURATE_LANGS, as its exact-dup group's min-id keeper, and
# off the higher-id side of every near-dup pair at >= JACCARD_MIN_BP.
# Read at call time, so tests monkeypatch them.
QUALITY_MIN_BP = 2000
CURATE_LANGS = ("en", "und")
JACCARD_MIN_BP = 5000


def curate_scores(docs: DataFrame) -> DataFrame:
    """``docs`` plus the curate selection's per-document scores:
    ``_quality_bp``, ``_lang``, ``_fp`` (the full-text fingerprint) and
    ``_min_id`` (the keeper of the doc's exact-duplicate group). The
    keeper window is the selection's one corpus shuffle."""
    t = F.col("text")
    return docs.select(
        "*",
        quality_score_bp(t).alias("_quality_bp"),
        lang_id(t).alias("_lang"),
        doc_fingerprint(t).alias("_fp"),
    ).withColumn("_min_id", F.min("doc_id").over(Window.partitionBy("_fp")))


def curate_checks() -> tuple[Column, ...]:
    """The per-document checks over ``curate_scores``' columns, in
    verdict order: quality floor, language allow-list, exact-dup keeper."""
    return (
        F.col("_quality_bp") >= QUALITY_MIN_BP,
        F.col("_lang").isin(*CURATE_LANGS),
        F.col("doc_id") == F.col("_min_id"),
    )


def near_dup_losers(pairs: DataFrame) -> DataFrame:
    """The distinct ``doc_id``s that lose a near-dup pair: the ``doc_b``
    (higher-id) side of every ``(doc_a, doc_b, jaccard_bp)`` pair at
    ``JACCARD_MIN_BP`` or more."""
    return (
        pairs.where(F.col("jaccard_bp") >= JACCARD_MIN_BP)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def quantile_threshold_filter(scored: DataFrame, group_col: str, score_col: str) -> DataFrame:
    """Keep the top ``KEEP_NUM/KEEP_DEN`` fraction of rows per group by
    integer score, tie-inclusive: threshold t = the k-th highest score
    where k = ceil(n * KEEP_NUM / KEEP_DEN), keep rows with score >= t
    (ties at the threshold are all kept — deterministic, unlike an
    arbitrary tiebreak).

    Adds ``thr_<score_col>`` (the group's threshold) to the output.
    ``score_col`` must be integral and bounded (basis points) — that is
    what makes the histogram formulation exact and tiny."""
    hist = scored.groupBy(group_col, score_col).agg(F.count(F.lit(1)).alias("_c"))
    w_desc = (
        Window.partitionBy(group_col)
        .orderBy(F.col(score_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    cum = hist.select(
        group_col,
        score_col,
        F.sum("_c").over(w_desc).alias("_n_ge"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    # ceil(n * KEEP_NUM / KEEP_DEN), pure integers
    k = F.expr(f"div(_n * {KEEP_NUM} + {KEEP_DEN} - 1, {KEEP_DEN})")
    thr = (
        cum.where(F.col("_n_ge") >= k)
        .groupBy(group_col)
        .agg(F.max(score_col).alias(f"thr_{score_col}"))
    )
    return scored.join(F.broadcast(thr), on=group_col).where(
        F.col(score_col) >= F.col(f"thr_{score_col}")
    )


def hash_bucket_bp(key: Column, seed: str = "") -> Column:
    """Deterministic basis-point bucket in [0, 10000) from md5 of the
    (seed-salted) key — the same engine-portable membership primitive
    as operators/sampling.py, at rate resolution. Distinct pipeline
    stages MUST use distinct seeds: two stages sharing the unsalted
    stream make correlated selections (e.g. the docs a balance stage
    keeps would be exactly the docs an upsample stage duplicates)."""
    return md5_long(F.concat(F.lit(seed), key.cast("string"))) % 10000


def source_rates(docs: DataFrame) -> DataFrame:
    """Per-source keep-rate table for uniform source mixing:
    ``(source, n_docs, rate_bp)`` with rate_bp =
    floor(min_n * 10000 / n_source) — one tiny aggregation, meant to be
    broadcast into the membership filter."""
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    min_n = counts.agg(F.min("n_docs").alias("_min_n"))
    return counts.crossJoin(F.broadcast(min_n)).select(
        "source",
        "n_docs",
        F.expr("div(_min_n * 10000, n_docs)").cast("long").alias("rate_bp"),
    )


def balanced_docs(docs: DataFrame) -> DataFrame:
    """The balanced corpus itself: every ``docs`` column, restricted to
    the rows that survive source balancing (md5-bucket membership under
    the per-source rate). This is the composable pipeline stage.

    Membership depends only on the doc id and the broadcast rate table:
    map-local, reproducible across engines, reruns and repartitionings."""
    rates = source_rates(docs)
    return (
        docs.join(F.broadcast(rates.select("source", "rate_bp")), on="source")
        .where(hash_bucket_bp(F.col("doc_id")) < F.col("rate_bp"))
        .drop("rate_bp")
    )


def epoch_upsample(
    docs: DataFrame,
    weights: DataFrame,
) -> DataFrame:
    """Fractional-epoch data mixing: materialize each document
    ``weight`` times, where per-source weights are fractional (the
    standard corpus-mixing spec — e.g. books 2.3 epochs, web 0.8).
    ``weights`` is a tiny ``(source, weight_bp)`` table (basis points:
    10000 = 1.0 epoch). Every document gets ``weight_bp // 10000``
    guaranteed copies plus one more iff its deterministic md5 bucket
    falls under the fractional remainder — so exactly the right
    fraction of each source repeats, reproducibly across engines and
    repartitionings (same doctrine as sampling.hash_bucket). Output:
    one row per materialized copy ``(doc_id, source, copy_idx)``.

    Scale shape: the weights table broadcasts (it is |sources| rows);
    copy materialization is a map-local explode of a bounded sequence —
    no shuffle at all. Downstream, compose with ``shard_shuffle`` on
    (doc_id, copy_idx) to interleave the copies through the training
    order instead of clustering them."""
    n = F.expr("weight_bp div 10000") + F.when(
        hash_bucket_bp(F.col("doc_id"), MIX_SEED) < F.col("weight_bp") % 10000, 1
    ).otherwise(0)
    return (
        docs.join(F.broadcast(weights), on="source")
        .withColumn("_n", n)
        # guard: sequence(1, 0) DESCENDS in Spark — empty array instead
        .withColumn(
            "_copies",
            F.when(F.col("_n") > 0, F.sequence(F.lit(1), F.col("_n"))).otherwise(
                F.array()
            ),
        )
        .select(F.col("doc_id"), F.col("source"), F.explode("_copies").alias("copy_idx"))
        .select(
            F.col("doc_id"), F.col("source"), F.col("copy_idx").cast("long").alias("copy_idx")
        )
    )


def leakage_safe_split(docs: DataFrame, components: DataFrame) -> DataFrame:
    """Train/val/test assignment with a DUPLICATE-LEAKAGE guard: the
    split key is the document's near-dup COMPONENT id (``components`` =
    ``(doc_id, component_id)`` from ``dedup.connected_components``; it
    holds only docs with a near-duplicate) when it has one, else the doc
    id — so an entire near-duplicate group lands in ONE split, and a
    test document can never have a training twin. Splitting by plain
    doc hash silently leaks: with 10% dups a naive 90/5/5 split puts
    ~9.5% of test docs' near-copies in train.

    Membership is the engine's deterministic md5-bucket rule
    (reproducible across engines/reruns/partitionings; salted with
    ``SPLIT_SEED`` so this decision stream is independent of every other
    hash-membership stage — curation.py:hash_bucket_bp doctrine), with
    the ``SPLIT_WEIGHTS_BP`` cut points. Output: ``(doc_id, split)``.

    Scale shape: one left join against the slim component table (the
    dedup pipeline already materialized it) + a map-side bucket compare;
    nothing else shuffles."""
    comp = components.select("doc_id", F.col("component_id").alias("_comp"))
    keyed = docs.select("doc_id").join(comp, on="doc_id", how="left")
    bucket = hash_bucket_bp(F.coalesce(F.col("_comp"), F.col("doc_id")), SPLIT_SEED)
    expr = None
    lo = 0
    for name, w in SPLIT_WEIGHTS_BP.items():
        cond = (bucket >= lo) & (bucket < lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    return keyed.select(F.col("doc_id"), expr.alias("split"))

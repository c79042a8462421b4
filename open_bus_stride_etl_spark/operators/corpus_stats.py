"""Corpus-level statistics operators for LLM training-data pipelines:
repetition-based quality signals, global document-frequency stats, and
eval-set decontamination (BASELINE.json extensions; no reference-repo
analog — the reference is transit ETL).

All three are pure DataFrame plans (explode -> hash-aggregate), no
Python in the hot path. Ratios are integer basis points and every
aggregate is integer-typed so the DuckDB oracles compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _shingled
from .text import normalize_text, shingle_array

# A shingle in at least this many documents is boilerplate.
BOILER_MIN_DF = 2


def bigram_repetition(docs: DataFrame) -> DataFrame:
    """Per-document repetition signals (the Gopher-style quality
    filters): ``dup_word_ratio_bp`` (fraction of word occurrences that
    repeat an earlier word) and ``top_bigram_ratio_bp`` (fraction of all
    word bigrams taken by the single most frequent one). Machine-
    generated and boilerplate text scores high on both; natural prose
    stays low.

    Scale shape: the dup-word ratio is a pure column expression (array
    size vs array_distinct size — codegen, no shuffle). The top-bigram
    ratio is explode -> count(doc, bigram) -> max/sum per doc: two
    hash aggregates with map-side combine, keyed by doc — no corpus-wide
    hot key, partitions scale with documents. Docs with < 2 words get
    ratio 0 via the left join back to the id spine.
    """
    words = F.split(normalize_text(F.col("text")), " ")
    base = docs.withColumn("_w", words).select(
        F.col("doc_id"),
        F.size("_w").alias("n_words"),
        F.size(F.array_distinct("_w")).alias("n_distinct_words"),
        shingle_array("_w", 2).alias("_bg"),
    )
    per_doc_bg = (
        base.select("doc_id", F.explode("_bg").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    return (
        base.select("doc_id", "n_words", "n_distinct_words")
        .join(per_doc_bg, on="doc_id", how="left")
        .select(
            F.col("doc_id"),
            F.when(F.col("n_words") > 0,
                   F.round(10000.0 * (F.col("n_words") - F.col("n_distinct_words"))
                           / F.col("n_words")).cast("long"))
            .otherwise(F.lit(0)).alias("dup_word_ratio_bp"),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                   F.round(10000.0 * F.col("top_bigram_n") / F.col("n_bigrams")).cast("long"))
            .otherwise(F.lit(0)).alias("top_bigram_ratio_bp"),
        )
    )


def term_document_frequency(docs: DataFrame) -> DataFrame:
    """Global document frequency per term: ``(term, df)`` where df =
    number of documents containing the term at least once. The IDF table
    of a corpus — the broadcastable dimension that TF-IDF scoring,
    stopword discovery, and vocabulary pruning all join against.

    Scale shape: array_distinct BEFORE the explode (per-doc dedup is a
    cheap in-memory array op, and it cuts the exploded row volume to
    distinct terms per doc), then one count aggregate keyed by term.
    Zipf skew concentrates on a few hundred stopword-like keys, but a
    count has perfect map-side combine — each partition emits one row
    per term, so the reduce side sees partitions x |vocab-head| rows,
    not token volume."""
    words = F.split(normalize_text(F.col("text")), " ")
    return (
        docs.select(F.explode(F.array_distinct(words)).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def top_df_vocab(docs: DataFrame, vocab_size: int) -> DataFrame:
    """The corpus's own vocabulary ``(term, token_id)``: its top
    ``vocab_size`` terms by document frequency, ranked 1.. by (df desc,
    term asc) — the term tie-break makes the cut deterministic. A
    distributed top-k (sort + limit -> TakeOrdered), then a
    vocab_size-row window; never a global rank over the term table."""
    order = [F.col("df").desc(), F.col("term").asc()]
    head = term_document_frequency(docs).orderBy(*order).limit(vocab_size)
    return head.select(
        "term", F.row_number().over(Window.orderBy(*order)).cast("long").alias("token_id")
    )


def boilerplate_stats(docs: DataFrame) -> DataFrame:
    """Boilerplate detection via repeated word-3-grams (the
    repeated-span curation stage of a training-data pipeline: headers,
    footers, license blocks, and templated text appear verbatim across
    many documents). A shingle is *boilerplate* when it occurs in >=
    ``BOILER_MIN_DF`` distinct documents; per document we report how much of it
    is built from such shingles: ``(doc_id, n_shingles, n_boiler,
    boiler_ratio_bp)``. Callers threshold the ratio to drop templated
    documents, or use the hot-shingle table itself to cut spans.

    Scale shape: an inverted-index plan — one distinct (doc, hash) table
    (hashes are 40-bit ints BEFORE any shuffle, operators/dedup.py
    ``_shingled``), one count keyed by hash (perfect map-side combine:
    the reduce side sees |vocab| rows, not token volume), one equi-join
    back on the hash, one count keyed by doc. In production the threshold
    is large (thousands of documents), so the hot set is a small
    broadcastable head; at 2 the join stays a shuffle
    equi-join and AQE decides. No corpus-wide hot key: Zipf skew lands
    on the hash-keyed count, which combines map-side."""
    sh = _shingled(docs)
    df_tab = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= BOILER_MIN_DF)
        .select("h", F.lit(1).alias("_hot"))
    )
    per_doc = (
        sh.join(df_tab, on="h", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hot").alias("n_boiler"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
            F.when(
                F.coalesce(F.col("n_shingles"), F.lit(0)) > 0,
                F.round(10000.0 * F.col("n_boiler") / F.col("n_shingles")).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("boiler_ratio_bp"),
        )
    )


def contamination_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
) -> DataFrame:
    """Eval-set decontamination: for every training document sharing at
    least one word-3-gram with ANY eval document, the count of distinct
    shared shingle hashes — ``(doc_id, n_overlap)``. Callers anti-join
    the flagged ids to decontaminate, or threshold n_overlap for a
    softer policy.

    Scale shape: the eval side is a benchmark suite — thousands of
    documents, megabytes — so its distinct shingle-hash set broadcasts;
    the training corpus streams through one explode + broadcast-hash
    semi-join + per-doc count. No shuffle touches corpus volume except
    the final doc-keyed count. The shingle hash is the shared 40-bit
    md5 prefix from operators/dedup.py, so the DuckDB oracle reproduces
    it exactly."""
    train_sh = _shingled(docs)
    eval_sh = (
        _shingled(eval_docs)
        .select("h")
        .distinct()
    )
    return (
        train_sh.join(F.broadcast(eval_sh), on="h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def tokenize_with_vocab(
    docs: DataFrame,
    vocab: DataFrame,
) -> DataFrame:
    """Materialize token-id sequences against a fixed vocabulary — the
    step after token COUNTING that an actual training-data writer runs:
    ``vocab`` is ``(term, token_id)`` (token_id > 0); out-of-vocabulary
    words map to 0. Output: ``(doc_id, n_tokens, n_oov, ids_csv)`` with
    the id sequence in document order as a comma-joined string (the
    engine's portable array encoding, cf. dedup_exact_groups.members).

    Scale shape: a vocabulary is ~100k rows — broadcast it; the corpus
    side is one posexplode + broadcast-hash left join + one groupBy(doc)
    that reassembles order via array_sort over (pos, id) structs.
    Per-doc state is bounded by document length; nothing corpus-wide
    shuffles except the doc-keyed reassembly."""
    words = F.split(normalize_text(F.col("text")), " ")
    exploded = docs.withColumn("_w", words).select(
        F.col("doc_id"), F.posexplode("_w").alias("pos", "term")
    )
    joined = exploded.join(F.broadcast(vocab), on="term", how="left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(0)).cast("long").alias("tid"),
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("tid") == 0, 1)).alias("n_oov"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda x: x["tid"].cast("string"),
            ),
            ",",
        ).alias("ids_csv"),
    )

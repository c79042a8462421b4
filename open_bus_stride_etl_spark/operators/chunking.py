"""Document chunking and sequence packing — the context-window stage of
a training-data pipeline (long documents split into model-sized windows;
short documents packed together so batches waste no budget).

Both operators are deterministic pure-expression transforms, so they are
DuckDB-oracle-checkable and reproducible across engines/repartitionings:

- ``chunk_fixed``: overlapping fixed-size character windows via one
  ``posexplode(sequence(...))`` — map-local row expansion, no shuffle.
- ``pack_greedy``: streaming first-fit packing expressed as a running
  token sum per shard: bin id = (cumsum - tokens) div budget. Each
  bin's total is <= budget + max_doc_tokens (the standard streaming
  packing bound); shards ("workers") bound the sequential dependency so
  the cumsum window parallelizes — exactly how a distributed packer
  shards the corpus in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import ws_token_count

# chunk_fixed's window width, and the characters consecutive windows
# share. Read at call time, so tests monkeypatch them.
CHUNK_CHARS = 120
CHUNK_OVERLAP = 20
# pack_greedy's shard count (md5 buckets of the doc id).
PACK_SHARDS = 8


def chunk_fixed(docs: DataFrame) -> DataFrame:
    """Overlapping ``CHUNK_CHARS``-character windows: starts at 0, step
    (CHUNK_CHARS - CHUNK_OVERLAP), until the text is consumed; short docs
    yield one chunk. Output: id, chunk_no, chunk_start (0-based),
    chunk_text."""
    step = CHUNK_CHARS - CHUNK_OVERLAP
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.length(F.col("text")) - F.lit(CHUNK_OVERLAP)) / F.lit(step)).cast("int"),
    )
    return docs.select(
        F.col("doc_id"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no", "_i"),
        F.col("text"),
    ).select(
        F.col("doc_id"),
        F.col("chunk_no"),
        (F.col("_i") * step).alias("chunk_start"),
        F.substring(F.col("text"), F.col("_i") * step + 1, CHUNK_CHARS).alias(
            "chunk_text"
        ),
    )


def pack_greedy(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Assign each document to a (shard, bin) so each bin's token total
    stays near ``budget_tokens``. Shard = deterministic md5 bucket (of
    ``PACK_SHARDS``) of the doc id (engine-portable, bounds the
    per-partition sequential cumsum); within a shard, docs are packed in
    id order by a running token sum. Output: id, shard, bin_id,
    n_tokens."""
    from pyspark.sql import Window

    from .sampling import hash_bucket

    toks = ws_token_count(F.col("text"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            F.col("doc_id"),
            hash_bucket(F.col("doc_id"), PACK_SHARDS).cast("int").alias("shard"),
            toks.alias("n_tokens"),
        )
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "shard",
            F.floor((F.col("_cum") - F.col("n_tokens")) / budget_tokens)
            .cast("long")
            .alias("bin_id"),
            "n_tokens",
        )
    )

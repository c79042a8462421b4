"""Deterministic sampling and shuffling — the data-prep operations a
100 TB training-data pipeline needs.

Deterministic hash sampling, not Bernoulli RNG: at pipeline scale a
sample must be reproducible across reruns/engines and stable under
repartitioning, so membership is a pure function of the row key
(md5-derived integer mod N), exactly like the engine's other
cross-engine-exact hashes — which also makes these operators
DuckDB-oracle-checkable, where `df.sample()` never can be. Keeping ~pct%
of rows is ``df.where(hash_bucket(key) < pct)``; a superset percentage
always contains the subset (nested train/dev carve-outs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long


def hash_bucket(key: Column, buckets: int = 100, seed: str = "") -> Column:
    """Deterministic bucket in [0, buckets) from an md5-derived integer
    of the key (+ optional seed salt). Same formula is expressible in
    any engine with md5 — the portability contract of the repo."""
    h = md5_long(F.concat(key.cast("string"), F.lit(seed)))
    return F.pmod(h, F.lit(buckets))


def stratified_hash_sample(
    df: DataFrame, key_col: str, strata_col: str, pcts: dict
) -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. downsample the
    dominant language, keep all of a rare one): ``pcts`` maps stratum
    value -> percentage kept; unlisted strata are dropped. The hash is
    salted with the stratum so per-stratum samples are independent."""
    rate = None
    for value, pct in pcts.items():
        cond = F.col(strata_col) == F.lit(value)
        rate = F.when(cond, F.lit(pct)) if rate is None else rate.when(cond, F.lit(pct))
    rate = rate.otherwise(F.lit(0))
    bucket = hash_bucket(
        F.concat(F.col(key_col).cast("string"), F.lit("|"), F.col(strata_col)), 100
    )
    return df.where(bucket < rate)


# reservoir_per_group's hash salt (its own selection stream); read at
# call time, so tests monkeypatch it.
RESERVOIR_SEED = "rsv"


def reservoir_per_group(df: DataFrame, group_col: str, key_col: str, k: int) -> DataFrame:
    """k 'random' rows per group, deterministically: rank rows inside
    each group by their ``RESERVOIR_SEED``-salted key hash and keep the
    k smallest. Equivalent in distribution to a reservoir sample, but
    reproducible and oracle-checkable; one shuffle on the group key."""
    from pyspark.sql import Window

    h = hash_bucket(F.col(key_col), 1 << 40, RESERVOIR_SEED)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def shard_shuffle(df: DataFrame, n_shards: int, seed: str) -> DataFrame:
    """Deterministic global training order as ``(id, shard, pos)`` —
    the reproducible corpus shuffle every training run needs. Each row
    gets an md5 rank key; ``shard`` is the key mod n_shards and ``pos``
    is the row's rank within its shard. Reading shards in any
    interleaving yields a hash-random document order that is identical
    across reruns, engines, and repartitionings; changing ``seed``
    reshuffles (one seed per epoch).

    Scale shape: this is how a 100 TB corpus is shuffled in practice —
    never a single global sort/row_number (one giant partition), but a
    bucket-then-rank: the shard key distributes the sort into n_shards
    independent window partitions, each bounded at |corpus|/n_shards.
    At real scale n_shards is thousands (one output file per shard) and
    the per-shard rank is a partitioned sort with no global barrier."""
    key = md5_long(F.concat(F.lit(seed), F.col("doc_id").cast("string")))
    from pyspark.sql import Window  # noqa: PLC0415

    base = df.select(F.col("doc_id"), key.alias("_k"))
    shard = F.pmod(F.col("_k"), F.lit(n_shards))
    w = Window.partitionBy(shard).orderBy("_k", "doc_id")
    return base.select(
        F.col("doc_id"),
        shard.cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )

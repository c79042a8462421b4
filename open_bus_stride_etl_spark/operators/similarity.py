"""Embedding similarity search: brute-force cosine top-k (baseline) and
an LSH-bucketed approximate variant (the scale path).

Numeric portability: embeddings are quantized to integer micro-units
(round(x * 1e6) as bigint) so dot products and norms are EXACT integer
sums — order-free, overflow-free (|x| < 1 => |q| <= 1e6, 64-dim dot <=
6.4e13 << 2^63), identical on every engine. The only floating-point
steps are one sqrt and one division on identical integers, both IEEE
correctly-rounded => bit-identical cosine scores.

Scale design: brute-force is one equi-free cross join restricted to the
(small, broadcast) query set — fine for "k queries vs corpus". The LSH
variant buckets by the sign pattern of the leading dimensions, turning
candidate generation into an equi-join on the bucket id; recall is
tunable by bucket bits / multi-probe, and the final scoring only touches
bucket-mates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import fan_out as _fan_out

QUANT = 1_000_000
# The guards and sizes below are read at call time, so tests monkeypatch them.
# Sign-LSH bucket width: the leading dimensions whose signs key a bucket.
LSH_BITS = 8
# cosine_topk collects the query set; above this many rows it raises.
MAX_QUERY_ROWS = 100_000
# clustered_near_dup_pairs raises above this many members in one cluster.
MAX_CLUSTER_OCCUPANCY = 65536
# ann_ivf_topk: neighbours kept per query, and index cells (pivots).
IVF_K = 3
IVF_PIVOTS = 8


def _topk_per_column(cos, cand_ids, k):
    """Exact per-column top-k of a scores matrix with (cos DESC, cand_id
    ASC) tie order. One vectorized np.partition finds every column's
    k-th value; only the >= boundary slab (k rows + exact ties) is then
    sorted per column — O(n*m) + m small sorts instead of m full-column
    sorts, which is the difference between 0.1s and 80s per batch once
    the query set reaches thousands. Rows with cos == -inf (self-match
    sentinel) are never emitted. Yields (col_idx, cand_ids, scores)."""
    import numpy as np

    n, m = cos.shape
    kk = min(k, n)
    if n > kk:
        kth = -np.partition(-cos, kk - 1, axis=0)[kk - 1]  # per-column k-th best
    else:
        kth = np.full(m, -np.inf)
    for j in range(m):
        col = cos[:, j]
        sel = np.nonzero(col >= kth[j])[0] if n > kk else np.arange(n)
        cand_sub, col_sub = cand_ids[sel], col[sel]
        finite = col_sub > -np.inf
        cand_sub, col_sub = cand_sub[finite], col_sub[finite]
        top = np.lexsort((cand_sub, -col_sub))[:k]
        yield j, cand_sub[top], col_sub[top]


def quantized_vec() -> "F.Column":
    """``embedding`` array<float> -> array<bigint> of micro-units.
    float32 -> double BEFORE the multiply: both engines must quantize the same exact
    double value or dot products drift."""
    return F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * QUANT).cast("long")
    )


# What every top-k operator returns: one row per (query, rank <= k).
TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("cand_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("cos", T.DoubleType()),
    ]
)


def _empty_topk(emb: DataFrame) -> DataFrame:
    return emb.sparkSession.createDataFrame([], TOPK_SCHEMA)


def _query_block(rows):
    """``(ids, matrix, norms)`` of collected ``(id, quantized vector)``
    rows (non-empty) — the block a probe scores candidates against."""
    import numpy as np

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat, np.sqrt((mat * mat).sum(axis=1))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k nearest (by cosine) corpus vectors per query vector.
    ``queries`` has the same schema; self-matches are excluded.
    Output: query_id, cand_id, rank, cos (double, bit-portable).

    Scale shape: the query set is small by contract (it is the thing you
    broadcast in any ANN design), so it is collected once and shipped as
    a broadcast variable; the corpus streams through ``mapInPandas``
    Arrow batches where ONE BLAS matmul scores batch x queries and only
    the per-batch top-k per query survives. Work per executor is
    O(batch_rows * n_queries) flops with k*n_queries output rows — the
    shuffle to the final global top-k moves ~k rows per (query, batch),
    never the |corpus| x |queries| score matrix. This replaced a
    codegen'd array-expression nested loop that was 20x slower at 20k
    vectors: per-element Catalyst array ops cannot compete with dgemm.

    Exactness contract: quantization happens JVM-side (same F.round the
    oracle SQL mirrors); quantized values are <= 1e6 so every product
    (<= 1e12) and 64-dim dot (<= 6.4e13) is an integer below 2^53 —
    float64 matmul is EXACT regardless of accumulation order, and the
    final divide matches the SQL expression bit-for-bit.

    The broadcast precondition is ENFORCED: ``queries`` above
    ``MAX_QUERY_ROWS`` raises immediately (one cheap limit-bounded
    count) instead of silently collecting an unbounded set and OOMing
    the driver at scale — point oversized query sets at the ANN
    operators (ivf_topk / lsh_topk), which never collect them."""
    import numpy as np

    probe = queries.select(F.lit(1)).limit(MAX_QUERY_ROWS + 1).count()
    if probe > MAX_QUERY_ROWS:
        raise ValueError(
            f"cosine_topk query set exceeds MAX_QUERY_ROWS={MAX_QUERY_ROWS}: "
            "the exact baseline collects+broadcasts the query set by design. "
            "Raise MAX_QUERY_ROWS only if the driver can hold the set; for "
            "large query sets use the ANN operators (ivf_topk, lsh_topk)."
        )
    q_rows = queries.select("vec_id", quantized_vec()).collect()
    if not q_rows:
        return _empty_topk(emb)
    cv = _fan_out(
        emb.select(F.col("vec_id").alias("cand_id"), quantized_vec().alias("_cq"))
    )
    # one partition: every corpus row scores against the whole query block
    return _partitioned_probe(
        cv, {0: _query_block(q_rows)}, k, key_of=lambda m: np.zeros(len(m), dtype=np.int64)
    )


def embedding_near_dup_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup stage of
    an LLM data pipeline): pairs sharing a sign-LSH bucket whose cosine
    is >= threshold. Bucketing makes candidate generation an equi-join —
    linear in bucket occupancy, never all-pairs — and true near-dups
    (cos ~ 1) agree on almost every sign bit, so recall at high
    thresholds is excellent. Output: doc_a < doc_b, cos.

    Scale shape: each bucket is scored as ONE ``applyInPandas`` group —
    a blocked matmul over the bucket's members, so only >=threshold
    pairs ever leave the Python worker (the previous self-join
    formulation shuffled every candidate pair as a row and paid a
    per-pair Catalyst array dot). Work is O(occupancy^2) flops per
    bucket but memory stays O(block x occupancy) via row blocks. Hot
    buckets at scale are handled by raising ``LSH_BITS`` (each extra bit
    halves expected occupancy); exactness is the same integer-in-float64
    contract as cosine_topk."""
    v = emb.select(
        F.col("vec_id").alias("_id"),
        sign_lsh_bucket().alias("bucket"),
        quantized_vec().alias("_v"),
    )
    return _pairs_within_bucket(v, threshold)


def clustered_near_dup_pairs(emb: DataFrame, clusters: DataFrame, threshold: float) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): score
    cosine pairs only WITHIN a k-means cluster — the trained-partition
    alternative to sign-LSH bucketing for near-dup candidate generation.
    ``clusters`` is an ``(id, cluster)`` assignment (e.g. the first
    result of operators/clustering.py:kmeans_fit — the same partition an
    IVF index already maintains, so the dedup pass rides an existing
    artifact). Output: ``(doc_a < doc_b, cos)`` for pairs with cos >=
    threshold; feed into connected_components + keep-min-id for pruning.

    Scale shape: identical to the LSH variant — one equi-join to attach
    the cluster id, then one ``applyInPandas`` blocked matmul per
    cluster; only >=threshold pairs leave the worker. k bounds occupancy
    (raise k to shrink blocks, exactly like raising LSH bits); the
    cluster assignment join is a join on the id key, broadcastable when
    the assignment table is small relative to executors' memory.

    Fail-fast occupancy guard (same doctrine as ``cosine_topk``'s
    ``MAX_QUERY_ROWS``): per-cluster work is O(occupancy^2) flops, so a
    caller pairing a big corpus with a small k would get a silent
    quadratic blowup. One cheap count aggregate over the assignment
    table probes the max cluster occupancy up front and raises with
    "scale k" guidance when it exceeds ``MAX_CLUSTER_OCCUPANCY`` (64k:
    ~4e9 pair-dots in the hottest cluster — bounded minutes of BLAS on
    one core, the ceiling of a reasonable task). SemDeDup itself scales
    k with corpus size (Abbas et al. 2023 use k=50k for LAION-440M); the
    guard turns that operating rule into an enforced precondition."""
    from .util import track_persist  # noqa: PLC0415

    # Persist the assignment BEFORE the probe: the probe's action then
    # materializes it once and the scoring join below reuses the cache —
    # without this an unpersisted upstream (e.g. a k-means lineage)
    # would be computed twice (measured +0.8 s at bench scale).
    clusters = track_persist(clusters)
    occ = (
        clusters.groupBy("cluster")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    if occ is not None and occ > MAX_CLUSTER_OCCUPANCY:
        raise ValueError(
            f"clustered_near_dup_pairs: max cluster occupancy {occ} exceeds "
            f"MAX_CLUSTER_OCCUPANCY={MAX_CLUSTER_OCCUPANCY}; per-cluster scoring "
            "is O(occupancy^2). Scale k with corpus size (SemDeDup trains "
            "k proportional to N) so clusters stay bounded, or raise "
            "MAX_CLUSTER_OCCUPANCY only if the executors can absorb the flops."
        )
    v = emb.join(clusters, on="vec_id").select(
        F.col("vec_id").alias("_id"),
        F.col("cluster").alias("bucket"),
        quantized_vec().alias("_v"),
    )
    return _pairs_within_bucket(v, threshold)


def _pairs_within_bucket(v: DataFrame, threshold: float) -> DataFrame:
    """Shared kernel for bucketed near-dup scoring: ``v`` is
    ``(_id, bucket, _v)``; each bucket is scored as one applyInPandas
    group with a row-blocked matmul (O(block x occupancy) memory), and
    only pairs with cos >= threshold are emitted."""
    import numpy as np
    import pandas as pd

    def per_bucket(pdf):
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        norm = np.sqrt((mat * mat).sum(axis=1))
        n = len(ids)
        frames = []
        block = 4096
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            cos = (mat[lo:hi] @ mat.T) / (norm[lo:hi, None] * norm[None, :])
            bi, bj = np.nonzero(cos >= threshold)
            keep = (bi + lo) < bj  # ids sorted => position order == id order
            bi, bj = bi[keep], bj[keep]
            frames.append(
                pd.DataFrame(
                    {"doc_a": ids[bi + lo], "doc_b": ids[bj], "cos": cos[bi, bj]}
                )
            )
        if not frames:
            return pd.DataFrame(
                {
                    "doc_a": np.array([], dtype=np.int64),
                    "doc_b": np.array([], dtype=np.int64),
                    "cos": np.array([], dtype=np.float64),
                }
            )
        return pd.concat(frames, ignore_index=True)

    return v.groupBy("bucket").applyInPandas(
        per_bucket, "doc_a long, doc_b long, cos double"
    )


def ann_ivf_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-style approximate top-k (``IVF_K`` per query): an
    inverted-file index with ``IVF_PIVOTS`` deterministic pivots (the
    first vectors by id — a real deployment trains centroids offline;
    determinism is what makes this oracle-checkable). Every vector is assigned to its nearest pivot
    (cell); queries only score their own cell's members.

    Scale shape: centroids AND the query set are small by construction
    (that is the IVF contract), so both ship as one broadcast; the
    corpus then makes a SINGLE ``mapInPandas`` pass in which each Arrow
    batch is (a) cell-assigned by one argmax over a batch x pivots
    matmul and (b) immediately scored against its own cell's query
    block — probe fused into assignment, zero shuffle before the tiny
    global top-k. Two earlier formulations lost to this: a crossJoin +
    row_number window shuffled |corpus| x IVF_PIVOTS rows, and a
    codegen'd array-expression argmax re-evaluated the interpreted
    (non-codegen) higher-order quantization once per pivot after
    project collapse.

    Tie semantics match the oracle exactly: np.argmax returns the
    FIRST maximum == (cos DESC, pivot_id ASC) because pivots are
    ordered by id; float64 math on quantized integers is bit-identical
    to the SQL (see cosine_topk)."""
    import numpy as np

    piv_rows = emb.orderBy("vec_id").limit(IVF_PIVOTS).select("vec_id", quantized_vec()).collect()
    q_rows = queries.select("vec_id", quantized_vec()).collect()
    if not q_rows or not piv_rows:
        return _empty_topk(emb)
    _, p_mat, p_norm = _query_block(piv_rows)

    def cells_of(mat: "np.ndarray") -> "np.ndarray":
        norm = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ p_mat.T) / (norm[:, None] * p_norm[None, :])
        return np.argmax(cos, axis=1)  # first max == smallest pivot_id

    q_ids, q_mat, q_norm = _query_block(q_rows)
    q_cell = cells_of(q_mat)
    by_cell = {
        int(c): (q_ids[q_cell == c], q_mat[q_cell == c], q_norm[q_cell == c])
        for c in np.unique(q_cell)
    }

    cv = _fan_out(
        emb.select(F.col("vec_id").alias("cand_id"), quantized_vec().alias("_cq"))
    )
    return _partitioned_probe(cv, by_cell, IVF_K, key_of=cells_of)


def ivf_probe_persisted(
    emb: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    n_queries: int,
    k_top: int,
    n_probe: int,
) -> tuple[DataFrame, dict]:
    """Top-k against a PERSISTED IVF index — the trained
    ``(cluster, pos, cq)`` ``centroids`` and the ``(vec_id, cluster)``
    ``assignments`` of operators/clustering.py:kmeans_fit, as
    llm-build-ann-index writes them. The ``n_queries`` lowest-id vectors
    are coarse-quantized against the centroids driver-side (k x dim
    ints); each probes its ``n_probe`` nearest cells by cosine (ties to
    the lowest cluster id — stable argsort == row_number ORDER BY cos
    DESC, cluster ASC), and the corpus is scored in ONE mapInPandas pass
    keyed by its STORED cell assignment (``_partitioned_probe``).

    Returns ``(result_df, meta)`` with ``meta = {"n_queries",
    "n_probed_cells"}`` (the actual sample/probe sizes, for task
    metrics)."""
    import numpy as np

    cent_rows = centroids.collect()
    q_rows = emb.orderBy("vec_id").limit(n_queries).select("vec_id", quantized_vec()).collect()
    if not q_rows or not cent_rows:
        return _empty_topk(emb), {"n_queries": len(q_rows), "n_probed_cells": 0}
    k = 1 + max(r["cluster"] for r in cent_rows)
    dim = max(r["pos"] for r in cent_rows)
    c_mat = np.zeros((k, dim), dtype=np.float64)
    for r in cent_rows:
        c_mat[r["cluster"], r["pos"] - 1] = r["cq"]
    c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
    c_norm[c_norm == 0] = 1.0

    q_ids, q_mat, q_norm = _query_block(q_rows)
    # same zero-norm guard as c_norm: a zero query embedding would make
    # cos_qc a NaN row and the argsort probe-cell selection arbitrary;
    # with norm pinned to 1 the row is all-zero cos -> deterministic
    # lowest-cluster-id probes (stable argsort)
    q_norm[q_norm == 0] = 1.0
    cos_qc = (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :])
    # n_probe nearest cells per query, ties to the lowest cluster id
    probe = np.argsort(-cos_qc, axis=1, kind="stable")[:, :n_probe]
    by_cell: dict[int, tuple] = {}
    for cell in np.unique(probe):
        sel = (probe == cell).any(axis=1)
        by_cell[int(cell)] = (q_ids[sel], q_mat[sel], q_norm[sel])

    cv = (
        emb.select(F.col("vec_id").alias("cand_id"), quantized_vec().alias("_cq"))
        .join(
            assignments.select(F.col("vec_id").alias("cand_id"), F.col("cluster").alias("_key")),
            on="cand_id",
        )
        .where(F.col("_key").isin([int(c) for c in by_cell]))
    )
    meta = {"n_queries": len(q_rows), "n_probed_cells": len(by_cell)}
    return _partitioned_probe(cv, by_cell, k_top), meta


def _partitioned_probe(cv, by_key, k, key_of=None):
    """The one top-k scoring loop every top-k operator runs
    (cosine_topk as a single partition): one mapInPandas pass over the
    corpus; each Arrow batch computes its rows' partition keys (via
    ``key_of`` over the quantized matrix, or a precomputed ``_key``
    column) and scores each key-group against that key's query block
    with one matmul. Only per-batch top-k rows leave the worker; the
    global top-k window touches ~k rows per (query, batch).

    ``cv``: DataFrame(cand_id long, _cq array<long> [, _key long]).
    ``by_key``: {key: (query_ids, query_matrix, query_norms)}."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    bc = cv.sparkSession.sparkContext.broadcast(by_key)

    def probe_batches(batches):
        key_queries = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cand_ids = pdf["cand_id"].to_numpy(dtype=np.int64)
            c_mat = np.vstack(pdf["_cq"].to_numpy()).astype(np.float64)
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            keys = key_of(c_mat) if key_of is not None else pdf["_key"].to_numpy(np.int64)
            out_q, out_c, out_s = [], [], []
            for key in np.unique(keys):
                kq = key_queries.get(int(key))
                if kq is None:
                    continue
                ids_q, mat_q, norm_q = kq
                sel = keys == key
                ids_sub, mat_sub, norm_sub = cand_ids[sel], c_mat[sel], c_norm[sel]
                cos = (mat_sub @ mat_q.T) / (norm_q[None, :] * norm_sub[:, None])
                # self-match sentinel: a query also present in this group
                row_of = {int(c): i for i, c in enumerate(ids_sub)}
                for j, qid in enumerate(ids_q):
                    i = row_of.get(int(qid))
                    if i is not None:
                        cos[i, j] = -np.inf
                for j, cand_top, col_top in _topk_per_column(cos, ids_sub, k):
                    out_q.append(np.full(len(cand_top), ids_q[j]))
                    out_c.append(cand_top)
                    out_s.append(col_top)
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "cos": np.concatenate(out_s),
                }
            )

    scored = cv.mapInPandas(probe_batches, schema="query_id long, cand_id long, cos double")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )


def sign_lsh_bucket() -> "F.Column":
    """Bucket id from the sign pattern of the first ``LSH_BITS``
    dimensions (axis-aligned hyperplane LSH — deterministic,
    engine-portable)."""
    out = F.lit(0).cast("long")
    for j in range(LSH_BITS):
        bit = F.when(F.element_at(F.col("embedding"), j + 1) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        out = out + bit * F.lit(1 << j).cast("long")
    return out


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: only bucket-mates (same sign pattern) are
    scored. Same scoring math as cosine_topk.

    ``probes=1`` enables multi-probe: each query additionally probes
    every single-bit-flip of its bucket (the standard recall booster —
    a near-neighbor differing in ONE borderline sign is recovered at
    the cost of ``LSH_BITS`` extra bucket lookups, NOT a bigger table).
    Implemented by registering the query under the flipped keys in the
    broadcast dict; the corpus-side pass is completely unchanged.

    Scale shape: the same one-pass partitioned probe as ann_ivf_topk
    (shared ``_partitioned_probe``), with the sign bucket as the
    partition key. The bucket is computed JVM-side (on the RAW float —
    ``x > 0`` can disagree with the quantized sign for sub-microunit
    values, so re-deriving it from the quantized matrix would be wrong)
    and shipped as a column; scoring is per-bucket matmul instead of
    the earlier per-pair interpreted array dots."""
    import numpy as np

    q_rows = queries.select("vec_id", quantized_vec(), sign_lsh_bucket()).collect()
    if not q_rows:
        return _empty_topk(emb)
    q_ids, q_mat, q_norm = _query_block(q_rows)
    q_bucket = np.array([r[2] for r in q_rows], dtype=np.int64)
    probe_keys = [q_bucket]
    if probes >= 1:
        probe_keys += [q_bucket ^ (1 << j) for j in range(LSH_BITS)]
    all_keys = np.concatenate(probe_keys)
    all_idx = np.tile(np.arange(len(q_ids)), len(probe_keys))
    by_bucket = {}
    for b in np.unique(all_keys):
        idx = all_idx[all_keys == b]
        by_bucket[int(b)] = (q_ids[idx], q_mat[idx], q_norm[idx])
    cv = _fan_out(
        emb.select(
            F.col("vec_id").alias("cand_id"),
            sign_lsh_bucket().alias("_key"),
            quantized_vec().alias("_cq"),
        )
    )
    return _partitioned_probe(cv, by_bucket, k)


def ann_recall_at_k(exact_topk: DataFrame, ann_topk: DataFrame) -> DataFrame:
    """Recall of an ANN result against the exact top-k baseline — the
    quality gate every approximate index needs before it replaces the
    exact path: ``(query_id, n_true, n_hit, recall_bp)`` per query,
    where recall = |ann ∩ exact| / |exact| (exact may return fewer than
    k rows on small corpora, so the denominator is its actual size).

    Both inputs are ``(query_id, cand_id, ...)`` top-k tables (e.g.
    ``cosine_topk`` vs ``ann_lsh_topk``/``ann_ivf_topk`` at the same
    k). Scale shape: two small top-k tables (|queries| x k rows)
    equi-joined on (query_id, cand_id) and counted — negligible next
    to producing either input; evaluation typically runs on a sampled
    query set, exactly what the exact baseline's broadcast contract
    requires anyway."""
    hit = ann_topk.select("query_id", "cand_id").withColumn("_hit", F.lit(1))
    return (
        exact_topk.select("query_id", "cand_id")
        .join(hit, on=["query_id", "cand_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("_hit").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hit",
            F.round(10000.0 * F.col("n_hit") / F.col("n_true")).cast("long").alias("recall_bp"),
        )
    )

"""Distributed Lloyd's k-means over embedding columns — the centroid
trainer behind the IVF ANN index (operators/similarity.py:ann_ivf_topk
uses deterministic pivots; a real deployment trains them, and THIS is
the trainer). No reference-repo analog (the reference is transit ETL);
BASELINE.json extension.

Cross-engine exactness doctrine (plans/registry.py docstring): every
arithmetic step is integer — components are micro-unit quantized
(float32 -> double -> round, operators/similarity.py:quantized_vec),
distances are exact integer sums of squares, and centroid means are
exact integer floor-division — so a fixed-iteration run is bit-identical
in any engine and the DuckDB oracle can unroll the same iterations as
chained CTEs.

The distance kernel is a blocked float64 matmul (r4): d2 = |x|^2 +
|c|^2 - 2<x,c> over the quantized ints, each term integer-valued and
exactly representable in float64 (the same contract as cosine_topk),
so it computes the IDENTICAL integers as the previous long-format
pos-equi-join formulation — which materialized O(N x dim x k) join
rows per round and was 5-8x slower at scale — while making one Arrow
pass per round with BLAS arithmetic. A fail-fast magnitude guard
enforces the float64-exactness precondition instead of assuming it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import quantized_vec
from .util import track_persist

# d2 = |x|^2 + |c|^2 - 2<x,c> is exact in float64 iff every
# INTERMEDIATE term AND the final value stay <= 2^53. The binding
# constraint is the final value: d2 = |x - c|^2 can reach
# dim * (2*max|q|)^2 = 4 * dim * max|q|^2 (x ~ -c at full magnitude) —
# a per-term-only bound (2 * dim * max|q|^2 <= 2^53) is ~2x too lax: an
# odd d2 just above 2^53 rounds and can flip an argmin near-tie. So the
# guard requires 4 * dim * max|q|^2 <= 2^53, with the admissible
# magnitude DERIVED from the batch's actual dim:
# max|q| <= sqrt(2^51 / dim) — ~2^22.5 (4.7e6) at dim 64, 2^25 at
# dim 2 — always far beyond any normalized embedding (unit vectors
# quantize to 1e6 micro-units).
_DIM_MAX = 64


def _q_bound(dim: int) -> float:
    return float((float(1 << 51) / max(dim, 1)) ** 0.5)


def kmeans_fit(
    embs: DataFrame,
    k: int,
    iters: int,
) -> tuple[DataFrame, DataFrame]:
    """``(assignments, centroids)`` after ``iters`` Lloyd rounds —
    ``centroids`` is the long-format ``(cluster, pos, cq)`` table the
    returned assignment was computed against: exactly the persistable
    IVF index artifact (write it as parquet, reload it to assign/probe
    new vectors without retraining — plans/llm_tasks.py:
    llm_build_ann_index / llm_ann_query).

    ``assignments`` is ``(id, cluster)`` after ``iters`` Lloyd rounds:
    seeds are the k lowest-id vectors (cluster = seed rank), each round
    assigns every point to its nearest centroid (squared L2 on
    quantized ints, ties to the lowest cluster id) and recomputes
    centroids as the exact integer floor-mean of members; clusters that
    lose all members keep their previous centroid. The returned
    assignment is the one computed against the round-``iters-1``
    centroids — i.e. the labels a round-``iters`` update would
    aggregate.

    Scale shape (r4 kernel):
    - Points are persisted WIDE ``(id, q: array<long>)`` — each Lloyd
      round is ONE Arrow mapInPandas pass over that table scoring every
      batch against the broadcast k x dim centroid matrix with a
      single BLAS matmul (integer-valued float64, exact by the module
      contract + the fail-fast magnitude guard).
    - Update rounds emit per-(batch, cluster) partial component sums
      (k x dim longs per batch — map-side combine in the kernel), so
      the only shuffle is the tiny (cluster, pos) aggregation; the
      driver receives k x dim ints per round (breaking lineage growth —
      the iterative-plan trap).
    - The final floor-mean runs in Spark SQL with the pmod-subtract
      trick so division is exact and identical to the oracle's
      (SUM - ((SUM % n) + n) % n) // n.
    """
    import numpy as np  # noqa: PLC0415

    from ..sources.stride_lake import schema  # noqa: PLC0415 — the IVF index tables

    spark = embs.sparkSession
    pts = track_persist(
        embs.select(F.col("vec_id").alias("id"), quantized_vec().alias("q"))
    )

    seed_rows = pts.orderBy("id").limit(k).collect()
    if not seed_rows:
        return (
            spark.createDataFrame([], schema("assignments")),
            spark.createDataFrame([], schema("centroids")),
        )
    c_mat = np.array([r["q"] for r in seed_rows], dtype=np.float64)
    dim = c_mat.shape[1]

    def _scan(centroids: "np.ndarray", with_sums: bool):
        """One Arrow pass: per-row nearest centroid; optionally also the
        per-batch partial (cluster, pos, sum, count) update rows."""
        import pandas as pd  # noqa: PLC0415

        bc = spark.sparkContext.broadcast(centroids)

        def go(batches):
            c = bc.value
            c2 = (c * c).sum(axis=1)
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.vstack(pdf["q"].to_numpy()).astype(np.float64)
                q_max = _q_bound(m.shape[1])
                if np.abs(m).max(initial=0.0) > q_max or m.shape[1] > _DIM_MAX:
                    raise ValueError(
                        "kmeans_fit: quantized component exceeds the float64-"
                        f"exact bound (|q| <= {int(q_max)} at dim {m.shape[1]}, "
                        f"dim <= {_DIM_MAX}); "
                        "normalize the embeddings or lower the quantization scale"
                    )
                # every term AND the final |x-c|^2 <= 2^53: exact float64
                d2 = (m * m).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (m @ c.T)
                cl = np.argmin(d2, axis=1)  # first min == lowest cluster id
                if not with_sums:
                    yield pd.DataFrame(
                        {
                            "id": pdf["id"].to_numpy(np.int64),
                            "cluster": cl.astype(np.int64),
                        }
                    )
                    continue
                out_c, out_p, out_s, out_n = [], [], [], []
                for cc in np.unique(cl):
                    sel = cl == cc
                    s = m[sel].sum(axis=0)  # <= batch * Q_MAX: exact
                    out_c.append(np.full(dim, cc, dtype=np.int64))
                    out_p.append(np.arange(1, dim + 1, dtype=np.int32))
                    out_s.append(s.astype(np.int64))
                    out_n.append(np.full(dim, int(sel.sum()), dtype=np.int64))
                yield pd.DataFrame(
                    {
                        "cluster": np.concatenate(out_c),
                        "pos": np.concatenate(out_p),
                        "s": np.concatenate(out_s),
                        "n": np.concatenate(out_n),
                    }
                )

        schema = "cluster long, pos int, s long, n long" if with_sums else "id long, cluster long"
        return pts.mapInPandas(go, schema)

    for _ in range(iters - 1):
        upd = (
            _scan(c_mat, with_sums=True)
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .select(
                "cluster",
                "pos",
                F.expr("CAST((s - pmod(s, n)) div n AS BIGINT)").alias("cq"),
            )
            .collect()
        )
        # merge over the previous round: clusters with no members keep
        # their old centroid
        for r in upd:
            c_mat[r["cluster"], r["pos"] - 1] = r["cq"]

    a = _scan(c_mat, with_sums=False).select(F.col("id").alias("vec_id"), "cluster")
    cdf = spark.createDataFrame(
        [
            (cl, pos + 1, int(c_mat[cl, pos]))
            for cl in range(c_mat.shape[0])
            for pos in range(dim)
        ],
        schema("centroids"),
    )
    return a, cdf

"""operators/clustering.py: integer-exact Lloyd's k-means — convergence
on a trivially separable set, deterministic tie-breaks, empty-cluster
centroid retention."""

from pyspark.sql import Row

from open_bus_stride_etl_spark.operators.clustering import kmeans_fit


def _embs(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows]
    )


def test_two_obvious_clusters(spark):
    # two tight groups far apart; seeds (ids 0 and 1) start one in each
    d = _embs(
        spark,
        [
            (0, [1.0, 0.0]), (1, [-1.0, 0.0]),
            (2, [0.9, 0.1]), (3, [-0.9, -0.1]),
            (4, [0.95, 0.0]), (5, [-0.95, 0.05]),
        ],
    )
    out = {r["vec_id"]: r["cluster"] for r in kmeans_fit(d, k=2, iters=3)[0].collect()}
    assert out[0] == out[2] == out[4]
    assert out[1] == out[3] == out[5]
    assert out[0] != out[1]


def test_seeds_move_points_across_rounds(spark):
    # both seeds (ids 0, 1) sit in the left group; after the first
    # update the left centroid re-centers and the right group must all
    # land together in one cluster
    d = _embs(
        spark,
        [
            (0, [-1.0, 0.0]), (1, [-0.8, 0.0]),
            (2, [1.0, 0.0]), (3, [1.1, 0.0]), (4, [0.9, 0.0]),
        ],
    )
    out = {r["vec_id"]: r["cluster"] for r in kmeans_fit(d, k=2, iters=3)[0].collect()}
    assert out[2] == out[3] == out[4]


def test_empty_cluster_keeps_centroid_and_stays_deterministic(spark):
    # 3 clusters over 3 points, two of which coincide: one cluster
    # inevitably empties; run must not fail and must stay stable
    d = _embs(spark, [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0])])
    a = kmeans_fit(d, k=3, iters=2)[0].collect()
    b = kmeans_fit(d, k=3, iters=2)[0].collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    out = dict(map(tuple, a))
    # coincident points share a cluster (tie-break to the lowest id)
    assert out[0] == out[1]


def test_clustered_near_dup_pairs_scores_only_within_cluster(spark):
    from open_bus_stride_etl_spark.operators.similarity import clustered_near_dup_pairs

    # Two tight groups on opposite axes: near-dups exist inside each
    # group; cross-group cosine is ~0 so no cross pair can appear even
    # if clustering ever co-located them.
    d = _embs(
        spark,
        [
            (1, [1.0, 0.0, 0.01]),
            (2, [0.99, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.01]),
            (4, [0.0, 0.98, 0.0]),
        ],
    )
    clusters = kmeans_fit(d, k=2, iters=3)[0]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["cos"]
        for r in clustered_near_dup_pairs(d, clusters, threshold=0.9).collect()
    }
    assert set(pairs) == {(1, 2), (3, 4)}
    assert all(c > 0.99 for c in pairs.values())


def test_clustered_near_dup_agrees_with_lsh_kernel(spark):
    """Same kernel, different bucketing: with ONE cluster the clustered
    variant must emit exactly the all-pairs-over-threshold set."""
    from pyspark.sql import functions as F

    from open_bus_stride_etl_spark.operators.similarity import (
        clustered_near_dup_pairs,
    )

    d = _embs(
        spark,
        [(i, [1.0 if j == i % 3 else 0.05 for j in range(4)]) for i in range(9)],
    )
    one = d.select("vec_id").withColumn("cluster", F.lit(0))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in clustered_near_dup_pairs(d, one, threshold=0.9).collect()
    }
    want = {(a, b) for a in range(9) for b in range(a + 1, 9) if a % 3 == b % 3}
    assert got == want


def test_clustered_near_dup_occupancy_guard(spark, monkeypatch):
    """The fail-fast precondition (VERDICT r3 item 2): a hot cluster
    whose occupancy exceeds MAX_CLUSTER_OCCUPANCY must raise up front
    with "scale k" guidance, not silently run O(occupancy^2) scoring."""
    import pytest
    from pyspark.sql import functions as F

    from open_bus_stride_etl_spark.operators import similarity as sim

    d = _embs(spark, [(i, [1.0, 0.0, 0.0]) for i in range(6)])
    one = d.select("vec_id").withColumn("cluster", F.lit(0))
    monkeypatch.setattr(sim, "MAX_CLUSTER_OCCUPANCY", 5)
    with pytest.raises(ValueError, match="MAX_CLUSTER_OCCUPANCY"):
        sim.clustered_near_dup_pairs(d, one, threshold=0.9)
    # at the bound it still runs
    monkeypatch.setattr(sim, "MAX_CLUSTER_OCCUPANCY", 6)
    assert sim.clustered_near_dup_pairs(d, one, threshold=0.9).count() == 15

"""Bucketed co-located join (SURVEY.md §1.4 / the 100 TB join playbook):
two tables bucketed by the join key must join WITHOUT a shuffle — the
reducer-side exchange disappears because bucket layout already
co-locates matching keys. This is the strategy for recurring big-big
joins (fact ⋈ fact on ride id) where broadcast is impossible."""

import shutil

import pytest
from pyspark.sql import Row


@pytest.fixture()
def bucketed_tables(spark):
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    big1 = spark.createDataFrame([Row(k=i % 500, a=i) for i in range(5000)])
    big2 = spark.createDataFrame([Row(k=i % 500, b=i * 2) for i in range(5000)])
    for name, df in (("bk_left", big1), ("bk_right", big2)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        df.write.bucketBy(8, "k").sortBy("k").format("parquet").saveAsTable(name)
    yield "bk_left", "bk_right"
    for name in ("bk_left", "bk_right"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    if warehouse.startswith("file:"):
        shutil.rmtree(warehouse[5:], ignore_errors=True)


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    left, right = bucketed_tables
    # force the big-big code path (broadcast would hide the bucketing;
    # at real scale neither side fits in a broadcast anyway)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(left).join(spark.table(right), on="k")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        # co-located buckets: a sort-merge join with NO Exchange on either side
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # and it computes the right thing
        assert joined.count() == 5000 * 10  # each key: 10 left x 10 right / 500 keys
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_unbucketed_join_does_shuffle(spark):
    """Control: the same join on plain DataFrames shuffles both sides
    (proves the assertion above is measuring bucketing, not AQE)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big1 = spark.createDataFrame([Row(k=i % 500, a=i) for i in range(5000)])
        big2 = spark.createDataFrame([Row(k=i % 500, b=i * 2) for i in range(5000)])
        plan = big1.join(big2, on="k")._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "Exchange hashpartitioning" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

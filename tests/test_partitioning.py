"""Scale-contract tests: the date-partitioned lake layout must give
partition pruning (the engine's replacement for the reference's
``gtfs_*.date = X`` index filters — SURVEY.md §1.4/X5), and the banded
join must stay an equi-join (no cartesian/theta node)."""

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.operators.banded_join import banded_priority_join


def _explain(df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_date_partition_pruning(spark, tmp_path):
    rows = [
        Row(id=i, date=datetime.date(2024, 5, 1 + i % 5), v=float(i)) for i in range(100)
    ]
    path = str(tmp_path / "dim")
    spark.createDataFrame(rows).write.partitionBy("date").parquet(path)

    df = spark.read.parquet(path).where(F.col("date") == "2024-05-03")
    plan = _explain(df)
    # pruning happened at planning time: only the matching partition dir
    # is listed, and the data filter does NOT appear as a post-scan filter
    assert "PartitionFilters" in plan
    assert plan.count("date=2024-05-03") >= 1 or "isnotnull(date" in plan
    assert df.count() == 20
    # all 5 partition dirs exist on disk
    import os

    assert sorted(d for d in os.listdir(path) if d.startswith("date=")) == [
        f"date=2024-05-0{i}" for i in range(1, 6)
    ]


def test_banded_join_is_equi_join(spark):
    left = spark.createDataFrame(
        [Row(lid=i, ts=datetime.datetime(2024, 5, 1, 10, i)) for i in range(30)]
    )
    right = spark.createDataFrame(
        [Row(rid=100 + i, rts=datetime.datetime(2024, 5, 1, 10, i, 30)) for i in range(30)]
    )
    out = banded_priority_join(
        left, right, "ts", "rts", tiers_minutes=[1, 3, 5], left_id="lid", right_id="rid"
    )
    plan = _explain(out, "simple")
    # the time-bin trick must produce hash joins only — a naive interval
    # join shows up as BroadcastNestedLoopJoin / CartesianProduct
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    rows = {r["lid"]: r for r in out.collect()}
    # every left row i has two rights 30s away (100+i at +30s and
    # 100+i-1 at -30s): equal tier and |dt|, so the documented tiebreak
    # (smallest right id) picks 100+i-1; lid=0 only has the +30s one
    assert rows[0]["matched_rid"] == 100 and rows[0]["tier"] == 1
    assert all(
        rows[i]["matched_rid"] == 100 + i - 1 and rows[i]["tier"] == 1
        and rows[i]["dt_seconds"] == 30
        for i in range(1, 30)
    )


def test_dynamic_partition_pruning_on_dim_join(spark, tmp_path):
    """A join against the date-partitioned dimension must inject a
    dynamic-pruning subquery into the dim scan — the runtime analog of
    the reference's hand-written `gtfs_*.date = X` filters (X5)."""
    dim = spark.createDataFrame(
        [Row(id=i, date=datetime.date(2024, 5, 1 + i % 5), v=i) for i in range(1000)]
    )
    path = str(tmp_path / "dim")
    dim.write.partitionBy("date").parquet(path)
    fact = spark.createDataFrame(
        [Row(fid=i, date=datetime.date(2024, 5, 1 + i % 2), val=float(i)) for i in range(5000)]
    )
    j = fact.where(F.col("val") < 100).join(spark.read.parquet(path), on="date")
    plan = _explain(j)
    assert "dynamicpruning" in plan.lower()


def test_scan_pushdown_canaries(spark, sf_dir):
    """Filters and projections of representative queries must reach the
    parquet scan: a regression here silently multiplies scan volume."""
    from open_bus_stride_etl_spark.plans import registry

    qs = registry.queries()
    plan = _explain(qs["time_window_halfopen"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # column pruning: the events scan must not read the wide props column
    scan_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schemas and all("props" not in l for l in scan_schemas)

    plan2 = _explain(qs["like_prefix"](spark, sf_dir))
    assert "StringStartsWith" in plan2 or "PushedFilters: [" in plan2


def test_flat_export_plan_is_broadcast_only(spark, sf_dir):
    """The flagship denormalizing export must stay shuffle-free: every
    dim join broadcast, zero Exchanges — the property that makes it a
    map-only pass over lineitem at 100 TB. A regression to a
    SortMergeJoin here would shuffle the fact table seven ways."""
    from open_bus_stride_etl_spark.plans import registry

    plan = _explain(registry.queries()["flat_export"](spark, sf_dir))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    body = plan.split("== Photon", 1)[0]
    n_exchange = sum(
        1 for line in body.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line and "BroadcastExchange" not in line
    )
    assert n_exchange == 0, f"unexpected shuffle Exchange in flat_export plan:\n{plan}"


def test_single_pass_audit_plan_canaries(spark, sf_dir):
    """The r6 plan-slimming wins must not regress: both audit-shaped
    queries once re-derived their corpus subtree under every output
    branch (split_leakage_check: 10 parquet scans; ledger_missing_dates:
    8). Scan counts are the noise-immune regression signal — a bump
    here means a consumer started recomputing the corpus again."""
    from open_bus_stride_etl_spark.plans import registry

    qs = registry.queries()

    plan = _explain(qs["ledger_missing_dates"](spark, sf_dir))
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 4, f"ledger_missing_dates re-grew to {n_scans} scans:\n{plan}"

    plan2 = _explain(qs["split_leakage_check"](spark, sf_dir))
    # the (component, split) aggregate must be materialized ONCE and
    # consumed from cache by both output branches...
    # formatted mode prints each node twice (tree + details): ONE real
    # consumer already counts 2, so the two-branch sharing guard needs
    # >= 4 (empirically 4 here = 2 consumers x 2 prints).
    n_consumers = plan2.count("InMemoryTableScan")
    assert n_consumers >= 4, f"audit aggregate not shared:\n{plan2}"
    # ...and the explain re-renders the cached subtree under every
    # InMemoryRelation mention, so the regression signal is scans PER
    # RENDER: the real subtree holds 3 parquet scans (docs + the two
    # component/fingerprint passes), not the 10 of the pre-r6 plan.
    renders = max(1, plan2.count("InMemoryRelation"))
    per_render = plan2.count("Scan parquet") / renders
    assert per_render <= 3, f"split_leakage_check subtree re-grew to {per_render}/render:\n{plan2}"


def test_dedup_candidate_generation_is_equi_join_only(spark, sf_dir):
    """The repo's central 100TB claim for every dedup family: candidate
    pairs come from an EQUI-join on a bucket key (LSH band bucket,
    simhash band value, shingle hash) — never an all-pairs theta join.
    A refactor that lets a candidate join degrade to
    BroadcastNestedLoopJoin / CartesianProduct would still return the
    right rows at test scale while being quadratic at corpus scale, so
    pin the plan shape itself."""
    from open_bus_stride_etl_spark.plans import registry

    qs = registry.queries()
    for name in ("dedup_simhash60", "dedup_minhash_lsh", "dedup_ngram_jaccard"):
        plan = _explain(qs[name](spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, f"{name} went quadratic:\n{plan}"
        assert "NestedLoop" not in plan, f"{name} went quadratic:\n{plan}"


def test_banded_join_keeps_selective_key_in_join_condition(spark, sf_dir):
    """CLAUDE.md constraint: selective keys (user/route id) must stay
    INSIDE the bin equi-join — hoisting the compatibility join out of
    the banding once caused a 500x intermediate blowup. Catalyst proves
    the property for us: if both _bin and user_id are extracted as hash
    join keys, the join builds on the compound key; if user_id fell out
    of the equi-condition it would surface as a post-join Filter and
    vanish from the key list."""
    from open_bus_stride_etl_spark.plans import registry

    plan = _explain(registry.queries()["banded_priority_match"](spark, sf_dir))
    key_lines = [
        l for l in plan.splitlines()
        if ("Left keys" in l or "Right keys" in l or "Arguments" in l) and "_bin" in l
    ]
    assert key_lines, f"no hash-join key list mentions _bin:\n{plan}"
    assert any("user_id" in l for l in key_lines), (
        f"user_id not in the banded equi-join keys:\n{plan}"
    )


def test_training_shard_export_plan_has_no_global_sort(spark, sf_dir):
    """The export pipeline's 100TB contract (llm_tasks.py:
    build_training_shards): the epoch shuffle is bucket-then-rank —
    N_SHARDS bounded window partitions plus ONE repartition by shard
    with partition-local ordering. A refactor that collapses the order
    into a global sort (Sort with global=true) or drops the vocab
    broadcast would still pass row-level tests at sf0.01 while
    serializing the whole corpus through one partition at scale, so pin
    the plan: no global Sort node anywhere, and the only
    SinglePartition exchange is the bounded VOCAB_SIZE-row vocab rank."""
    from open_bus_stride_etl_spark.plans.llm_tasks import build_training_shards
    from open_bus_stride_etl_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(build_training_shards(docs), "extended")
    phys = plan[plan.index("== Physical Plan =="):]
    global_sorts = [
        l for l in phys.splitlines() if "Sort [" in l and "], true," in l
    ]
    assert not global_sorts, f"global sort entered the export plan:\n{global_sorts}"
    # the vocab head is the one legitimate single-partition stage
    # (bounded at VOCAB_SIZE rows before it); the corpus must never be
    single = [l for l in phys.splitlines() if "SinglePartition" in l]
    assert len(single) <= 1, f"corpus-wide SinglePartition exchange:\n{single}"

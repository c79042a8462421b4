"""plans/llm_tasks.py: the curate-corpus task end to end — parquet and
JSONL inputs, per-stage metrics consistency, written artifact."""

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.plans import llm_tasks
from open_bus_stride_etl_spark.plans.tasks import run_task

GOOD = (
    "the quick brown fox jumps over the lazy dog and it is a fine day "
    "in the park where the children play and the birds sing songs"
)


@pytest.fixture
def lake(spark, tmp_path):
    rows = [
        Row(doc_id=1, source="web", lang="en", text=GOOD),  # keeper
        Row(doc_id=2, source="web", lang="en", text=GOOD),  # exact dup of 1
        Row(doc_id=3, source="web", lang="en", text=GOOD + " extra trailing words here"),
        Row(doc_id=4, source="web", lang="en", text="!!! ??? ,,, ..."),  # low quality
        Row(doc_id=5, source="web", lang="en", text="der hund läuft durch den wald und der vogel singt"),
    ]
    base = str(tmp_path / "lake")
    spark.createDataFrame(rows).write.parquet(f"{base}/documents.parquet")
    return base


def test_curate_corpus_task_parquet(spark, lake, capsys):
    m = run_task(spark, "llm-curate-corpus", base_dir=lake)
    assert m["n_total"] == 5
    # doc 4 fails quality; doc 5 is German -> 3 pass quality+lang
    assert m["n_quality_lang"] == 3
    # doc 2 is the exact-dup loser of 1
    assert m["n_after_exact"] == 2
    # doc 3 is a near-dup of 1 (high Jaccard) -> dropped
    assert m["n_near_dup_dropped"] == 1 and m["n_final"] == 1
    out = spark.read.parquet(m["out_dir"])
    assert [r["doc_id"] for r in out.collect()] == [1]
    assert set(out.columns) == {"doc_id", "source", "lang", "text"}
    # the runner printed a metrics JSON line (the reference's run ledger)
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    assert json.loads(line)["task"] == "llm-curate-corpus"


def test_curate_corpus_task_jsonl(spark, lake, tmp_path):
    """Without a documents.parquet table the task reads the
    ``documents_jsonl/`` crawl dump."""
    docs = spark.read.parquet(f"{lake}/documents.parquet")
    base = str(tmp_path / "jsonl_lake")
    docs.coalesce(1).write.json(f"{base}/documents_jsonl")
    m = run_task(spark, "llm-curate-corpus", base_dir=base, out_dir=str(tmp_path / "out"))
    assert m["n_total"] == 5 and m["n_final"] == 1
    assert spark.read.parquet(m["out_dir"]).count() == 1


@pytest.fixture
def emb_lake(spark, tmp_path, monkeypatch):
    """Embeddings with 3 well-separated direction groups + noise dims,
    so trained cells are meaningful and near-neighbors share a group.
    The index has 3 cells; queries are the 6 lowest ids, 3 neighbours
    each, probing 2 cells."""
    monkeypatch.setattr(llm_tasks, "ANN_CELLS", 3)
    monkeypatch.setattr(llm_tasks, "ANN_QUERIES", 6)
    monkeypatch.setattr(llm_tasks, "ANN_TOP_K", 3)
    import math

    rows = []
    for i in range(60):
        g = i % 3
        vec = [0.0] * 8
        vec[g] = 1.0
        vec[3 + g] = 0.5 + (i % 7) * 0.01  # within-group variation
        vec[7] = 0.001 * i
        rows.append(Row(vec_id=i + 1, embedding=[float(x) for x in vec]))
    base = str(tmp_path / "emb_lake")
    df = spark.createDataFrame(rows)
    df.select("vec_id", F.col("embedding").cast("array<float>").alias("embedding")) \
        .write.parquet(f"{base}/embeddings.parquet")
    return base


def test_ann_index_build_and_query(spark, emb_lake, tmp_path):
    """The persisted-IVF lifecycle: build writes centroid + assignment
    parquet with sane occupancy metrics; query answers from the loaded
    index without retraining, deterministically, self-excluded, and
    with in-group nearest neighbors."""
    idx = str(tmp_path / "idx")
    m = run_task(spark, "llm-build-ann-index", base_dir=emb_lake, out_dir=idx)
    assert m["n_vectors"] == 60
    assert 1 <= m["n_cells_nonempty"] <= 3
    assert m["occupancy_max"] >= m["occupancy_min"] >= 1
    cents = spark.read.parquet(f"{idx}/centroids.parquet")
    assert cents.count() == 3 * 8  # k x dim long format

    out = str(tmp_path / "res")
    q = run_task(spark, "llm-ann-query", base_dir=emb_lake, index_dir=idx, out_dir=out)
    assert q["n_queries"] == 6
    res = spark.read.parquet(out).collect()
    assert q["n_result_rows"] == len(res) == 6 * 3
    per_q = {}
    for r in res:
        assert r["cand_id"] != r["query_id"]  # self-excluded
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"], r["cos"]))
    for qid, hits in per_q.items():
        assert sorted(h[0] for h in hits) == [1, 2, 3]
        # rank-1 neighbor shares the query's direction group
        top = min(hits)[1]
        assert (top - 1) % 3 == (qid - 1) % 3
    # determinism: a second run reproduces the result exactly
    out2 = str(tmp_path / "res2")
    run_task(spark, "llm-ann-query", base_dir=emb_lake, index_dir=idx, out_dir=out2)
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_ann_query_after_a_crash_in_the_index_rebuild(spark, emb_lake, tmp_path, monkeypatch):
    """A crash between the two renames of a rebuild's centroid swap
    leaves only ``centroids.parquet.old``. The query restores it and
    answers exactly as after a build that never crashed."""
    import os

    from open_bus_stride_etl_spark.sources import fs

    idx = str(tmp_path / "idx")
    build = {"base_dir": emb_lake, "out_dir": idx}
    query = {"base_dir": emb_lake, "index_dir": idx}
    run_task(spark, "llm-build-ann-index", **build)
    run_task(spark, "llm-ann-query", out_dir=str(tmp_path / "clean"), **query)

    real_rename = fs.rename
    calls = {"n": 0}

    def crash_on_second(src, dest, spark=None):
        calls["n"] += 1
        if calls["n"] == 2:  # old centroids parked, new ones not yet in place
            raise OSError("crash between renames")
        return real_rename(src, dest, spark)

    with monkeypatch.context() as m, pytest.raises(OSError, match="crash between renames"):
        m.setattr(fs, "rename", crash_on_second)
        run_task(spark, "llm-build-ann-index", **build)
    assert not os.path.exists(f"{idx}/centroids.parquet")
    assert os.path.isdir(f"{idx}/centroids.parquet.old")

    run_task(spark, "llm-ann-query", out_dir=str(tmp_path / "healed"), **query)
    a = sorted(map(tuple, spark.read.parquet(str(tmp_path / "clean")).collect()))
    assert sorted(map(tuple, spark.read.parquet(str(tmp_path / "healed")).collect())) == a


def test_curate_corpus_incremental_history(spark, lake, tmp_path, monkeypatch):
    """Daily-crawl incremental mode: run 1 seeds the fingerprint
    history; run 2 over the same corpus drops every already-seen
    survivor; genuinely new content still passes. The history is a URI
    (``file:/…`` here, ``s3a://…`` in a deployment), which must be a
    real history too and leave nothing under the working directory."""
    import os

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    hist = "file:" + str(tmp_path / "hist")
    out1 = str(tmp_path / "c1")
    m1 = run_task(
        spark, "llm-curate-corpus", base_dir=lake, out_dir=out1, history_dir=hist
    )
    assert m1["n_final"] > 0 and m1["n_seen_dropped"] == 0

    out2 = str(tmp_path / "c2")
    m2 = run_task(
        spark, "llm-curate-corpus", base_dir=lake, out_dir=out2, history_dir=hist
    )
    assert m2["n_final"] == 0
    assert m2["n_seen_dropped"] == m1["n_final"]

    # a new document (unseen fingerprint) passes on run 3
    from pyspark.sql import Row as R

    extra = spark.createDataFrame(
        [R(doc_id=99, source="web", lang="en",
           text="completely fresh sentence about rivers and mountains flowing "
                "under the bright morning sun while travelers walk the long road")]
    )
    base2 = str(tmp_path / "lake2")
    spark.read.parquet(f"{lake}/documents.parquet").unionByName(extra) \
        .write.parquet(f"{base2}/documents.parquet")
    out3 = str(tmp_path / "c3")
    m3 = run_task(
        spark, "llm-curate-corpus", base_dir=base2, out_dir=out3, history_dir=hist
    )
    assert m3["n_final"] == 1
    assert {r["doc_id"] for r in spark.read.parquet(out3).collect()} == {99}
    assert os.listdir(cwd) == []


def test_ann_query_recall_gate(spark, emb_lake, tmp_path, monkeypatch):
    """The written result, scored against the exact baseline over the
    same query set: probing all 3 trained cells recovers every true
    neighbour."""
    from open_bus_stride_etl_spark.operators.similarity import ann_recall_at_k, cosine_topk

    monkeypatch.setattr(llm_tasks, "ANN_N_PROBE", 3)
    idx = str(tmp_path / "idx")
    run_task(spark, "llm-build-ann-index", base_dir=emb_lake, out_dir=idx)
    q = run_task(
        spark, "llm-ann-query", base_dir=emb_lake, index_dir=idx, out_dir=str(tmp_path / "r")
    )
    emb = spark.read.parquet(f"{emb_lake}/embeddings.parquet")
    exact = cosine_topk(emb, emb.orderBy("vec_id").limit(6), k=3)
    rec = ann_recall_at_k(exact, spark.read.parquet(q["out_dir"])).collect()
    assert len(rec) == 6 and all(r["n_hit"] == r["n_true"] for r in rec)


@pytest.fixture
def small_export(monkeypatch):
    """A 10-term vocabulary over 4 shards, for the 5-doc corpus."""
    monkeypatch.setattr(llm_tasks, "VOCAB_SIZE", 10)
    monkeypatch.setattr(llm_tasks, "N_SHARDS", 4)


def test_export_training_shards(spark, lake, tmp_path, small_export, monkeypatch):
    """End-to-end last mile: vocab -> tokenize -> shuffle -> sharded
    write. Every doc appears exactly once, per-shard positions are
    contiguous from 1, rows inside a shard file are stored in pos
    order, and the same seed reproduces the identical artifact while a
    different seed permutes the order."""
    out = str(tmp_path / "shards")
    m = run_task(spark, "llm-export-training-shards", base_dir=lake, out_dir=out)
    assert m["n_docs"] == 5 and m["total_tokens"] > 0
    back = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in back.collect()) == [1, 2, 3, 4, 5]
    per_shard = {
        r["shard"]: sorted(rr["pos"] for rr in back.where(F.col("shard") == r["shard"]).collect())
        for r in back.select("shard").distinct().collect()
    }
    for shard, poss in per_shard.items():
        assert poss == list(range(1, len(poss) + 1)), f"shard {shard} pos not contiguous"
    # within-file storage order follows pos (sortWithinPartitions)
    import glob

    for d in glob.glob(out + "/shard=*"):
        rows = spark.read.parquet(d).select("pos").collect()
        poss = [r["pos"] for r in rows]
        assert poss == sorted(poss), f"{d} not stored in pos order"

    # reproducibility: same seed -> identical mapping; new seed -> reshuffle
    out2 = str(tmp_path / "shards2")
    run_task(spark, "llm-export-training-shards", base_dir=lake, out_dir=out2)
    a = sorted(map(tuple, spark.read.parquet(out).select("doc_id", "shard", "pos").collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).select("doc_id", "shard", "pos").collect()))
    assert a == b
    out3 = str(tmp_path / "shards3")
    monkeypatch.setattr(llm_tasks, "EPOCH_SEED", "ep1")
    run_task(spark, "llm-export-training-shards", base_dir=lake, out_dir=out3)
    c = sorted(map(tuple, spark.read.parquet(out3).select("doc_id", "shard", "pos").collect()))
    assert c != a  # different epoch seed permutes shard/pos assignment


def test_export_training_shards_reads_curated_output_at_uri_base(
    spark, lake, tmp_path, monkeypatch, small_export
):
    """With a URI ``base_dir`` (``file:/…`` here, ``s3a://…`` in a
    deployment) the export reads the curated output when it exists, not
    the raw documents table, and creates nothing under the working
    directory."""
    import os

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    base = "file:" + lake
    curated = run_task(spark, "llm-curate-corpus", base_dir=base)
    assert curated["n_final"] == 1
    m = run_task(
        spark, "llm-export-training-shards", base_dir=base, out_dir=str(tmp_path / "shards")
    )
    assert m["n_docs"] == curated["n_final"]
    got = {r["doc_id"] for r in spark.read.parquet(m["out_dir"]).collect()}
    assert got == {r["doc_id"] for r in spark.read.parquet(curated["out_dir"]).collect()}
    assert os.listdir(cwd) == []


def test_export_restores_curated_output_parked_by_a_crashed_swap(
    spark, lake, tmp_path, small_export
):
    """A crash between ``swap_dir``'s two renames leaves only
    ``curated_documents.old``. The export puts it back and exports the
    curated docs, not the raw documents table."""
    import os

    curated = run_task(spark, "llm-curate-corpus", base_dir=lake)
    final = f"{lake}/curated_documents"
    os.rename(final, f"{final}.old")
    m = run_task(
        spark, "llm-export-training-shards", base_dir=lake, out_dir=str(tmp_path / "shards")
    )
    assert m["n_docs"] == curated["n_final"] == 1
    assert os.path.isdir(final) and not os.path.exists(f"{final}.old")


def test_curate_artifact_survives_a_failed_rewrite(spark, lake, monkeypatch):
    """A curate run whose artifact write fails after Spark has started it
    (an overwrite deletes its target first) leaves the previous run's
    artifact in place, with the same rows."""
    from pyspark.sql import DataFrameWriter

    from open_bus_stride_etl_spark.sources import fs

    first = run_task(spark, "llm-curate-corpus", base_dir=lake)
    before = sorted(map(tuple, spark.read.parquet(first["out_dir"]).collect()))

    def fail_mid_write(self, path, *a, **kw):
        fs.delete(path)
        raise OSError("executor lost mid-write")

    monkeypatch.setattr(DataFrameWriter, "parquet", fail_mid_write)
    with pytest.raises(OSError, match="executor lost mid-write"):
        run_task(spark, "llm-curate-corpus", base_dir=lake)
    monkeypatch.undo()
    assert sorted(map(tuple, spark.read.parquet(first["out_dir"]).collect())) == before


def _stored_rdds(spark):
    """Ids of the RDDs holding blocks in the session's storage."""
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_stream_ingest_dedup_appends_index(spark, tmp_path):
    """The production ingest loop: batch 2's near-dup of a doc admitted
    in batch 1 is suppressed BECAUSE the index grew (the static-index
    query can't do this); a rerun of the task is a no-op (checkpoint
    resume, no re-admission); replay-idempotent batch=<id> sinks."""
    import os

    base = str(tmp_path / "base")
    src = f"{base}/ingest"
    os.makedirs(src)
    b1 = [Row(doc_id=10, text=GOOD)]
    b2 = [
        Row(doc_id=20, text=GOOD + " one extra tail"),  # near-dup of 10 -> suppressed
        Row(doc_id=21, text="completely different essay about arctic tern "
                            "migration across hemispheres during equinox and "
                            "solstice seasons every single year")
    ]
    for i, rows in enumerate([b1, b2]):
        staged = str(tmp_path / f"s{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(staged)
        part = [f for f in os.listdir(staged) if f.startswith("part-")][0]
        dstf = f"{src}/{i:02d}.parquet"
        os.rename(os.path.join(staged, part), dstf)
        os.utime(dstf, (1700000000 + i * 100, 1700000000 + i * 100))

    stored = _stored_rdds(spark)
    m = run_task(spark, "llm-stream-ingest-dedup", base_dir=base, max_files_per_trigger=1)
    assert _stored_rdds(spark) <= stored  # per-batch checkpoints released
    assert m["n_batches"] == 2
    assert m["n_ingested"] == 3
    assert m["n_novel"] == 2 and m["n_suppressed"] == 1
    out = spark.read.parquet(m["out_dir"])
    assert sorted(r["doc_id"] for r in out.collect()) == [10, 21]
    # index holds both admitted docs' buckets (4 bands each, distinct)
    idx = spark.read.parquet(f"{m['index_dir']}/batch=*")
    assert idx.select("bucket").distinct().count() == 8

    # rerun: checkpoint says everything is processed -> zero new batches
    m2 = run_task(spark, "llm-stream-ingest-dedup", base_dir=base, max_files_per_trigger=1)
    assert m2["n_batches"] == 0 and m2["n_ingested"] == 0
    assert sorted(r["doc_id"] for r in spark.read.parquet(m["out_dir"]).collect()) == [10, 21]


def test_stream_ingest_dedup_uri_index(spark, tmp_path, monkeypatch):
    """A URI ``base_dir``/``index_dir`` (``file:/…`` here, ``s3a://…`` in
    a deployment) is a real index: the second run's near-dup is
    suppressed by the buckets the first run appended, and nothing is
    created under the working directory."""
    import os

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    src = tmp_path / "base" / "ingest"
    src.mkdir(parents=True)
    base = "file:" + str(tmp_path / "base")
    idx = "file:" + str(tmp_path / "index")

    def stage(i, rows):
        staged = str(tmp_path / f"s{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(staged)
        part = [f for f in os.listdir(staged) if f.startswith("part-")][0]
        os.rename(os.path.join(staged, part), str(src / f"{i:02d}.parquet"))

    stage(0, [Row(doc_id=10, text=GOOD)])
    m1 = run_task(spark, "llm-stream-ingest-dedup", base_dir=base, index_dir=idx)
    assert m1["n_batches"] == 1 and m1["n_novel"] == 1

    stage(1, [Row(doc_id=20, text=GOOD + " one extra tail")])  # near-dup of 10
    m2 = run_task(spark, "llm-stream-ingest-dedup", base_dir=base, index_dir=idx)
    assert m2["n_batches"] == 1 and m2["n_suppressed"] == 1
    assert [r["doc_id"] for r in spark.read.parquet(m2["out_dir"]).collect()] == [10]
    assert os.listdir(cwd) == []


def test_stream_ingest_dedup_replay_excludes_own_partition(spark, tmp_path):
    """Crash-replay: foreachBatch re-delivers batch 0 after its own
    batch=0 index partition was already written by the crashed attempt.
    The probe must EXCLUDE the in-flight batch's partition — otherwise
    the batch's docs hit their own buckets, novel goes empty, and the
    overwrite erases the previously-admitted output rows."""
    import os

    from open_bus_stride_etl_spark.operators import dedup as dd

    base = str(tmp_path / "base")
    src = f"{base}/ingest"
    os.makedirs(src)
    rows = [Row(doc_id=10, text=GOOD)]
    staged = str(tmp_path / "s0")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(staged)
    part = [f for f in os.listdir(staged) if f.startswith("part-")][0]
    os.rename(os.path.join(staged, part), f"{src}/00.parquet")

    # the crashed attempt's leftover: batch 0's OWN buckets in the index
    batch_df = spark.read.parquet(src)
    (
        dd.band_buckets(dd.minhash_signatures(batch_df))
        .select("bucket").distinct()
        .write.mode("overwrite")
        .parquet(f"{base}/lsh_band_index/batch=0")
    )

    # fresh checkpoint -> batch 0 is (re)delivered with its partition present
    m = run_task(spark, "llm-stream-ingest-dedup", base_dir=base)
    assert m["n_novel"] == 1, "replayed batch suppressed by its own index partition"
    out = spark.read.parquet(m["out_dir"])
    assert [r["doc_id"] for r in out.collect()] == [10]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _incremental_vs_full(spark, hist, base, out_prefix):
    """One incremental run against ``hist`` and one history-free run of
    the same generation. Asserts the
    incremental artifact is the full one restricted to fingerprints the
    history had not seen; returns (incremental metrics, admitted ids,
    the full run's admitted ids)."""
    from open_bus_stride_etl_spark.operators import text as tx

    seen = [r[0] for r in spark.read.parquet(f"{hist}/seen_fingerprints.parquet").collect()]
    m = run_task(
        spark, "llm-curate-corpus", base_dir=base,
        out_dir=f"{out_prefix}_inc", history_dir=hist,
    )
    ref = run_task(spark, "llm-curate-corpus", base_dir=base, out_dir=f"{out_prefix}_full")
    ref_out = spark.read.parquet(ref["out_dir"])
    want = _rows(ref_out.where(~tx.doc_fingerprint(F.col("text")).isin(seen)))
    assert _rows(spark.read.parquet(m["out_dir"])) == want
    for key in ("n_total", "n_quality_lang", "n_after_exact"):
        assert m[key] == ref[key], key
    assert m["n_final"] == len(want)
    return m, {r[0] for r in want}, {r["doc_id"] for r in ref_out.collect()}


def _with_docs(spark, lake, base, rows):
    """Write ``lake``'s documents plus ``rows`` as a new generation."""
    spark.read.parquet(f"{lake}/documents.parquet").unionByName(
        spark.createDataFrame(rows)
    ).write.parquet(f"{base}/documents.parquet")
    return base


def test_curate_band_index_matches_recompute_path(spark, lake, tmp_path, monkeypatch):
    """The amortized persisted band-bucket index (r10, VERDICT r9 #1)
    admits exactly what a full non-incremental recompute of the same
    generation admits, restricted to documents whose fingerprint the
    history had not seen — across incremental generations that ADD,
    REMOVE and REWRITE documents (the mutation cases the index's
    fingerprint validity filter exists for), a later near-dup arrival
    and a lowered quality floor. The restriction is exact: the exact-dup
    keeper window runs before the seen join, and the incremental pair
    b-side only drops losers among the admissible remainder, which a
    changed floor re-derives every run. Also pins the amortization
    contract: once a doc is validly indexed its signature is never
    recomputed (the index is topped up, not rebuilt)."""
    import os

    from pyspark.sql import Row as R

    from open_bus_stride_etl_spark.operators import curation as cu

    hist = str(tmp_path / "hist")
    idx_path = f"{hist}/lsh_band_index.parquet"

    m1 = run_task(
        spark, "llm-curate-corpus", base_dir=lake,
        out_dir=str(tmp_path / "o1"), history_dir=hist,
    )
    assert m1["n_final"] > 0
    # run 1 (seen empty) keeps the in-plan pipeline: no index yet
    assert not os.path.isdir(idx_path)

    # generation 2: new docs (one near-dup of doc 1, one fresh), doc 3
    # removed, doc 5 rewritten in place (same id, new text)
    base2 = str(tmp_path / "lake2")
    d1 = spark.read.parquet(f"{lake}/documents.parquet")
    g2 = (
        d1.where(~F.col("doc_id").isin(3))
        .where(F.col("doc_id") != 5)
        .unionByName(
            spark.createDataFrame(
                [
                    R(doc_id=5, source="web", lang="en",
                      text="rewritten body about harbors and lighthouses guiding "
                           "ships safely home through the foggy night waters"),
                    R(doc_id=6, source="web", lang="en",
                      text=GOOD + " with a small appended tail"),
                    R(doc_id=7, source="web", lang="en",
                      text="completely fresh sentence about rivers and mountains "
                           "flowing under the bright morning sun while travelers "
                           "walk the long road"),
                ]
            )
        )
    )
    g2.write.parquet(f"{base2}/documents.parquet")
    # index path (bootstrap)
    _m2, got2, full2 = _incremental_vs_full(spark, hist, base2, str(tmp_path / "g2"))
    # the rewritten doc 5 and the fresh doc 7 are admitted, as the full
    # run says; doc 1 is admitted by the full run but already seen
    assert got2 == {5, 7} and full2 == {1, 5, 7}
    n_idx_g2 = spark.read.parquet(idx_path).count()
    # bootstrap signed the whole generation-2 corpus (4 bands per doc)
    assert n_idx_g2 == g2.count() * 4

    # generation 3: one more near-dup arrives; doc 7 is removed again
    base3 = str(tmp_path / "lake3")
    g3 = g2.where(F.col("doc_id") != 7).unionByName(
        spark.createDataFrame(
            [R(doc_id=8, source="web", lang="en",
               text=GOOD + " with a different appended tail")]
        )
    )
    g3.write.parquet(f"{base3}/documents.parquet")
    # steady-state probe
    m3, _got3, _full3 = _incremental_vs_full(spark, hist, base3, str(tmp_path / "g3"))
    assert m3["n_near_dup_dropped"] > 0  # docs 6 and 8 lose to doc 1
    # amortization: only the ONE genuinely new doc was signed this run
    # (doc 7's stale rows remain on disk, invisible behind the validity
    # filter; nothing was re-signed)
    assert spark.read.parquet(idx_path).count() == n_idx_g2 + 4

    # the same generation under a lowered quality floor: the unseen
    # low-quality doc 4, inadmissible in every run so far, enters the
    # remainder and is admitted, as the full run at that floor says
    monkeypatch.setattr(cu, "QUALITY_MIN_BP", 0)
    m4, got4, _full4 = _incremental_vs_full(spark, hist, base3, str(tmp_path / "g4"))
    assert got4 == {4} and m4["n_near_dup_dropped"] > 0


@pytest.fixture
def probe_calls(monkeypatch):
    """Records ``(distinct b-side docs, probe_rows)`` of every band-index
    probe the curate task makes."""
    from open_bus_stride_etl_spark.operators import dedup as dd

    calls = []
    probe = dd.minhash_lsh_pairs_from_buckets

    def spy(docs, buckets, b_ids, probe_rows, **kw):
        calls.append((b_ids.select("doc_id").distinct().count(), probe_rows))
        return probe(docs, buckets, b_ids, probe_rows, **kw)

    monkeypatch.setattr(dd, "minhash_lsh_pairs_from_buckets", spy)
    return calls


def test_curate_probe_b_side_is_the_admissible_remainder(spark, lake, tmp_path, probe_calls):
    """With history present the band-index probe's b-side is exactly the
    unseen docs that pass quality and language and keep their exact-dup
    group (n_after_exact - n_seen_dropped of them), not every unseen
    doc, and ``probe_rows`` is its 4 band rows per doc."""
    from pyspark.sql import Row as R

    hist = str(tmp_path / "hist")
    run_task(spark, "llm-curate-corpus", base_dir=lake, history_dir=hist,
             out_dir=str(tmp_path / "o1"))
    assert probe_calls == []  # the first run has no index to probe
    base = _with_docs(spark, lake, str(tmp_path / "lake2"), [
        R(doc_id=97, source="web", lang="de",
          text="die katze schläft auf dem warmen dach und der hund bellt laut"),
        R(doc_id=98, source="web", lang="en", text="??? !!! ;;; :::"),
        R(doc_id=99, source="web", lang="en",
          text="completely fresh sentence about rivers and mountains flowing "
               "under the bright morning sun while travelers walk the long road"),
    ])
    m = run_task(spark, "llm-curate-corpus", base_dir=base, history_dir=hist,
                 out_dir=str(tmp_path / "o2"))
    [(n_b, probe_rows)] = probe_calls
    # docs 3 (last run's near-dup loser) and 99; the unseen docs 4, 5,
    # 97 and 98 fail quality or language and are not probed
    assert n_b == m["n_after_exact"] - m["n_seen_dropped"] == 2
    assert probe_rows == 4 * n_b
    assert m["n_final"] == 1 and m["n_near_dup_dropped"] == 1


def test_curate_inadmissible_near_dup_winner_still_drops_the_new_doc(spark, lake, tmp_path):
    """The probe's a-side stays the whole validity-filtered index: a
    lower-id unseen doc that FAILS the quality floor still wins the
    near-dup pair against a new doc that passes it, so the new doc is
    dropped, exactly as the history-free run restricted to unseen
    fingerprints drops it."""
    from pyspark.sql import Row as R

    from open_bus_stride_etl_spark.operators import text as tx

    words = "it is the end of the day and the sun sets in the west over the sea"
    loser, winner = words + " today", words + " " + "!" * 60
    q = spark.createDataFrame([(winner,), (loser,)], "text string").select(
        tx.quality_score_bp(F.col("text"))
    ).collect()
    assert q[0][0] < 2000 <= q[1][0]  # the winner fails the floor, the loser passes

    hist = str(tmp_path / "hist")
    run_task(spark, "llm-curate-corpus", base_dir=lake, history_dir=hist,
             out_dir=str(tmp_path / "o1"))
    base = _with_docs(spark, lake, str(tmp_path / "lake2"), [
        R(doc_id=40, source="web", lang="en", text=winner),
        R(doc_id=41, source="web", lang="en", text=loser),
    ])
    m, got, full = _incremental_vs_full(spark, hist, base, str(tmp_path / "g2"))
    assert 41 not in got and 41 not in full
    assert m["n_near_dup_dropped"] == 2  # doc 3 loses to doc 1, doc 41 to doc 40


def test_task_checkpoints_are_released_at_the_task_boundary(spark, lake, tmp_path):
    """Repeated tasks in one session leave no storage behind: the local
    checkpoints an incremental curate run takes (its scoring pass, the
    band-index top-up) are released when run_task returns, not whenever
    a driver GC happens to collect them."""
    before = _stored_rdds(spark)
    hist = str(tmp_path / "hist")
    for i in range(3):
        run_task(spark, "llm-curate-corpus", base_dir=lake, history_dir=hist,
                 out_dir=str(tmp_path / f"o{i}"))
        assert _stored_rdds(spark) <= before, f"run {i + 1} left storage behind"

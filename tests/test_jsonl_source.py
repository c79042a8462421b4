"""sources/jsonl.py: declared-schema JSONL ingest — corrupt-line
quarantine, round-trip, and documents-table adapter."""

import os

import pytest

from open_bus_stride_etl_spark.sources import jsonl as jl


@pytest.fixture
def dump(tmp_path):
    p = tmp_path / "dump.jsonl"
    p.write_text(
        '{"doc_id": 1, "source": "web", "lang": "en", "text": "hello world"}\n'
        '{"doc_id": 2, "source": "book", "lang": "de", "text": "hallo welt"}\n'
        "this line is not json at all\n"
        '{"doc_id": 3, "source": "web"\n'
    )
    return str(p)


def test_permissive_read_quarantines_corrupt(spark, dump):
    df = jl.read_jsonl(spark, dump, jl.DOCUMENTS_SCHEMA)
    clean, bad = jl.quarantine_corrupt(df)
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["text"] == "hello world"
    assert clean.columns == ["doc_id", "source", "lang", "text"]
    bad_rows = bad.collect()
    assert all(r["doc_id"] is None and r["text"] is None for r in bad_rows)
    bad_lines = sorted(r[jl.CORRUPT_COL] for r in bad_rows)
    assert bad_lines == ["this line is not json at all", '{"doc_id": 3, "source": "web"']


def test_load_documents_feeds_operators(spark, dump):
    from open_bus_stride_etl_spark.operators import corpus_stats as cs

    docs = jl.load_documents_jsonl(spark, dump)
    out = {r["doc_id"]: r for r in cs.bigram_repetition(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1]["dup_word_ratio_bp"] == 0


def test_roundtrip(spark, tmp_path, dump):
    docs = jl.load_documents_jsonl(spark, dump)
    out_dir = str(tmp_path / "out")
    docs.coalesce(1).write.json(out_dir)
    # re-read Spark's own JSON output: every line parses
    back = jl.read_jsonl(spark, out_dir, jl.DOCUMENTS_SCHEMA).collect()
    assert sorted(r["doc_id"] for r in back) == [1, 2]
    assert all(r[jl.CORRUPT_COL] is None for r in back)
    files = [f for f in os.listdir(out_dir) if f.endswith(".json")]
    assert len(files) == 1  # coalesce(1) => one uncompressed splittable file

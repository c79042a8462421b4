"""operators/corpus_stats.py: repetition signals, document frequency,
eval-set decontamination — edge cases the sf-table oracles don't hit
(empty text, one-word docs, zero overlap)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.operators import corpus_stats as cs


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_bigram_repetition_values(spark):
    d = _docs(
        spark,
        [
            (1, "a b a b a b"),          # one bigram dominates
            (2, "the quick brown fox"),  # all distinct
            (3, "solo"),                 # no bigrams
            (4, ""),                     # empty text
        ],
    )
    out = {r["doc_id"]: r for r in cs.bigram_repetition(d).collect()}
    # doc 1: words [a,b,a,b,a,b] -> 6 words, 2 distinct -> dup 6667 bp;
    # bigrams: "a b" x3, "b a" x2 -> top 3 of 5 = 6000 bp
    assert out[1]["dup_word_ratio_bp"] == 6667
    assert out[1]["n_bigrams"] == 5
    assert out[1]["top_bigram_ratio_bp"] == 6000
    assert out[2]["dup_word_ratio_bp"] == 0
    assert out[2]["top_bigram_ratio_bp"] == 3333  # 1 of 3 distinct bigrams
    assert out[3]["n_bigrams"] == 0
    assert out[3]["top_bigram_ratio_bp"] == 0
    assert out[4]["n_bigrams"] == 0
    assert out[4]["dup_word_ratio_bp"] == 0


def test_term_document_frequency(spark):
    d = _docs(spark, [(1, "apple banana apple"), (2, "banana cherry"), (3, "")])
    out = {r["term"]: r["df"] for r in cs.term_document_frequency(d).collect()}
    # per-doc distinct: banana appears in 2 docs, apple/cherry in 1;
    # the empty doc contributes no '' term
    assert out == {"banana": 2, "apple": 1, "cherry": 1}


def test_contamination_overlap(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over"),  # shares 3-grams with eval
            (2, "completely unrelated training text here"),
            (3, "the quick brown dog"),             # shares ONE 3-gram
        ],
    )
    ev = _docs(spark, [(100, "the quick brown fox")])
    out = {r["doc_id"]: r["n_overlap"] for r in cs.contamination_overlap(train, ev).collect()}
    # eval 3-grams: "the quick brown", "quick brown fox"
    assert out[1] == 2
    assert out[3] == 1
    assert 2 not in out  # clean doc not flagged


def test_contamination_overlap_empty_eval(spark):
    train = _docs(spark, [(1, "some training document text")])
    # zero-row eval set: nothing is flagged, plan still executes
    ev = train.where(F.lit(False))
    assert cs.contamination_overlap(train, ev).count() == 0


def test_pii_redaction(spark):
    from open_bus_stride_etl_spark.operators import text as tx

    d = _docs(
        spark,
        [
            (1, "contact john.doe+spam@example.co.uk or +1 (555) 123-4567 now"),
            (2, "no pii here at all"),
            (3, "two mails: a@b.io c@d.org; digits 12345678901"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in d.select(
            "doc_id",
            tx.pii_counts(d["text"])["n_emails"].alias("e"),
            tx.pii_counts(d["text"])["n_phones"].alias("p"),
            tx.redact_pii(d["text"]).alias("red"),
        ).collect()
    }
    assert out[1]["e"] == 1 and out[1]["p"] == 1
    assert "<EMAIL>" in out[1]["red"] and "<PHONE>" in out[1]["red"]
    assert "example" not in out[1]["red"] and "555" not in out[1]["red"]
    assert out[2]["e"] == 0 and out[2]["p"] == 0 and out[2]["red"] == "no pii here at all"
    assert out[3]["e"] == 2 and out[3]["p"] == 1


def test_dedup_incremental_query(spark, sf_dir):
    from open_bus_stride_etl_spark.plans.registry import queries

    out = queries()["dedup_incremental"](spark, sf_dir).collect()
    # every flagged pair: new-batch doc, historical keeper
    for r in out:
        assert r["doc_id"] % 4 == 3
        assert r["dup_of"] % 4 != 3


def test_boilerplate_stats_planted_template(spark):
    # docs 1+2 share a templated 5-word prefix (3 shared 3-gram
    # shingles); doc 3 is unique prose; doc 4 too short for any shingle.
    d = _docs(
        spark,
        [
            (1, "terms of service apply here alpha beta"),
            (2, "terms of service apply here gamma delta"),
            (3, "completely unrelated original writing sample"),
            (4, "too short"),
        ],
    )
    out = {r["doc_id"]: r for r in cs.boilerplate_stats(d).collect()}
    assert len(out) == 4
    # doc 1: 5 shingles ("terms of service"... "here alpha beta"), 3 hot
    assert out[1]["n_shingles"] == 5 and out[1]["n_boiler"] == 3
    assert out[1]["boiler_ratio_bp"] == 6000
    assert out[2]["n_boiler"] == 3
    assert out[3]["n_boiler"] == 0 and out[3]["boiler_ratio_bp"] == 0
    assert out[4]["n_shingles"] == 0 and out[4]["boiler_ratio_bp"] == 0


def test_tokenize_with_vocab_order_and_oov(spark):
    docs = _docs(spark, [(1, "apple banana apple kiwi"), (2, "")])
    vocab = spark.createDataFrame(
        [Row(term="apple", token_id=1), Row(term="banana", token_id=2)]
    )
    out = {r["doc_id"]: r for r in cs.tokenize_with_vocab(docs, vocab).collect()}
    # document order preserved; kiwi is OOV -> 0
    assert out[1]["ids_csv"] == "1,2,1,0"
    assert out[1]["n_tokens"] == 4 and out[1]["n_oov"] == 1
    # empty text normalizes to one empty-string token, which is OOV
    assert out[2]["n_tokens"] == 1 and out[2]["n_oov"] == 1 and out[2]["ids_csv"] == "0"

"""operators/text.py: each text kernel and its DuckDB twin give the same
values over the same rows — empty, whitespace-only and punctuation-only
texts, tabs and newlines, mixed case, a normalized text that crosses the
prefix-fingerprint boundary, stopwords glued to punctuation, an exact
es/de language-score tie, planted PII, a vertical tab (Java's \\s
matches it, RE2's does not), a dotted capital I (Java lowercases it
to two chars) and a word-final capital sigma (Java lowercases it to
``ς``, DuckDB to ``σ``) included."""

import duckdb
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.operators import text as tx

TEXTS = [
    "",
    "   ",
    " \t\n ",
    "!?.,;:",
    "\tThe cat\n\nsat  on\t the\r\nmat.\n",
    "The CAT sat On THE Mat And It Is Fine",
    "  Alpha   BETA\tgamma delta\n\nepsilon zeta eta theta iota kappa lambda mu nu xi",
    "the,a.and;of(to)in-is!it?",
    "el y der ist",
    "le et est la",
    "the el der le",
    "a\x0bb c",
    "İstanbul",
    "ΟΔΟΣ οδος",
    "mail: user12@ex.org, tel +1 (055) 123-4567 or user@a.b",
]

KERNELS = {
    "normalize": (tx.normalize_text, tx.normalize_text_sql),
    "doc_fp": (tx.doc_fingerprint, tx.doc_fingerprint_sql),
    "prefix_fp": (tx.prefix_fingerprint, tx.prefix_fingerprint_sql),
    "ws_tokens": (tx.ws_token_count, tx.ws_token_count_sql),
    "bpe_tokens": (tx.bpe_token_count, tx.bpe_token_count_sql),
    "punct_bp": (tx.punct_ratio_bp, tx.punct_ratio_bp_sql),
    "stopword_bp": (tx.stopword_ratio_bp, tx.stopword_ratio_bp_sql),
    "quality_bp": (tx.quality_score_bp, tx.quality_score_bp_sql),
    "lang": (tx.lang_id, lambda e: tx.lang_id_sql(tx.lang_scores_sql(e))),
    "redacted": (tx.redact_pii, tx.redact_pii_sql),
}


def test_spark_and_duckdb_text_twins_agree(spark):
    rows = list(enumerate(TEXTS))
    df = spark.createDataFrame(rows, "id int, text string")
    t = F.col("text")
    spark_rows = df.select(
        "id",
        *[fn(t).alias(name) for name, (fn, _) in KERNELS.items()],
        *[s.alias(f"s_{lang}") for lang, s in tx.lang_scores(t).items()],
        *[c.alias(name) for name, c in tx.pii_counts(t).items()],
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE t0 (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t0 VALUES (?, ?)", rows)
    sql_cols = [f"{sql('text')} AS {name}" for name, (_, sql) in KERNELS.items()]
    sql_cols += [f"{e} AS s_{lang}" for lang, e in tx.lang_scores_sql("text").items()]
    sql_cols += [f"{e} AS {name}" for name, e in tx.pii_counts_sql("text").items()]
    duckdb_rows = con.execute(f"SELECT id, {', '.join(sql_cols)} FROM t0 ORDER BY id").fetchall()

    got = {r["id"]: tuple(r)[1:] for r in spark_rows}
    for r in duckdb_rows:
        assert got[r[0]] == tuple(r[1:]), (TEXTS[r[0]], got[r[0]], r[1:])

    by_text = {TEXTS[i]: dict(zip(["id", *KERNELS], r)) for i, r in enumerate(duckdb_rows)}
    # the rows reach the edges they are there for
    long_norm = by_text[TEXTS[6]]["normalize"]
    assert len(long_norm) > tx.PREFIX_CHARS and long_norm.startswith("alpha beta gamma")
    assert by_text[TEXTS[6]]["prefix_fp"] != by_text[TEXTS[6]]["doc_fp"]
    assert by_text[TEXTS[7]]["stopword_bp"] > 0
    assert by_text["el y der ist"]["lang"] == "es"  # es/de tie: es wins
    assert by_text["le et est la"]["lang"] == "fr"
    assert by_text["the el der le"]["lang"] == "en"  # four-way tie
    assert by_text[""]["lang"] == "und" and by_text[""]["ws_tokens"] == 0
    # a one-letter top-level domain is no email
    assert by_text[TEXTS[-1]]["redacted"] == "mail: <EMAIL>, tel <PHONE> or user@a.b"

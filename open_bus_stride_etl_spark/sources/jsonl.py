"""JSONL (newline-delimited JSON) source — the interchange format
crawl pipelines and LLM training-data dumps actually ship (one JSON
object per line, splittable, append-friendly). Extends SURVEY §2.1's
source family (S4/S5 cover CSV/datapackage; the reference's lake is
tabular-only) with the documents-table ingest path a corpus pipeline
needs.

Design points, all Spark-native:

- **Explicit schema, never inference.** ``spark.read.json`` without a
  schema runs a full inference pass over the data (a second scan at
  100 TB) and silently widens types per-file; every reader here takes a
  declared ``StructType`` so the scan is single-pass and the contract
  is stable.
- **Malformed lines are data, not crashes.** Real crawl dumps contain
  truncated/garbage lines. ``read_jsonl`` reads PERMISSIVE with a
  corrupt-record capture column so bad lines are quarantined by a
  filter, not by a job failure.
- **Splittable at scale**: uncompressed (or zstd/bzip2) JSONL splits on
  line boundaries, so one 10 TB dump still fans out across executors;
  gzip does not split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read newline-delimited JSON with a declared schema, PERMISSIVE:
    rows that fail to parse come back with every schema column NULL and
    the raw line preserved in ``_corrupt_record``; well-formed rows have
    it NULL.

    Note Spark's documented restriction: a query may not reference ONLY
    the corrupt column — always select at least one data column with it
    (``quarantine_corrupt`` below does this correctly).
    """
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def quarantine_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE read into (clean, quarantined): clean rows
    with the capture column dropped, and the malformed rows (raw line
    in ``_corrupt_record``; every data column NULL by PERMISSIVE
    contract) for a dead-letter sink. The quarantine side keeps the
    full row on purpose: Spark disallows a query whose referenced
    columns are ONLY the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the
    NULL data columns cost nothing in a columnar sink."""
    clean = df.where(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    bad = df.where(df[CORRUPT_COL].isNotNull())
    return clean, bad


def load_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """The documents-table ingest adapter: JSONL lines shaped like the
    lake's ``documents`` parquet table (doc_id, source, lang, text),
    malformed lines dropped. Downstream operators (dedup, curation,
    text analysis) run unchanged on the result."""
    clean, _ = quarantine_corrupt(read_jsonl(spark, path, DOCUMENTS_SCHEMA))
    return clean

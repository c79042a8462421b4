"""functions/hashing.py: each md5-long helper and its DuckDB twin give
the same longs over the same rows — NULLs, a '|' inside a value, a long
id, a salted key and the non-default hex widths included."""

import duckdb
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
    row_hash,
    row_hash_sql,
)

ROWS = [
    (1, "a", "b"),
    (2, None, "x|y"),
    (3, "x|y", None),
    (4611686018427387904, "", "long id"),
    (None, None, None),
]


def test_spark_and_duckdb_twins_agree(spark):
    df = spark.createDataFrame(ROWS, "id long, s string, t string")
    salted = F.concat(F.lit("salt"), F.col("id").cast("string"))
    spark_rows = df.select(
        "id",
        row_hash(F.col("id"), F.col("s"), F.col("t")),
        row_hash(F.col("s"), F.col("t")),
        md5_long(F.col("s")),
        md5_long(salted),
        md5_long(salted, n_hex=8),
        md5_long(salted, n_hex=15),
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE t0 (id BIGINT, s VARCHAR, t VARCHAR)")
    con.executemany("INSERT INTO t0 VALUES (?, ?, ?)", ROWS)
    key = "'salt' || CAST(id AS VARCHAR)"
    duckdb_rows = con.execute(
        f"""SELECT id, {row_hash_sql("id", "s", "t")}, {row_hash_sql("s", "t")},
                   {md5_long_sql("s")},
                   {md5_long_sql(key)}, {md5_long_sql(key, 8)}, {md5_long_sql(key, 15)}
            FROM t0"""
    ).fetchall()

    got = sorted((tuple(r) for r in spark_rows), key=str)
    assert got == sorted(duckdb_rows, key=str)
    # the NULL sentinel keeps an all-NULL row hashable, and a '|' inside a
    # value does not make (NULL, 'x|y') collide with ('x|y', NULL)
    hashes = [r[2] for r in got]
    assert None not in hashes and len(set(hashes)) == len(hashes)
    assert all(r[5] < 2**32 and r[6] < 2**60 for r in got if r[0] is not None)

"""Generate a schema-compatible copy of the driver's test tables at an
arbitrary scale factor, so the oracle harness and bench can be run
beyond the shipped sf0.1.

    python tools/gen_testdata.py /tmp/sf1 1.0
    python tools/check_oracle.py /tmp/sf1          # all queries at sf1
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py
    python tools/gen_testdata.py /tmp/sf100 100 documents,embeddings
        # optional third arg: generate only the named tables — e.g. a
        # 1000x corpus for the dedup/ANN scale probes without paying
        # for 520M lineitem rows the probe never reads

All generation is DataFrame-expression-based (no driver loops) and
deterministic (md5-derived pseudo-randomness keyed by row id). The data
includes the features the queries rely on: near-duplicate documents
(exact prefix dups + word-substitution near-dups), multilingual marker
words, JSON props, null timestamps, and embeddings with planted
near-parallel vectors.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from open_bus_stride_etl_spark.session import build_session  # noqa: E402

EPOCH = "2024-01-01 00:00:00"


def _h(col, mod):
    """Deterministic pseudo-random int in [0, mod) keyed by a column."""
    return F.pmod(F.xxhash64(col.cast("string")), F.lit(mod)).cast("int")


def generate(
    spark: SparkSession, out_dir: str, sf: float, only: set[str] | None = None
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    epoch = F.lit(EPOCH).cast("timestamp")

    def write(df, name, block=4 * 1024 * 1024):
        if only is not None and name not in only:
            return
        # single file per table, like the shipped testdata (DuckDB's
        # read_parquet gets a plain file path)
        import glob as _glob  # noqa: PLC0415
        import tempfile  # noqa: PLC0415

        with tempfile.TemporaryDirectory(prefix=f"_{name}_", dir=out_dir) as scratch:
            tmp, stage = os.path.join(scratch, "tmp"), os.path.join(scratch, "stage")
            # Two-phase write: the generator expressions (40 md5 words per
            # document row, 64 hash components per embedding) are the
            # expensive part, and a direct coalesce(1) write collapses the
            # WHOLE plan into one task — sf100 documents ran a single core
            # for the full 200M-md5 computation. Phase 1 computes and writes
            # in parallel; phase 2 re-reads the finished bytes and rewrites
            # them as one file (IO-bound, no expression work).
            df.write.mode("overwrite").parquet(stage)
            # small row groups: DuckDB (the oracle engine) parallelizes per
            # row group, so a single maximal group would serialize its side
            # of every heavy comparison at generated scales (block is the
            # ENCODED group size — pass a smaller value for tables that
            # compress well but explode downstream, e.g. embeddings)
            df.sparkSession.read.parquet(stage).coalesce(1).write.mode("overwrite").option(
                "parquet.block.size", block
            ).parquet(tmp)
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            os.replace(part, os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(
        spark.range(5).select(
            F.col("id").cast("int").alias("r_regionkey"),
            F.element_at(F.array(*[F.lit(r) for r in regions]), F.col("id").cast("int") + 1).alias(
                "r_name"
            ),
        ),
        "region",
    )
    write(
        spark.range(25).select(
            F.col("id").cast("int").alias("n_nationkey"),
            F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
            (F.col("id") % 5).cast("int").alias("n_regionkey"),
        ),
        "nation",
    )

    n_cust = int(150_000 * sf)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write(
        spark.range(1, n_cust + 1).select(
            F.col("id").alias("c_custkey"),
            F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
            _h(F.col("id"), 25).alias("c_nationkey"),
            (F.round((_h(F.col("id") + 7, 1_000_000) / 100.0) - 999.99, 2)).alias("c_acctbal"),
            F.element_at(F.array(*[F.lit(s) for s in segs]), _h(F.col("id") + 3, 5) + 1).alias(
                "c_mktsegment"
            ),
        ),
        "customer",
    )

    n_supp = int(10_000 * sf)
    write(
        spark.range(1, n_supp + 1).select(
            F.col("id").alias("s_suppkey"),
            F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
            _h(F.col("id"), 25).alias("s_nationkey"),
            (F.round((_h(F.col("id") + 11, 1_000_000) / 100.0) - 999.99, 2)).alias("s_acctbal"),
        ),
        "supplier",
    )

    n_part = int(200_000 * sf)
    brands = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    write(
        spark.range(1, n_part + 1).select(
            F.col("id").alias("p_partkey"),
            F.concat(F.lit("part "), F.col("id")).alias("p_name"),
            F.element_at(F.array(*[F.lit(b) for b in brands]), _h(F.col("id"), 25) + 1).alias(
                "p_brand"
            ),
            F.element_at(F.array(*[F.lit(t) for t in types]), _h(F.col("id") + 1, 6) + 1).alias(
                "p_type"
            ),
            (_h(F.col("id") + 2, 50) + 1).alias("p_size"),
            (900.0 + (F.col("id") % 1000) / 10.0).alias("p_retailprice"),
        ),
        "part",
    )

    n_ord = int(1_500_000 * sf)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = spark.range(1, n_ord + 1).select(
        F.col("id").alias("o_orderkey"),
        (1 + _h(F.col("id"), n_cust)).cast("long").alias("o_custkey"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F"), F.lit("P")), _h(F.col("id") + 5, 3) + 1
        ).alias("o_orderstatus"),
        F.round(1000.0 + _h(F.col("id") + 9, 400_000) / 1.7, 2).alias("o_totalprice"),
        (epoch + F.make_interval(days=_h(F.col("id") + 13, 365))).alias("o_orderdate"),
        F.element_at(F.array(*[F.lit(p) for p in prios]), _h(F.col("id") + 17, 5) + 1).alias(
            "o_orderpriority"
        ),
    )
    write(orders, "orders")

    lineitem = (
        spark.range(1, n_ord + 1)
        .select(F.col("id").alias("o"), F.explode(F.sequence(F.lit(1), F.lit(1) + _h(F.col("id"), 6))).alias("ln"))
        .select(
            F.col("o").alias("l_orderkey"),
            (1 + _h(F.col("o") * 8 + F.col("ln"), n_part)).cast("long").alias("l_partkey"),
            (1 + _h(F.col("o") * 8 + F.col("ln") + 1, n_supp)).cast("long").alias("l_suppkey"),
            F.col("ln").cast("int").alias("l_linenumber"),
            (1.0 + _h(F.col("o") * 8 + F.col("ln") + 2, 50)).alias("l_quantity"),
            F.round(900.0 + _h(F.col("o") * 8 + F.col("ln") + 3, 100_000) / 1.1, 2).alias(
                "l_extendedprice"
            ),
            (_h(F.col("o") * 8 + F.col("ln") + 4, 11) / 100.0).alias("l_discount"),
            (_h(F.col("o") * 8 + F.col("ln") + 5, 9) / 100.0).alias("l_tax"),
            F.element_at(
                F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                _h(F.col("o") * 8 + F.col("ln") + 6, 3) + 1,
            ).alias("l_returnflag"),
            F.element_at(
                F.array(F.lit("F"), F.lit("O")), _h(F.col("o") * 8 + F.col("ln") + 7, 2) + 1
            ).alias("l_linestatus"),
            (epoch + F.make_interval(days=_h(F.col("o") + 13, 365) + _h(F.col("ln"), 30))).alias(
                "l_shipdate"
            ),
        )
    )
    write(lineitem, "lineitem")

    n_ev = int(1_000_000 * sf)
    etypes = ["click", "view", "purchase", "error", "login"]
    write(
        spark.range(1, n_ev + 1).select(
            F.col("id").alias("event_id"),
            # ~1% NULL timestamps (the nulls-last trap)
            F.when(
                _h(F.col("id") + 23, 100) != 0,
                epoch + F.make_interval(secs=(_h(F.col("id"), 30 * 86400)).cast("double")),
            ).alias("ts"),
            _h(F.col("id") + 29, int(1500 * sf) or 1).cast("long").alias("user_id"),
            F.element_at(F.array(*[F.lit(e) for e in etypes]), _h(F.col("id") + 31, 5) + 1).alias(
                "event_type"
            ),
            (_h(F.col("id") + 37, 10_000) / 100.0).alias("value"),
            # same shape as the driver's props ({"k": int}) so the JSON
            # queries select non-trivial row sets, plus extra keys to
            # exercise path extraction on wider objects
            F.format_string(
                '{"k": %d, "device": "d%d", "dur_ms": %d}',
                _h(F.col("id") + 41, 100),
                _h(F.col("id") + 41, 9),
                _h(F.col("id") + 43, 5000),
            ).alias("props"),
        ),
        "events",
    )

    n_doc = int(50_000 * sf)
    vocab = (
        "the quick brown fox jumps over lazy dog and a of to in is it was for on "
        "with data spark engine query batch stream table join shuffle"
    ).split()
    # Vocabulary must GROW with the corpus (as any real corpus's does):
    # with a fixed tiny vocab, shingle/minhash-band collisions between
    # unrelated documents have constant probability, which makes every
    # dedup candidate set quadratic in corpus size — a property of the
    # data, not the operators. Real words keep stopword/lang signals;
    # synthetic tail words are derived arithmetically (no giant array
    # literals in the plan).
    v_size = max(40, int(1500 * sf))
    real_arr = F.array(*[F.lit(w) for w in vocab])

    def word(c):
        idx = _h(c, v_size)
        return F.when(idx < len(vocab), F.element_at(real_arr, idx + 1)).otherwise(
            F.concat(F.lit("w"), idx)
        )
    base_words = [word(F.col("id") * 40 + i) for i in range(30)]
    # 10% of docs are near-duplicates of doc id-1 (one word substituted)
    docs = spark.range(1, n_doc + 1).select(
        F.col("id").alias("doc_id"),
        F.when(
            (_h(F.col("id") + 47, 10) == 0) & (F.col("id") > 1),
            F.concat_ws(
                " ", *[word((F.col("id") - 1) * 40 + i) for i in range(29)], F.lit("changed")
            ),
        )
        .otherwise(F.concat_ws(" ", *base_words))
        .alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), _h(F.col("id") + 53, 5)).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    write(docs, "documents", block=256 * 1024)

    n_vec = int(20_000 * sf)
    dim = 64
    comp = [
        ((_h(F.col("id") * 100 + j, 2001) - 1000) / 1000.0).cast("float") for j in range(dim)
    ]
    write(
        spark.range(0, n_vec).select(
            F.col("id").alias("vec_id"),
            F.array(*comp).alias("embedding"),
            _h(F.col("id") + 59, 10).alias("label"),
        ),
        "embeddings",
        block=128 * 1024,
    )


if __name__ == "__main__":
    out_dir, sf = sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    only = {t.strip() for t in sys.argv[3].split(",")} if len(sys.argv) > 3 else None
    spark = build_session("gen-testdata")
    generate(spark, out_dir, sf, only=only)
    print({"out_dir": out_dir, "sf": sf, "only": sorted(only) if only else "all"})

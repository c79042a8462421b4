"""SparkSession bootstrap and defensive per-session configuration.

The reference delegates all execution to PostgreSQL; here the equivalent
"engine setup" is a SparkSession tuned for large-scale batch analytics:
AQE on (runtime re-planning, skew-join splitting), Arrow on (fast
pandas/UDF exchange), UTC session timezone (the reference stores UTC and
converts to Asia/Jerusalem only at export boundaries — see
/root/reference/open_bus_stride_etl/common.py:12-21).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied even to externally-created sessions
# (e.g. the verification driver's). nanosAsLong is required because the
# shared test parquet stores TIMESTAMP(NANOS), which Spark's parquet
# reader refuses by default.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow batch transfer for every pandas boundary (toPandas /
    # createDataFrame(pdf) / pandas UDFs). Runtime-settable, so it
    # belongs HERE and not only in build_session's builder: under an
    # externally-created vanilla session (the verification driver) the
    # CC tail finish and the bounded edge collects otherwise fall back
    # to row-at-a-time pickling — measured r7 on a 20M-edge collect:
    # the non-Arrow path spent ~7 min serializing what Arrow moves in
    # seconds (/tmp probe, dedup.py:_local_cc_finish notes).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Write timestamps as INT64 micros instead of the deprecated INT96
    # default: INT96 chunks carry NO footer statistics (parquet spec),
    # which blanked sources/parquet_stats.py's null_count fast path for
    # every timestamp marker column (r9) — and micros is Spark's native
    # timestamp precision, so values round-trip identically.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # InferFiltersFromGenerate synthesizes `size(e) > 0 AND isnotnull(e)`
    # below every explode(e). For this engine's hot pattern —
    # explode(shingle_array(split(normalize(text)))) — CollapseProject
    # first inlines the whole normalize+split+transform chain into the
    # generator input, so the inferred filter carries ~6 copies of it,
    # runs as an interpreted (non-codegen) Filter, and is even pushed
    # into the parquet scan as a DataFilter evaluated per row. Measured
    # at sf0.1 (min-of-3, warmed): text_repetition 10.3s -> 1.8s,
    # dedup_ngram_jaccard 3.3s -> 2.2s, everything else neutral. The
    # rule only ever prunes rows whose generator output is empty —
    # negligible here (documents virtually always have >= 1 shingle) —
    # so excluding it trades nothing for the 6x expression tax.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


@functools.cache
def _package_zip() -> str:
    """This package's ``.py`` files, zipped once per process into a
    temporary directory that is removed at interpreter exit."""
    tmp = tempfile.mkdtemp(prefix="stride-pkg-")
    atexit.register(shutil.rmtree, tmp, True)
    pkg = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tmp, f"{__package__}.zip")
    with zipfile.ZipFile(out, "w") as z:
        for d, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, os.path.dirname(pkg)))
    return out


_shipped_to: SparkContext | None = None


def ship_package(spark: SparkSession) -> None:
    """Ship this package to the Python workers, once per SparkContext.
    Queries with UDFs, pandas UDFs or ``mapInPandas`` import it on the
    executors, where a host that put the package on its own ``sys.path``
    (from another working directory, no ``PYTHONPATH``) has not."""
    global _shipped_to
    if spark.sparkContext is not _shipped_to:
        spark.sparkContext.addPyFile(_package_zip())
        _shipped_to = spark.sparkContext


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)
    and ship the package to its Python workers."""
    ship_package(spark)
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static on exotic builds; reads that need
            # them will raise a clear error of their own.
            pass
    return spark


def build_session(
    app_name: str = "open-bus-stride-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) a tuned local session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset). ``shuffle_partitions`` defaults to the core count:
    at the test scale there is no reason to over-partition; a real
    cluster deployment sets this to 2-3x total cores (or relies on AQE
    coalescing, which is enabled).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())

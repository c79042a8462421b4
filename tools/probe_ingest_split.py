"""Split ingest_replay_idempotence's scale cost into HARNESS staging vs
TASK work (VERDICT r8 "what's wrong" #1): the registered query stages
each micro-batch as ONE file via coalesce(1) — required by the
batch==file determinism contract — and at sf100 those two single-task
parquet writes of 2.5M docs each sit INSIDE the timed run, overstating
the task's own scaling. This probe times the two components separately
so SCALE.md/SCALE30.md can report task-only seconds with the staging
cost noted alongside.

Usage:
    python tools/probe_ingest_split.py SF_DIR [SF_DIR...]

Prints one JSON line per sf_dir:
    {"sf_dir": ..., "staging_sec": ..., "task_sec": ..., "total_sec": ...}

Bracket with tools/box_canary.py per the BENCHNOTES protocol.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def probe(spark, sf_dir: str) -> dict:
    from open_bus_stride_etl_spark.operators.util import release_cached
    from open_bus_stride_etl_spark.plans import llm_tasks  # noqa: F401
    from open_bus_stride_etl_spark.plans.q_llm import _docs
    from open_bus_stride_etl_spark.plans.tasks import run_task

    base = tempfile.mkdtemp(prefix="ingest_split_")
    try:
        # --- harness staging (the query's batch==file determinism shape:
        # two coalesce(1) single-task writes + mtime ordering) ---
        t0 = time.time()
        src = f"{base}/ingest"
        os.makedirs(src)
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        now = time.time()
        for part, age_s in ((0, 600), (1, 300)):
            stage = f"{base}/stage{part}"
            docs.where(F.col("doc_id") % 2 == part).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            pf = glob.glob(f"{stage}/part-*.parquet")[0]
            dstf = f"{src}/b{part}.parquet"
            shutil.move(pf, dstf)
            os.utime(dstf, (now - age_s, now - age_s))
        staging_sec = time.time() - t0

        # --- the task itself: run, crash (drop last commit), replay ---
        t1 = time.time()
        run_task(
            spark, "llm-stream-ingest-dedup", base_dir=base,
            in_dir=src, max_files_per_trigger=1,
        )
        commits = sorted(
            (f for f in os.listdir(f"{base}/ingest_ckpt/commits") if f.isdigit()),
            key=int,
        )
        os.remove(f"{base}/ingest_ckpt/commits/{commits[-1]}")
        crc = f"{base}/ingest_ckpt/commits/.{commits[-1]}.crc"
        if os.path.exists(crc):
            os.remove(crc)
        run_task(
            spark, "llm-stream-ingest-dedup", base_dir=base,
            in_dir=src, max_files_per_trigger=1,
        )
        task_sec = time.time() - t1
        return {
            "sf_dir": sf_dir,
            "staging_sec": round(staging_sec, 2),
            "task_sec": round(task_sec, 2),
            "total_sec": round(staging_sec + task_sec, 2),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)
        release_cached()


def main() -> None:
    from open_bus_stride_etl_spark.session import build_session

    spark = build_session("ingest-split-probe")
    for sf_dir in sys.argv[1:]:
        print(json.dumps(probe(spark, sf_dir)), flush=True)


if __name__ == "__main__":
    main()

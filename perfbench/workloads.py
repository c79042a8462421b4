"""The benchmark's workloads. README.md says why each exists.

A workload builds its inputs from the seed (``setup``), restores
byte-identical inputs before every iteration (``restore``), runs one
closed-loop iteration through the public task entry ``run_task``
(``run``), and checks the iteration's outputs (``check``).

Expected task counters come from the generators' planted classes,
recomputed here from the same arithmetic the generators use (row ids
modulo fixed periods), never from a run of the program.
"""

from __future__ import annotations

import contextlib
import datetime
import io
import json
import os
import shutil
import time
import zlib

import numpy as np

# -- sizes (README.md records how they were chosen) --------------------------
ENRICH_RIDES = 6_000         # siri rides in the 10-day lake
SWEEP_MAX_HOURS = 7 * 24     # hours the package sweep looks back
CURATE_SF = 0.2              # gen_testdata scale: 50,000 documents per 1.0
BATCH_MOD = 10               # one document in BATCH_MOD is the new batch
EPOCH = datetime.datetime(2024, 5, 1)


def run_task_captured(run_task, spark, tracer, name: str, **params) -> dict:
    """Run one task inside a ``plans.tasks`` span with its stdout captured;
    the counters are parsed from the task's own JSON line."""
    buf = io.StringIO()
    with tracer.span(f"task.{name}", "plans.tasks"), contextlib.redirect_stdout(buf):
        run_task(spark, name, **params)
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1])


def table_hash(spark, path: str) -> list[int]:
    """Order-insensitive content hash of a parquet table: row count and
    the sums of two independent 32-bit row hashes."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    df = spark.read.parquet(path)
    cols = [F.col(c) for c in sorted(df.columns)]
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)).alias("a"),
        F.sum(F.hash(*cols).cast("long").bitwiseAND(0xFFFFFFFF)).alias("b"),
    ).collect()[0]
    return [int(r["n"]), int(r["a"] or 0), int(r["b"] or 0)]


def lines_hash(path: str) -> list[int]:
    """Order-insensitive hash of a text file's lines (Spark does not fix
    the row order inside a CSV shard)."""
    n, acc = 0, 0
    with open(path, "rb") as fh:
        for line in fh:
            n += 1
            acc = (acc + zlib.crc32(line) * 2654435761 + zlib.adler32(line)) % (1 << 61)
    return [n, acc]


def _link_tree(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=os.link)


def _copy_tree(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        from open_bus_stride_etl_spark.plans.tasks import run_task  # noqa: PLC0415

        self.run_task = run_task
        self.reference_hash = None  # content hash of the first checked iteration

    def outputs(self) -> list[str]:
        raise NotImplementedError

    def check_hash(self, h) -> list[str]:
        if self.reference_hash is None:
            self.reference_hash = h
            return []
        return [] if h == self.reference_hash else ["content hash differs from the first iteration"]


class EnrichSweep(Workload):
    """The four hourly SIRI enrichment tasks in DAG order, then the daily
    hourly-package sweep, over a restored 10-day lake."""

    name = "enrich_sweep"
    TASKS = (
        "siri-add-ride-durations",
        "siri-update-rides-gtfs",
        "siri-update-ride-stops-gtfs",
        "siri-update-ride-stops-vehicle-locations",
    )

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        from open_bus_stride_etl_spark.plans import stride_tasks  # noqa: F401,PLC0415

        # the seed salts the lake size and picks the window day
        self.n_rides = max(2_000, int(ENRICH_RIDES * scale)) + seed % 1000
        # 0-based lake day the 1-day tasks cover; both choices put the whole
        # 4-day duration window inside the sweep's 5-day force horizon, so
        # every seed rewrites the same number of package hours
        self.window_day = 8 + seed % 2
        d = (EPOCH + datetime.timedelta(days=self.window_day + 1)).date()
        self.max_date = str(d)
        self.now_ts = f"{d} 12:00:00"
        self.lake0, self.lake = f"{work}/lake0", f"{work}/lake"
        self.pk0, self.pk = f"{work}/packages0", f"{work}/packages"
        self.expected = stride_expected(self.n_rides, self.window_day, SWEEP_MAX_HOURS)
        for key in ("updated", "skipped", "skipped_exists", "empty"):
            if self.expected["siri-hourly-update-packages"][key] == 0:
                raise SystemExit(f"{self.name}: seed {seed} plants no '{key}' hours")

    def setup(self, tracer) -> dict:
        import gen_stride_data  # noqa: PLC0415

        t0 = time.perf_counter()
        gen_stride_data.generate(self.spark, self.lake0, self.n_rides)
        t1 = time.perf_counter()
        # package directory built from the lake before enrichment
        m = run_task_captured(
            self.run_task, self.spark, tracer, "siri-hourly-update-packages",
            base_dir=self.lake0, out_dir=self.pk0, max_hours=SWEEP_MAX_HOURS,
        )
        exp = self.expected["setup"]
        got = {k: m.get(k) for k in exp}
        if got != exp:
            raise SystemExit(f"{self.name}: set-up sweep counters {got} != planted {exp}")
        return {"rides": self.n_rides, "window_day": self.max_date,
                "generate_s": t1 - t0, "package_build_s": time.perf_counter() - t1}

    def restore(self) -> None:
        # parquet tables are only ever replaced or appended, never
        # rewritten in place, so hard links are safe; the package writer
        # rewrites {hour}.csv and -metadata.json in place, so packages are
        # a real copy
        _link_tree(self.lake0, self.lake)
        _copy_tree(self.pk0, self.pk)

    def outputs(self) -> list[str]:
        return [self.lake, self.pk]

    def _enrich(self, tracer) -> dict:
        out = {}
        for name in self.TASKS:
            kw = {"now_ts": self.now_ts} if name == "siri-add-ride-durations" else {}
            out[name] = run_task_captured(
                self.run_task, self.spark, tracer, name,
                base_dir=self.lake, max_date=self.max_date, **kw,
            )
        return out

    def _counter_errors(self, counters: dict) -> list[str]:
        errs = []
        for task, got in counters.items():
            exp = self.expected[task]
            got = {k: got.get(k) for k in exp}
            if got != exp:
                errs.append(f"{task}: counters {got} != planted {exp}")
        return errs

    def warm_up(self, tracer) -> list[str]:
        """One untimed enrichment cycle. The sweep's code path is already
        warm from building the package directory at set-up, so a full
        iteration is not needed."""
        self.restore()
        return self._counter_errors(self._enrich(tracer))

    def run(self, tracer) -> dict:
        out = self._enrich(tracer)
        out["siri-hourly-update-packages"] = run_task_captured(
            self.run_task, self.spark, tracer, "siri-hourly-update-packages",
            base_dir=self.lake, out_dir=self.pk, max_hours=SWEEP_MAX_HOURS,
        )
        return out

    def check(self, counters: dict, changed_files: set[str]) -> list[str]:
        errs = self._counter_errors(counters)
        h = {
            t: table_hash(self.spark, f"{self.lake}/{t}.parquet")
            for t in ("siri_ride", "siri_ride_stop")
        }
        for f in sorted(os.listdir(self.pk)):
            p = os.path.join(self.pk, f)
            if f.endswith("-metadata.json"):
                with open(p, "rb") as fh:
                    h[f] = zlib.crc32(fh.read())
            elif f.endswith(".csv") and p in changed_files:
                h[f] = lines_hash(p)
        n_csv = sum(1 for f in h if f.endswith(".csv"))
        exp_written = self.expected["siri-hourly-update-packages"]["updated"]
        if n_csv != exp_written:
            errs.append(f"{n_csv} package CSVs rewritten, planted {exp_written}")
        return errs + self.check_hash(h)

    def layer_counts(self, counters: dict) -> dict:
        p = counters["siri-hourly-update-packages"]
        written = p["created"] + p["updated"]
        compared = written + p["skipped"]
        return {
            "package.hours_scanned": float(p["hours_scanned"]),
            "package.hours_written": float(written),
            "package.written_ratio": written / compared if compared else 0.0,
        }


def stride_expected(n: int, w: int, max_hours: int) -> dict:
    """Task counters planted by tools/gen_stride_data.generate for ``n``
    rides, 1-day window on lake day ``w`` (the 4-day duration window is
    days w-3..w) and a sweep over the newest ``max_hours`` hours.

    Generator classes: ride ``id`` starts on day id % 10 at hour
    5 + id % 16, minute (7 id) % 60; id % 3 == 0 rides are the duration
    todo set; id % 17 == 0 rides have no telemetry; telemetry rides have
    20 locations 2 minutes apart, the third with a NULL timestamp; every
    ride has a +30 s tier-1 GTFS ride and 5 stops whose codes exist in
    the GTFS stop dimension."""
    ids = np.arange(1, n + 1, dtype=np.int64)
    day = ids % 10
    todo = ids % 3 == 0
    tele = ids % 17 != 0
    dur_set = todo & tele & (day >= w - 3) & (day <= w)
    # rides-gtfs precondition: the duration marker is set (already
    # processed, or set by this cycle's duration task)
    eligible = (day == w) & ~(todo & ~tele)
    n_elig = int(eligible.sum())

    # hour of every timestamped location, and whether the flat export
    # row changes: its ride got a duration, or its stops got GTFS stops
    start = day * 1440 + (5 + ids % 16) * 60 + (ids * 7) % 60
    j = np.array([k for k in range(20) if k != 2])
    hours = (start[tele][:, None] + 2 * j[None, :]) // 60
    changed = (dur_set | eligible)[tele]
    data = set(np.unique(hours).tolist())
    changed_hours = set(np.unique(hours[changed]).tolist())
    hi, lo = max(data), min(data)
    scanned = [h for h in range(hi, lo - 1, -1)][:max_hours]
    cutoff = hi - 5 * 24  # force_days=5
    sweep = {"hours_scanned": len(scanned), "created": 0, "updated": 0,
             "skipped": 0, "skipped_exists": 0, "empty": 0}
    for h in scanned:
        if h not in data:
            sweep["empty"] += 1
        elif h < cutoff:
            sweep["skipped_exists"] += 1
        elif h in changed_hours:
            sweep["updated"] += 1
        else:
            sweep["skipped"] += 1
    in_data = sum(1 for h in scanned if h in data)
    return {
        "setup": {"hours_scanned": len(scanned), "created": in_data,
                  "empty": len(scanned) - in_data},
        "siri-add-ride-durations": {"rows": n, "updated_duration": int(dur_set.sum())},
        "siri-update-rides-gtfs": {"rows": n, "matched_gtfs_rides": n_elig},
        "siri-update-ride-stops-gtfs": {"rows": 5 * n, "matched_gtfs_stops": 5 * n_elig},
        "siri-update-ride-stops-vehicle-locations": {
            "rows": 5 * n,
            "matched_nearest_locations": 5 * int(((day == w) & tele).sum()),
        },
        "siri-hourly-update-packages": sweep,
    }


class CurateIncremental(Workload):
    """Incremental ``llm-curate-corpus`` (band index on): the history is
    built at set-up from the 90 % of the corpus outside the seed's batch,
    and every iteration admits the batch."""

    name = "curate_incremental"

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        from open_bus_stride_etl_spark.plans import llm_tasks  # noqa: F401,PLC0415

        # the seed salts the corpus size and picks the batch
        self.sf = max(0.02, CURATE_SF * scale) + (seed % 1000) / 1e6
        self.n_docs = int(50_000 * self.sf)
        self.corpus = f"{work}/corpus"  # {corpus}/documents.parquet
        self.h0, self.hist, self.out = f"{work}/history0", f"{work}/history", f"{work}/curated"

    def _in_batch(self):
        from pyspark.sql import functions as F  # noqa: PLC0415

        return F.pmod(F.xxhash64("doc_id", F.lit(self.seed)), F.lit(BATCH_MOD)) == 0

    def setup(self, tracer) -> dict:
        import gen_testdata  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        from open_bus_stride_etl_spark.operators import text as tx  # noqa: PLC0415
        from open_bus_stride_etl_spark.sources import parquet_stats  # noqa: PLC0415

        t0 = time.perf_counter()
        gen_testdata.generate(self.spark, self.corpus, self.sf, only={"documents"})
        docs = self.spark.read.parquet(f"{self.corpus}/documents.parquet")
        old = docs.where(~self._in_batch())
        # run 1 curates a 2 % slice of the old docs (seen fingerprints);
        # run 2 curates all old docs incrementally, which signs every old
        # doc into the band index once
        slice_ = F.pmod(F.xxhash64("doc_id", F.lit(self.seed + 1)), F.lit(50)) == 0
        old.where(slice_).write.parquet(f"{self.work}/stage1/documents.parquet")
        old.write.parquet(f"{self.work}/stage2/documents.parquet")
        t1 = time.perf_counter()
        for i in (1, 2):
            run_task_captured(
                self.run_task, self.spark, tracer, "llm-curate-corpus",
                base_dir=f"{self.work}/stage{i}", out_dir=f"{self.work}/stage{i}/out",
                history_dir=self.h0,
            )
        t2 = time.perf_counter()
        seen = self.spark.read.parquet(f"{self.h0}/seen_fingerprints.parquet")
        self.n_seen = seen.select("fingerprint").distinct().count()
        self.batch_ids = docs.where(self._in_batch()).select("doc_id")
        counts = (
            docs.select(tx.doc_fingerprint(F.col("text")).alias("fingerprint"),
                        self._in_batch().alias("batch"))
            .join(seen.distinct().withColumn("seen", F.lit(True)), on="fingerprint", how="left")
            .agg(F.count(F.when(F.col("batch"), 1)).alias("batch"),
                 F.count(F.when(F.col("seen").isNull(), 1)).alias("unseen"))
            .collect()[0]
        )
        self.n_batch, self.n_unseen = counts["batch"], counts["unseen"]
        index = f"{self.h0}/lsh_band_index.parquet"
        self.index_rows0 = parquet_stats.row_count(index)
        if self.index_rows0 is None:  # footers could not answer
            self.index_rows0 = self.spark.read.parquet(index).count()
        self.setup_split = {"generate_s": t1 - t0, "curate_runs_s": t2 - t1,
                            "counts_s": time.perf_counter() - t2}
        return {"docs": self.n_docs, "batch": self.n_batch, "seen": self.n_seen,
                **self.setup_split}

    def warm_up(self, tracer) -> list[str]:
        """Nothing: the two set-up curate runs already ran the scoring, LSH
        and band-index code this warm-up would run."""
        return []

    def restore(self) -> None:
        # seen_fingerprints and lsh_band_index are append-only parquet
        _link_tree(self.h0, self.hist)
        shutil.rmtree(self.out, ignore_errors=True)

    def outputs(self) -> list[str]:
        return [self.hist, self.out]

    def run(self, tracer) -> dict:
        return {"llm-curate-corpus": run_task_captured(
            self.run_task, self.spark, tracer, "llm-curate-corpus",
            base_dir=self.corpus, out_dir=self.out, history_dir=self.hist,
        )}

    def check(self, counters: dict, changed_files: set[str]) -> list[str]:
        c = counters["llm-curate-corpus"]
        errs = []
        exp = {"n_total": self.n_docs, "n_after_exact": c["n_quality_lang"],
               "n_seen_dropped": self.n_seen}
        got = {k: c[k] for k in exp}
        if got != exp:
            errs.append(f"counters {got} != planted {exp}")
        # vacuity: the branches this workload exists to exercise must fire
        for k in ("n_final", "n_near_dup_dropped"):
            if c[k] <= 0:
                errs.append(f"{k} is {c[k]}: the branch did not fire")
        h = {
            "curated": table_hash(self.spark, self.out),
            "seen": table_hash(self.spark, f"{self.hist}/seen_fingerprints.parquet"),
            "index": table_hash(self.spark, f"{self.hist}/lsh_band_index.parquet"),
        }
        if h["curated"][0] != c["n_final"]:
            errs.append("curated artifact row count != n_final")
        out = self.spark.read.parquet(self.out)
        if out.join(self.batch_ids, on="doc_id", how="left_anti").count():
            errs.append("a document outside the new batch was admitted")
        self.index_rows = h["index"][0]
        if self.index_rows - self.index_rows0 != 4 * self.n_batch:
            errs.append("band index did not grow by 4 bands per batch document")
        return errs + self.check_hash(h)

    def layer_counts(self, counters: dict) -> dict:
        c = counters["llm-curate-corpus"]
        return {
            "curate.n_unseen": float(self.n_unseen),
            "curate.n_final": float(c["n_final"]),
            "curate.band_index_rows": float(self.index_rows),
            "curate.admit_ratio": c["n_final"] / self.n_unseen if self.n_unseen else 0.0,
        }


WORKLOADS = {w.name: w for w in (EnrichSweep, CurateIncremental)}

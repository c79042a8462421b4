"""Spans and Spark metrics for the traced run.

Span boundaries, each nested in the one before: iteration -> task
(``run_task``) -> wrapped public ``sources.*`` call -> Spark job. Spans
live in memory; ``Tracer.dump`` writes them out when the run ends. Every
span sets its own Spark job group while it is open, so a job belongs to
the innermost span that was open when it was submitted.

After an iteration (outside its timed region) ``iteration_layers`` reads
the jobs of its spans from Spark's status tracker and status store, and
the plan-node metrics of their SQL executions from the SQL status store.

A span's self time is its duration minus the part of it covered by its
children: child spans, and the union of the intervals of its own jobs
(jobs of one span can overlap, e.g. a broadcast beside a scan, so their
union is used, not their sum). Self times of all spans plus the job
unions add up to the iteration's wall time; ``SUM_TOLERANCE`` is how far
the sum may stray before the iteration is reported as inconsistent.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# |sum of layer self times - wall| <= SUM_TOLERANCE * wall + 5 ms
SUM_TOLERANCE = 0.01

# Public sources.* functions whose calls become spans. Every module that
# bound one of them by name (``from ..sources.x import f``) is patched
# too, so calls through either name are seen. Patched in this process
# only; the library is not changed.
WRAPPED = {
    "open_bus_stride_etl_spark.sources.stride_lake": (
        "overwrite_table", "overwrite_table_observed",
    ),
    "open_bus_stride_etl_spark.sources.parquet_stats": ("nonnull_count", "row_count"),
    "open_bus_stride_etl_spark.sources.fs": ("exists", "rename", "delete"),
    "open_bus_stride_etl_spark.sources.csv_package": ("read_manifest", "build_manifest"),
}

PYTHON_NODES = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMap(Co)?GroupsIn(Pandas|Arrow)|AggregateInPandas|WindowInPandas|EvalPythonUDTF"
)


def _items(seq) -> list:
    """Python list of a Scala Seq reached through py4j."""
    return [seq.apply(i) for i in range(seq.size())]


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _set_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top["id"], top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"perfbench-{next(self._ids)}",
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "t0": time.time(),
        }
        self._stack.append(rec)
        self._set_group()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._set_group()
            self.spans.append(rec)

    def wrap_sources(self) -> None:
        """Replace each WRAPPED function, wherever it is bound, by a
        span-recording wrapper."""
        if not self.enabled:
            return
        for mod_name, names in WRAPPED.items():
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            for fname in names:
                orig = getattr(mod, fname)
                wrapper = self._wrapper(orig, f"sources.{mod_name.rsplit('.', 1)[-1]}.{fname}")
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("open_bus_stride_etl_spark") and (
                        getattr(m, fname, None) is orig
                    ):
                        self._patched.append((m, fname, orig))
                        setattr(m, fname, wrapper)

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def call(*a, **kw):
            with self.span(name, "sources"):
                return fn(*a, **kw)

        return call

    def unwrap_sources(self) -> None:
        for m, fname, orig in reversed(self._patched):
            setattr(m, fname, orig)
        self._patched.clear()

    # -- reading Spark's metrics ----------------------------------------
    def _jobs(self, group: str) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            out.append({
                "job": jid,
                "t0": sub.get().getTime() / 1000.0,
                "t1": done.get().getTime() / 1000.0,
                "stages": [int(x) for x in _items(jd.stageIds())],
            })
        return out

    def _stage_metrics(self, stage_ids: set[int]) -> tuple[dict, dict]:
        store = self.sc._jsc.sc().statusStore()
        agg: dict[str, float] = defaultdict(float)
        accs: dict[int, int] = defaultdict(int)
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                agg["stages_missing"] += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            agg["stages"] += 1
            agg["tasks"] += sd.numCompleteTasks()
            agg["run_ms"] += sd.executorRunTime()
            agg["cpu_ns"] += sd.executorCpuTime()
            agg["gc_ms"] += sd.jvmGcTime()
            agg["input_bytes"] += sd.inputBytes()
            agg["input_records"] += sd.inputRecords()
            agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            agg["shuffle_write_records"] += sd.shuffleWriteRecords()
            agg["shuffle_fetch_wait_ms"] += sd.shuffleFetchWaitTime()
            agg["spill_bytes"] += sd.diskBytesSpilled()
            for a in _items(sd.accumulatorUpdates()):
                try:
                    accs[int(a.id())] += int(a.value())
                except (TypeError, ValueError):
                    pass
        return agg, accs

    def _sql_metrics(self, job_ids: set[int], accs: dict[int, int]) -> list[tuple[str, str, str, float]]:
        """(node name, metric name, metric type, raw value) for every plan
        metric of the SQL executions that ran any of ``job_ids``. The raw
        value comes from the stage accumulators; metrics updated only on
        the driver (write commit times, file counts) are parsed from the
        store's formatted string."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in _items(store.executionsList()):
            if not any(int(j) in job_ids for j in _items(e.jobs().keys().toSeq())):
                continue
            eid = e.executionId()
            formatted = {int(t._1()): t._2() for t in _items(store.executionMetrics(eid).toSeq())}
            for node in _items(store.planGraph(eid).allNodes()):
                for m in _items(node.metrics()):
                    acc = int(m.accumulatorId())
                    if acc in accs:
                        val = float(accs[acc])
                    elif acc in formatted:
                        val = _parse_formatted(formatted[acc], m.metricType())
                    else:
                        continue
                    out.append((node.name(), m.name(), m.metricType(), val))
        return out

    def iteration_layers(self, it_span: dict, wall: float, cores: int) -> dict:
        """Per-layer metrics of one traced iteration (call after it ends).
        ``wall`` is the iteration time measured around the span by the
        caller, the figure the layer self times must add up to."""
        lo, hi = it_span["t0"], it_span["t1"]
        spans = [s for s in self.spans if s["t0"] >= lo and s["t1"] <= hi]
        kids: dict[str, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        jobs_by_span = {s["id"]: self._jobs(s["id"]) for s in spans}
        all_jobs = [j for js in jobs_by_span.values() for j in js]
        job_ids = {j["job"] for j in all_jobs}
        stage_ids = {st for j in all_jobs for st in j["stages"]}

        layer_self: dict[str, float] = defaultdict(float)
        per_name: dict[str, dict] = defaultdict(lambda: {"s": 0.0, "calls": 0, "self_s": 0.0})
        for s in spans:
            dur = s["t1"] - s["t0"]
            jobs_iv = [(j["t0"], j["t1"]) for j in jobs_by_span[s["id"]]]
            child_iv = [(c["t0"], c["t1"]) for c in kids[s["id"]]]
            jobs_own = _union(jobs_iv, s["t0"], s["t1"])
            covered = _union(child_iv + jobs_iv, s["t0"], s["t1"])
            self_s = dur - covered
            layer_self[s["layer"]] += self_s
            layer_self["spark"] += covered - _union(child_iv, s["t0"], s["t1"])
            rec = per_name[s["name"]]
            rec["s"] += dur
            rec["calls"] += 1
            rec["self_s"] += dur - jobs_own
        layer_sum = sum(layer_self.values())

        agg, accs = self._stage_metrics(stage_ids)
        sql = self._sql_metrics(job_ids, accs)

        def sql_sum(node_re: str, metric: str) -> float:
            return sum(v for node, name, _t, v in sql if re.search(node_re, node) and name == metric)

        def sql_max(node_re: str, metric: str) -> float:
            return max((v for node, name, _t, v in sql if re.search(node_re, node) and name == metric), default=0.0)

        out = {
            "driver.self_s": wall - _union([(j["t0"], j["t1"]) for j in all_jobs], lo, hi),
            "spark.jobs": float(len(job_ids)),
            "spark.stages": agg["stages"],
            "spark.tasks": agg["tasks"],
            "scan.files": sql_sum(r"Scan", "number of files read"),
            "scan.bytes": sql_sum(r"Scan", "size of files read"),
            "scan.rows": agg["input_records"],
            "scan.time_s": sql_sum(r"Scan", "scan time") / 1e3,
            "shuffle.bytes_written": agg["shuffle_write_bytes"],
            "shuffle.records": agg["shuffle_write_records"],
            "shuffle.fetch_wait_s": agg["shuffle_fetch_wait_ms"] / 1e3,
            "shuffle.read_partitions": sql_sum(r"AQEShuffleRead", "number of partitions"),
            "codegen.time_s": sql_sum(r"WholeStageCodegen", "duration") / 1e3,
            "agg.peak_mem_mb": sql_max(r"Aggregate|Sort", "peak memory") / 1e6,
            "spill.bytes": agg["spill_bytes"],
            "executor.cpu_s": agg["cpu_ns"] / 1e9,
            "executor.gc_s": agg["gc_ms"] / 1e3,
            "executor.busy_ratio": agg["run_ms"] / 1e3 / (wall * cores),
            "python.time_s": sum(
                v / (1e9 if t == "nsTiming" else 1e3)
                for node, _n, t, v in sql
                if PYTHON_NODES.search(node) and t in ("timing", "nsTiming")
            ),
            "python.rows": sum(
                v for node, name, _t, v in sql
                if PYTHON_NODES.search(node) and name == "number of output rows"
            ),
            "write.files": sql_sum(r"Insert|Write", "number of written files"),
            "write.bytes": sql_sum(r"Insert|Write", "written output"),
            "write.task_commit_s": sql_sum(r"Insert|Write", "task commit time") / 1e3,
            "write.job_commit_s": sql_sum(r"Insert|Write", "job commit time") / 1e3,
            "self.iteration.s": layer_self["iteration"],
            "self.plans.tasks.s": layer_self["plans.tasks"],
            "self.sources.s": layer_self["sources"],
            "self.spark.s": layer_self["spark"],
            "trace.sum_error_s": layer_sum - wall,
        }
        for name, rec in per_name.items():
            if name.startswith("task."):
                out[f"{name}.s"] = out.get(f"{name}.s", 0.0) + rec["s"]
            elif name.startswith("sources."):
                out[f"{name}.s"] = rec["s"]
                out[f"{name}.calls"] = float(rec["calls"])
                out[f"{name}.self_s"] = rec["self_s"]
        owo = per_name.get("sources.stride_lake.overwrite_table_observed")
        out["sources.stride_lake.swap_s"] = owo["self_s"] if owo else 0.0
        out["_sum_ok"] = abs(layer_sum - wall) <= SUM_TOLERANCE * wall + 0.005
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1e3, "m": 60e3, "h": 3600e3,
}


def _parse_formatted(s: str, metric_type: str) -> float:
    """Raw value (bytes, ms, ns or count) from SQLMetrics.stringValue.
    Size and timing metrics print 'total (min, med, max ...)\\n<total> (...)'
    with the total rounded to one decimal; sums print a grouped integer."""
    line = s.split("\n")[-1].split(" (")[0].strip()
    if metric_type in ("sum", "average"):
        try:
            return float(line.replace(",", ""))
        except ValueError:
            return 0.0
    m = re.match(r"([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)
    return val * 1e6 if metric_type == "nsTiming" else val

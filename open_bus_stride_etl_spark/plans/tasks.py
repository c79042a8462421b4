"""Task registry + runner: the engine's analog of the reference's
Airflow-YAML DAG declarations (SURVEY.md §3.2).

Reference: airflow.yaml lists dags.yaml files whose tasks are "invoke
this module function with these kwargs" (siri/dags.yaml:12-19); the
external pipelines repo renders them. Here: a plain registry mapping
task name -> (callable, cadence, default date window), runnable by any
scheduler through ``run_task``; every other parameter default lives in
the task function's signature. Each task returns a metrics dict (the
reference's defaultdict counters, printed as JSON — SURVEY.md §2.4 A8).
"""

from __future__ import annotations

import inspect
import json
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..functions.timeutil import parse_window
from ..operators.util import release_cached
from ..session import configure


@dataclass
class Task:
    name: str
    fn: Callable[..., dict]
    cadence: str = "hourly"  # metadata only; any scheduler can call run_task
    num_days: int | None = None  # default date window; None: no window

    @property
    def defaults(self) -> dict:
        """The window default plus every defaulted signature parameter."""
        out = {} if self.num_days is None else {"num_days": self.num_days}
        for p in inspect.signature(self.fn).parameters.values():
            if p.default is not inspect.Parameter.empty:
                out[p.name] = p.default
        return out


REGISTRY: dict[str, Task] = {}


def tasks() -> dict[str, Task]:
    """Every registered task. Imports the task modules first: they
    register through ``@task`` and import this module, hence deferred."""
    from . import llm_tasks, stride_tasks  # noqa: F401, PLC0415

    return REGISTRY


def task(name: str, cadence: str = "hourly", num_days: int | None = None):
    def deco(fn):
        REGISTRY[name] = Task(name=name, fn=fn, cadence=cadence, num_days=num_days)
        return fn

    return deco


def run_task(spark: SparkSession, name: str, **params) -> dict:
    """Run one registered task; resolve the date window exactly like the
    reference CLI (common.py:37-55 incl. the 'None' literal quirk) and
    emit a metrics JSON line. The session gets the runtime confs
    (``session.configure``) first, so a task reads and writes the same
    way under any session: UTC, INT64 timestamps with footer statistics,
    nanosecond parquet readable."""
    t = tasks()[name]
    configure(spark)
    merged = dict(params)
    if t.num_days is not None:
        merged.setdefault("num_days", t.num_days)
    if "num_days" in merged or "min_date" in merged or "max_date" in merged:
        min_d, max_d = parse_window(
            merged.pop("min_date", None),
            merged.pop("max_date", None),
            merged.pop("num_days", None),
        )
        merged["min_date"] = str(min_d)
        merged["max_date"] = str(max_d)
    t0 = time.time()
    try:
        metrics = t.fn(spark, **merged) or {}
        # Task boundary = cache-scope boundary: reclaim any
        # operator-internal persists (operators/util.py:release_cached)
        # so a scheduler running many tasks in one session doesn't
        # accumulate dead cache in executor storage memory.
        release_cached()
    except Exception as exc:
        release_cached()
        # error capture in the run report (the reference's ledger error
        # column, idempotent_process_gtfs_data.py:60-66) — record, then
        # propagate so the scheduler sees the failure.
        err = {
            "task": name,
            "elapsed_sec": round(time.time() - t0, 3),
            "error": f"{type(exc).__name__}: {exc}",
        }
        print(json.dumps(err, default=str))
        raise
    metrics = {"task": name, "elapsed_sec": round(time.time() - t0, 3), **metrics}
    print(json.dumps(metrics, default=str))
    return metrics

"""CLI entry point: ``python -m open_bus_stride_etl_spark``.

The engine analog of the reference's click CLI
(/root/reference/open_bus_stride_etl/cli.py:13-28 registers task groups;
each Airflow DAG task is "invoke this function with these kwargs" —
siri/dags.yaml:12-19). Any scheduler can drive these commands.

  python -m open_bus_stride_etl_spark list
  python -m open_bus_stride_etl_spark run siri-add-ride-durations \
      --base-dir /data/stride -p num_days=4
"""

from __future__ import annotations

import argparse
import sys


def _parse_param(kv: str):
    k, _, v = kv.partition("=")
    for cast in (int, float):
        try:
            return k, cast(v)
        except ValueError:
            pass
    if v in ("true", "false"):
        return k, v == "true"
    return k, v


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="open_bus_stride_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered tasks")
    runp = sub.add_parser("run", help="run one task")
    runp.add_argument("task")
    runp.add_argument("--base-dir", required=True, help="stride lake directory")
    runp.add_argument(
        "-p", "--param", action="append", default=[], help="task param as key=value"
    )
    args = p.parse_args(argv)

    # deferred so `--help` stays JVM-free
    from .plans.tasks import run_task, tasks

    if args.cmd == "list":
        for t in sorted(tasks().values(), key=lambda t: t.name):
            print(f"{t.name:45s} [{t.cadence}] defaults={t.defaults}")
        return 0

    from .session import build_session

    spark = build_session(f"stride-task-{args.task}")
    params = dict(_parse_param(kv) for kv in args.param)
    run_task(spark, args.task, base_dir=args.base_dir, **params)
    return 0


if __name__ == "__main__":
    sys.exit(main())

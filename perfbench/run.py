"""Task-chain benchmark of the stride ETL and LLM curation tasks.

    python3 perfbench/run.py --workload enrich_sweep --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. One process, one
client, a ``local[<cores>]`` Spark session: each iteration starts when
the previous one ends, as a scheduler runs these tasks. Inputs are
generated from ``--seed`` and restored byte-identical before every
iteration; after set-up and an untimed warm-up, iterations are timed for
``--seconds`` (at least MIN_TIMED of them).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced iterations and prints the per-layer metrics of the
traced ones plus the tracing overhead. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The exit
code is 1 if any iteration fails its correctness check, 2 if the
repository is not beside the benchmark. README.md describes the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# After the workload's warm-up, iterations are timed until --seconds have
# passed, at least MIN_TIMED of them. The benchmark's whole schedule of
# runs must fit in under an hour, which leaves about a minute per run
# including the Spark session start and set-up; README.md has the
# arithmetic.
MIN_TIMED = 1
DEADLINE_S = 120  # start no timed iteration past this: a run must end within 180 s



def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp, local = f"{work}/tmp", f"{work}/spark-local"
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # pyspark splits this variable with shlex
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell",
    ])
    import tempfile  # noqa: PLC0415

    tempfile.tempdir = tmp


def snapshot(dirs: list[str]) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d in dirs:
        for base, _dirs, files in os.walk(d):
            for f in files:
                p = os.path.join(base, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def stored_bytes(snap: dict) -> int:
    return sum(size for _ino, size, _m in {v[0]: v for v in snap.values()}.values())


def stop_spark(spark, proc) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and the Python workers it started have exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(proc.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test runs tiny inputs)")
    ap.add_argument("--corrupt-expected-hash", action="store_true",
                    help="self-test only: perturb the reference content hash")
    args = ap.parse_args(argv)
    started = time.perf_counter()
    # on SIGTERM, unwind through the finally below: stop Spark, remove inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isdir(f"{ROOT}/open_bus_stride_etl_spark")
            and os.path.isfile(f"{ROOT}/tools/gen_stride_data.py")):
        log(f"the repository is not beside the benchmark ({ROOT}); nothing to measure")
        return 2
    sys.path[:0] = [ROOT, f"{ROOT}/tools"]
    import proc  # noqa: PLC0415
    import workloads  # noqa: PLC0415

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
        return 2

    work = f"{ROOT}/.perfbench_work/{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = f"{ROOT}/.perfbench_out"
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work)
    n_cores = cores()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": n_cores, "box_speed_s": {"before": proc.box_speed(n_cores)}}

    spark = None
    try:
        t_setup = time.perf_counter()
        from open_bus_stride_etl_spark.session import build_session  # noqa: PLC0415

        spark = build_session(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        record["session_start_s"] = time.perf_counter() - t_setup
        import spans  # noqa: PLC0415

        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        record["inputs"] = wl.setup(tracer)
        record["setup_runs_s"] = time.perf_counter() - t_setup - record["session_start_s"]

        def iteration(traced: bool) -> dict:
            wl.restore()
            before = snapshot(wl.outputs())
            tracer.enabled = traced
            if traced:
                tracer.wrap_sources()
            cpu0, steal0 = proc.tree_cpu_s(), proc.steal_s()
            with proc.PeakRss() as rss:
                t0 = time.perf_counter()
                with tracer.span("iteration", "iteration") as span:
                    counters = wl.run(tracer)
                wall = time.perf_counter() - t0
            cpu, steal = proc.tree_cpu_s() - cpu0, proc.steal_s() - steal0
            tracer.unwrap_sources()
            tracer.enabled = False
            after = snapshot(wl.outputs())
            changed = {p for p, v in after.items() if before.get(p) != v}
            errs = wl.check(counters, changed)
            res = {
                "wall": wall, "cpu": cpu, "steal": steal, "rss": rss.peak,
                "errors": errs, "traced": traced,
                "written": sum(after[p][1] for p in changed), "stored": stored_bytes(after),
            }
            if traced:
                t_collect = time.perf_counter()
                layers = tracer.iteration_layers(span, wall, n_cores)
                res["collect_s"] = time.perf_counter() - t_collect
                if not layers.pop("_sum_ok"):
                    errs.append(f"layer self times miss the wall time by {layers['trace.sum_error_s']:.4f} s")
                layers.update(wl.layer_counts(counters))
                layers["process.peak_rss_mb"] = rss.peak / 1e6
                res["layers"] = layers
            return res

        t_warm = time.perf_counter()
        warm_errors = wl.warm_up(tracer)
        if args.trace:
            # one more untimed full iteration, so the traced/untraced pair
            # that measures the tracing overhead is taken on the flat part
            # of the warm-up curve, not across it
            warm_errors += iteration(traced=False)["errors"]
        record["warmup_s"] = time.perf_counter() - t_warm
        if warm_errors:
            log(f"warm-up FAILED: {warm_errors}")
        setup_s = time.perf_counter() - t_setup
        if args.corrupt_expected_hash:
            wl.reference_hash = {"corrupted": True}

        results: list[dict] = []
        t_meas = time.perf_counter()
        # a traced run alternates traced and untraced iterations, so the
        # tracing overhead is measured in the same warm process
        min_timed = 2 if args.trace else MIN_TIMED
        while len(results) < min_timed or time.perf_counter() - t_meas < args.seconds:
            if results and time.perf_counter() - started > DEADLINE_S:
                break
            results.append(iteration(traced=bool(args.trace) and len(results) % 2 == 0))
            if results[-1]["errors"]:
                log(f"iteration {len(results)} FAILED: {results[-1]['errors']}")
        record["box_speed_s"]["after"] = proc.box_speed(n_cores)
    finally:
        if spark is not None:
            stop_spark(spark, proc)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in results if r["errors"])
    untraced = [r for r in results if not r["traced"]]
    traced = [r for r in results if r["traced"]]
    if args.trace:
        measured = {k: median([r["layers"].get(k, 0.0) for r in traced])
                    for k in sorted({k for r in traced for k in r["layers"]})}
        measured["trace.overhead_s"] = (
            median([r["wall"] for r in traced]) - median([r["wall"] for r in untraced])
            if untraced else 0.0
        )
    else:
        measured = {
            "cycle_s": median([r["wall"] for r in results]),
            "cycle_cpu_s": median([r["cpu"] for r in results]),
            "setup_s": setup_s,
            "written_mb": median([r["written"] for r in results]) / 1e6,
            "stored_mb": median([r["stored"] for r in results]) / 1e6,
        }
    record.update({
        "samples": len(results),
        "metrics": measured,
        "iterations": results,
        "elapsed_s": time.perf_counter() - started,
    })
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(f"{out_dir}/{tag}.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(f"{out_dir}/{tag}-spans.json")
    log(f"{tag}: {len(results)} timed iterations, {failed} failed, "
        f"box speed {record['box_speed_s']}, elapsed {record['elapsed_s']:.1f} s")

    # Metric names and units are those BENCHMARK.json declares. A per-layer
    # metric a workload does not exercise (the packager on the curate
    # workload) reads 0.
    with open(f"{ROOT}/BENCHMARK.json") as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    ok = failed == 0 and not warm_errors
    print(json.dumps({
        "correct": ok,
        "attempted": len(results),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]} for m in declared
        },
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

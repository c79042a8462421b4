"""Interleaved paired A/B measurement harness — the protocol for
performance claims on this box, which sees multi-minute EXTERNAL load
spikes (load avg >10 with zero local processes; see CLAUDE.md). A
sequential A...A B...B comparison straddling one spike is garbage; an
interleaved A B A B ... design cancels slow drift because each pair
shares its neighborhood's load, and the PAIRED deltas (not the means)
are the statistic.

Usage:
    python tools/ab_probe.py QUERY_A QUERY_B [rounds] [sf_dir]
        # paired per-round deltas of two registered queries
    AB_CONF="spark.sql.shuffle.partitions=64" python tools/ab_probe.py QUERY QUERY [rounds]
        # same query, variant B runs under the given session conf(s) —
        # a config A/B (conf restored between runs)
    python tools/ab_probe.py --commits A B WORKLOAD SEED [pairs] [seconds] [trace]
        # perfbench/run.py from two checkouts (a directory, or a git
        # revision exported into a temporary directory), in interleaved
        # pairs that alternate which side runs first (defaults: 10 pairs,
        # 5 s, trace 0); per metric it prints each side's median and
        # quartiles, B's win count, and whether B's gain passes the
        # rule: wins in >= 9/10 of all pairs run (a failed run is no
        # win), medians further apart than A's interquartile range

Each round times one bench.py ``run_query`` of A, then of B (noop-write
forcing, operator caches released after every run), prints the pair,
and at the end reports median paired delta and the sign counts — if the
deltas don't agree in sign across most rounds, the difference is inside
this box's noise and should be reported as such.

This is the harness the r5 BLAS-thread-pinning decision used (killed:
2-4% paired delta, structurally capped by the MAX_THREADS=2 OpenBLAS
build) — kept as a tool so future keep-or-kill perf calls follow the
same protocol instead of eyeballing two bench runs.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def checkout(rev: str, tmp: str) -> str:
    """A checkout directory as given, or ``rev`` exported from this
    repository's git history into ``tmp``."""
    if os.path.isdir(rev):
        return os.path.abspath(rev)
    dst = os.path.join(tmp, rev.replace("/", "_"))
    os.makedirs(dst)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    archive = subprocess.run(["git", "-C", repo, "archive", rev], check=True, capture_output=True)
    subprocess.run(["tar", "-x", "-C", dst], input=archive.stdout, check=True)
    return dst


def perfbench(root: str, workload: str, seed: str, seconds: str, trace: str) -> dict:
    """One perfbench run in ``root``; its metric values, or {} if it failed."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", seed,
         "--seconds", seconds, "--trace", trace],
        cwd=root, capture_output=True, text=True,
    )
    lines = res.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    if not out.get("correct"):
        print(f"  FAILED in {root}: {res.stderr.strip().splitlines()[-3:]}", flush=True)
        return {}
    return {k: v["value"] for k, v in out["metrics"].items()}


def commit_pairs(a: str, b: str, workload: str, seed: str, pairs: int = 10,
                 seconds: str = "5", trace: str = "0") -> None:
    with tempfile.TemporaryDirectory(prefix="ab_probe_") as tmp:
        roots = {"A": checkout(a, tmp), "B": checkout(b, tmp)}
        with open(os.path.join(roots["A"], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
        runs = {"A": [], "B": []}
        for i in range(pairs):
            for side in ("AB" if i % 2 == 0 else "BA"):
                runs[side].append(perfbench(roots[side], workload, seed, seconds, trace))
            for side in "AB":
                print(f"pair {i + 1} {side}: " + " ".join(
                    f"{m}={v:.4g}" for m, v in runs[side][-1].items()), flush=True)
        ok = [(ra, rb) for ra, rb in zip(runs["A"], runs["B"]) if ra and rb]
        print(f"{workload} seed {seed}: {len(ok)}/{pairs} pairs complete; "
              "metric: A median [q1, q3] | B median [q1, q3] | B wins | gain")
        for m in ok[0][0] if ok else {}:
            xa, xb = [ra[m] for ra, _ in ok], [rb[m] for _, rb in ok]
            qa, qb = (statistics.quantiles(x, n=4) if len(x) > 1 else [x[0]] * 3 for x in (xa, xb))
            sign = -1 if better.get(m, "lower") == "lower" else 1
            wins = sum(1 for va, vb in zip(xa, xb) if sign * (vb - va) > 0)
            gain = wins >= 0.9 * pairs and sign * (qb[1] - qa[1]) > qa[2] - qa[0]
            print(f"  {m}: {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] | "
                  f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] | {wins}/{len(ok)} | "
                  f"{'yes' if gain else 'no'}")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--commits":
        if len(sys.argv) < 6:
            raise SystemExit(__doc__)
        a, b, workload, seed, *rest = sys.argv[2:]
        return commit_pairs(a, b, workload, seed, int(rest[0]) if rest else 10, *rest[1:])
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    qa, qb = sys.argv[1], sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    confs = [
        kv.split("=", 1)
        for kv in os.environ.get("AB_CONF", "").split(",")
        if "=" in kv
    ]

    from open_bus_stride_etl_spark.session import build_session

    import __spark_entry__ as entry

    spark = build_session("ab-probe")
    qs = entry.queries()
    for name in (qa, qb):
        if name not in qs:
            raise SystemExit(f"unknown query: {name}")

    def timed(name: str, with_conf: bool) -> float:
        saved = {}
        if with_conf:
            for k, v in confs:
                saved[k] = spark.conf.get(k, None)
                spark.conf.set(k, v)
        try:
            return bench.run_query(spark, qs[name], sf_dir)
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    # warm both variants once (codegen/JIT, file cache)
    timed(qa, False)
    timed(qb, bool(confs))
    deltas = []
    for i in range(rounds):
        ta = timed(qa, False)
        tb = timed(qb, bool(confs))
        deltas.append(tb - ta)
        print(f"round {i + 1}: A={ta:.3f}s B={tb:.3f}s delta={tb - ta:+.3f}s", flush=True)
    med = statistics.median(deltas)
    pos = sum(1 for d in deltas if d > 0)
    print(
        f"median paired delta (B - A): {med:+.3f}s; "
        f"B slower in {pos}/{rounds} rounds"
        + ("" if pos in (0, rounds) else "  [mixed signs: treat as noise]")
    )


if __name__ == "__main__":
    main()

"""Box-speed reading: ``workers`` processes each run the same fixed
pure-Python work unit at once; prints the wall seconds until the last one
finishes.

    python3 perfbench/boxspeed.py 4

Sized from the core count, not from a fixed thread count: one worker per
core. On an idle 4-core box one reading takes about 0.15 s (see
README.md for the recorded idle readings). A higher reading means
another tenant is taking CPU; the benchmark records it beside the run as
context and never divides a metric by it.
"""

from __future__ import annotations

import multiprocessing as mp
import sys
import time

UNIT = 1_000_000


def _work(_: int) -> int:
    acc = 0
    for i in range(UNIT):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return acc


def main() -> None:
    workers = int(sys.argv[1])
    ctx = mp.get_context("spawn")
    with ctx.Pool(workers) as pool:
        pool.map(_work, range(workers))  # start-up, not timed
        t0 = time.perf_counter()
        pool.map(_work, range(workers), chunksize=1)
        took = time.perf_counter() - t0
    print(f"{took:.4f}")


if __name__ == "__main__":
    main()

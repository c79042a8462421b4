"""Time every registered query at multiple scale factors and write a
scaling table (SCALE.md) — the per-operator evidence for "does this
plan survive a 100x scale-up?".

Usage:
    python tools/scale_probe.py [out_md] [sf_dir ...]
    SCALE_QUERIES=a,b,c python tools/scale_probe.py   # re-measure subset

Defaults: /root/testdata/sf0.1 (driver bench scale), /tmp/sf1, /tmp/sf10
(generated with tools/gen_testdata.py). Each query is run once to warm
(file cache + codegen), then timed with bench.py's ``time_query`` — the
same timer and noop-write forcing as the bench sweep.

Only the table (from its ``| query |`` header line to the end of the
file) is rewritten; the prose above it is kept byte for byte.

SCALE_QUERIES: this box sees multi-minute EXTERNAL load spikes (load
avg >10 with zero local processes — see CLAUDE.md), and a full 3-SF
sweep takes ~25 min, long enough to straddle one. The subset mode
re-measures only the named queries (check `uptime` is idle first) and
merges their rows into the existing table, so one noisy spike doesn't
force rerunning all 79 x 3 measurements. The merged table keeps every
column of the old one (labels read from its header) plus any new sf
dir's column, ordered by scale factor.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

DEFAULT_DIRS = ["/root/testdata/sf0.1", "/tmp/sf1", "/tmp/sf10"]


def _parse_table(table: str) -> tuple[list[str], dict[str, dict[str, float | str]]]:
    """Parse a previously-written table (the text after ``| query |``)
    back into its column labels, read from its header, and the results
    shape, so a subset re-measure keeps every other row and column."""
    lines = table.strip("\n").splitlines()
    if not lines:
        return [], {}
    labels = [c.strip() for c in lines[0].strip().strip("|").split("|")][:-1]  # drop the ratio
    out: dict[str, dict[str, float | str]] = {}
    for line in lines[2:]:
        if not line.startswith("|"):
            continue
        name, *cells = [c.strip() for c in line.strip().strip("|").split("|")]
        row: dict[str, float | str] = {}
        for lbl, cell in zip(labels, cells):
            try:
                row[lbl] = float(cell)
            except ValueError:
                if cell != "—":
                    row[lbl] = cell
        out[name] = row
    return labels, out


def _by_scale(label: str) -> float:
    """Column order: ``sf<x>`` labels by scale factor, any other last."""
    m = re.fullmatch(r"sf([\d.]+)", label)
    return float(m.group(1)) if m else float("inf")


def render(prose: str, labels: list[str], results: dict[str, dict[str, float | str]]) -> str:
    """SCALE.md: ``prose`` kept as is, then the table, with the cost ratio
    of the last column over the first."""
    out = [
        prose + "| query | " + " | ".join(labels) + " | x100 cost |\n",
        "|---|" + "---|" * (len(labels) + 1) + "\n",
    ]
    for name in sorted(results):
        row = results[name]
        cells = [str(row.get(lbl, "—")) for lbl in labels]
        ratio = "—"
        first, last = row.get(labels[0]), row.get(labels[-1])
        if isinstance(first, float) and isinstance(last, float) and first > 0:
            ratio = f"{last / first:.1f}x"
        out.append(f"| {name} | " + " | ".join(cells) + f" | {ratio} |\n")
    return "".join(out)


def main() -> None:
    out_md = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md"
    )
    sf_dirs = sys.argv[2:] or [d for d in DEFAULT_DIRS if os.path.isdir(d)]
    labels = measured = [os.path.basename(d.rstrip("/")) for d in sf_dirs]
    text = ""
    if os.path.exists(out_md):
        with open(out_md) as f:
            text = f.read()
    prose, header, table = text.partition("\n| query |")
    prose += "\n" if header else ""

    from open_bus_stride_etl_spark.session import build_session

    import __spark_entry__ as entry

    spark = build_session("scale-probe")
    qs = entry.queries()
    only = {n.strip() for n in os.environ.get("SCALE_QUERIES", "").split(",") if n.strip()}
    if only:
        unknown = only - set(qs)
        if unknown:
            raise SystemExit(f"SCALE_QUERIES not in the registry: {sorted(unknown)}")
        old_labels, existing = _parse_table(table)
        labels = sorted(dict.fromkeys(old_labels + measured), key=_by_scale)
        qs = {n: f for n, f in qs.items() if n in only}
        results: dict[str, dict[str, float | str]] = {
            **existing, **{n: existing.get(n, {}) for n in qs}
        }
    else:
        results = {n: {} for n in qs}
    for sf_dir, label in zip(sf_dirs, measured):
        for name, fn in qs.items():
            try:
                bench.run_query(spark, fn, sf_dir)  # warm
                results[name][label] = round(bench.time_query(spark, fn, sf_dir), 2)
            except Exception as exc:  # noqa: BLE001
                results[name][label] = f"ERR:{str(exc)[:40]}"
            print(name, label, results[name][label], flush=True)

    with open(out_md, "w") as f:
        f.write(render(prose, labels, results))
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()

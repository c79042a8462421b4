"""Time every registered query at multiple scale factors and write a
scaling table (SCALE.md) — the per-operator evidence for "does this
plan survive a 100x scale-up?".

Usage:
    python tools/scale_probe.py [out_md] [sf_dir ...]
    SCALE_QUERIES=a,b,c python tools/scale_probe.py   # re-measure subset

Defaults: /root/testdata/sf0.1 (driver bench scale), /tmp/sf1, /tmp/sf10
(generated with tools/gen_testdata.py). Each query is run once to warm
(file cache + codegen) and the minimum of two timed runs is recorded —
the same steady-state convention as bench.py.

SCALE_QUERIES: this box sees multi-minute EXTERNAL load spikes (load
avg >10 with zero local processes — see CLAUDE.md), and a full 3-SF
sweep takes ~25 min, long enough to straddle one. The subset mode
re-measures only the named queries (check `uptime` is idle first) and
merges their rows into the existing table, so one noisy spike doesn't
force rerunning all 79 x 3 measurements.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_DIRS = ["/root/testdata/sf0.1", "/tmp/sf1", "/tmp/sf10"]


def _load_existing(out_md: str, labels: list[str]) -> dict[str, dict[str, float | str]]:
    """Parse a previously-written table back into the results shape so a
    subset re-measure keeps every other row."""
    out: dict[str, dict[str, float | str]] = {}
    if not os.path.exists(out_md):
        return out
    pat = re.compile(r"^\| (\w+) \| " + " \\| ".join("([^|]+)" for _ in labels) + r" \|")
    for line in open(out_md):
        m = pat.match(line)
        if not m or m.group(1) == "query":
            continue
        row: dict[str, float | str] = {}
        for lbl, cell in zip(labels, m.groups()[1:]):
            cell = cell.strip()
            try:
                row[lbl] = float(cell)
            except ValueError:
                if cell != "—":
                    row[lbl] = cell
        out[m.group(1)] = row
    return out


def main() -> None:
    out_md = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md"
    )
    sf_dirs = sys.argv[2:] or [d for d in DEFAULT_DIRS if os.path.isdir(d)]

    from open_bus_stride_etl_spark.session import build_session

    import __spark_entry__ as entry

    spark = build_session("scale-probe")
    qs = entry.queries()
    only = {n.strip() for n in os.environ.get("SCALE_QUERIES", "").split(",") if n.strip()}
    if only:
        unknown = only - set(qs)
        if unknown:
            raise SystemExit(f"SCALE_QUERIES not in the registry: {sorted(unknown)}")
        existing = _load_existing(out_md, [os.path.basename(d.rstrip("/")) for d in sf_dirs])
        qs = {n: f for n, f in qs.items() if n in only}
        results: dict[str, dict[str, float | str]] = {
            **existing, **{n: existing.get(n, {}) for n in qs}
        }
    else:
        results = {n: {} for n in qs}
    for sf_dir in sf_dirs:
        label = os.path.basename(sf_dir.rstrip("/"))
        for name, fn in qs.items():
            try:
                fn(spark, sf_dir).count()  # warm
                ts = []
                for _ in range(2):
                    t0 = time.time()
                    fn(spark, sf_dir).count()
                    ts.append(time.time() - t0)
                results[name][label] = round(min(ts), 2)
            except Exception as exc:  # noqa: BLE001
                results[name][label] = f"ERR:{str(exc)[:40]}"
            print(name, label, results[name][label], flush=True)

    labels = [os.path.basename(d.rstrip("/")) for d in sf_dirs]
    with open(out_md, "w") as f:
        f.write(
            "# SCALE — measured per-query seconds across scale factors\n\n"
            f"`python tools/scale_probe.py` on local[32]; min of 2 warm runs.\n"
            "Scale factors: sf0.1 = the driver's bench data; sf1/sf10 are\n"
            "generated by tools/gen_testdata.py (10x / 100x the bench rows:\n"
            "sf10 = 52M lineitem, 10M events, 500k documents, 200k\n"
            "embeddings). The last column is the measured cost ratio over\n"
            "the 100x data ratio — <<100 means sublinear scaling; the\n"
            "quadratic-by-contract baselines (brute-force cosine, all-pairs\n"
            "n-gram Jaccard) are expected to exceed it on corpus-pair terms,\n"
            "as is semdedup_pairs: its registered query FIXES k=32 clusters\n"
            "so the unrolled oracle stays tractable, which makes per-cluster\n"
            "pair counts grow quadratically with the corpus — production\n"
            "scales k with corpus size (the documented knob in\n"
            "operators/similarity.py:clustered_near_dup_pairs), restoring\n"
            "bounded occupancy exactly like raising LSH bits.\n"
            "\n"
            "See also SCALE30.md: 300x (19 queries) and 1000x (12 queries) stress\n"
            "probes, regenerated r7 — sublinear everywhere except the quantified\n"
            "32-bit simhash banding row; notes and the width A/B resolution inside.\n"
            "\n"
            "mid-r7 note: the dedup_simhash60 + dedup_simhash_hamming rows\n"
            "were re-measured under strict FAST/FAST canary brackets\n"
            "(4.28/4.33 s) when a clean window opened after ~4 h of\n"
            "contention (an earlier waived-threshold pass had them ~15%\n"
            "higher — brackets for both passes in the measurement logs).\n"
            "At the registered SFs both configs do the same\n"
            "occupancy-bounded work; the 60-bit win appears at >= 1M docs\n"
            "(SCALE30.md's 1000x notes: 110x fewer candidates at 5M docs).\n"
            "\n"
            "r9 probe notes (new-query rows measured under HEAVY contention\n"
            "— brackets 22.08 pre / 6.89 post, up to ~5x deficit; upper\n"
            "bounds):\n"
            "- ingest_replay_idempotence STAGING/TASK SPLIT (VERDICT r8 ask\n"
            "  #4, tools/probe_ingest_split.py, brackets 8.0/8.8): sf10 =\n"
            "  7.5 s staging + 30.3 s task; sf100 = 28.4 + 189.7 (same\n"
            "  session/window). The coalesce(1) staging writes are HARNESS\n"
            "  cost (the batch==file determinism contract) — 13-20% of the\n"
            "  probe, linear by construction (single-task write); read the\n"
            "  row below as task + harness.\n"
            "- foreachBatch width rule REFINED (r9 audit of BENCHNOTES r8\n"
            "  #1): the gate is ROW GROUPS per staged file, not files per\n"
            "  trigger — a micro-batch scan byte-splits to\n"
            "  defaultParallelism partitions, but parquet parallelism is\n"
            "  row-group-bound, so a coalesce(1) ~128MB-group file = ~1\n"
            "  working task (llm_tasks._admit's measured case, fix kept)\n"
            "  while small-row-group sources already spread\n"
            "  (streaming_dedup_lsh: 32 working partitions measured; a\n"
            "  respread A/B at sf30 was sign-mixed noise -> reverted; the\n"
            "  upsert sink's first operator is the key-window shuffle ->\n"
            "  nothing above it).\n"
            "- curate_incremental_noop 3.2x: TWO full real-task runs per\n"
            "  measurement (score -> LSH dedup -> write, then the\n"
            "  all-dropped-as-seen second run); inherits corpus_clean_keep's\n"
            "  2.8x composition plus the seen-index anti-join and writes.\n"
            "- stride_dag_convergence 3.9x: EIGHT real task runs (the full\n"
            "  four-task siri DAG, twice) + 7 lake-table builds per\n"
            "  measurement; write-bound (each enrich task snapshots the\n"
            "  500k-ride table) — an upper bound alongside\n"
            "  compact_roundtrip_hash's write-bound 14.6x.\n"
            "- package_backfill_invariance 2.4x: two real backfill runs +\n"
            "  the CSV-artifact re-hash; hours are CLAMPED at 48 by the\n"
            "  lake derivation, so cost follows rows-per-hour (the task's\n"
            "  two-job shape), and run 2 is hash-check-only by contract.\n"
            "- ride_aggregation_ledger_invariance 1.2x: one distributed\n"
            "  min_by/max_by over ride stops + ledger appends; run 2\n"
            "  recomputes a single failed date by contract — near-flat by\n"
            "  construction.\n"
            "\n"
            "r8 probe notes (new rows measured under CONTENDED brackets\n"
            "5.6-13.0 s — upper bounds; BENCHNOTES.md protocol):\n"
            "- dedup_groups_cc60 (production-width CC pipeline) 1.4x at 100x\n"
            "  data — the 15-bit bands keep candidate pairs occupancy-bound,\n"
            "  so CC consumes a near-constant-size graph (vs the 32-bit\n"
            "  dedup_groups_cc's banding-dominated 3.5x on the same corpus).\n"
            "- ingest_replay_idempotence 3.4x: first measured 21.6x — each\n"
            "  micro-batch arrives as ONE source file = one input partition\n"
            "  and the shingle/MinHash map work ran single-threaded per\n"
            "  batch (35 s at 250k docs). llm_tasks._admit now re-spreads\n"
            "  the batch to defaultParallelism before materializing\n"
            "  (90.3 -> 21.2 s at sf10, same brackets; partitioning-\n"
            "  invariant semantics, oracle-pinned).\n"
            "- compact_roundtrip_hash 14.6x: rewrites the whole events table\n"
            "  (fragment -> compact -> two hash scans) — write-bound linear\n"
            "  work over a sub-2s sf0.1 floor.\n"
            "- shard_export_invariance 3.2x: broadcast vocab + n_shards\n"
            "  window partitions + one shard repartition (plan canary:\n"
            "  no global sort, tests/test_partitioning.py).\n"
            "\n"
            "r6 probe notes:\n"
            "- The registered cosine_topk query (10.2x — the last corpus-\n"
            "  proportional query slice) was RETIRED; its exact kernel stays\n"
            "  measured and oracle-verified inside ann_recall_eval (1.3x).\n"
            "- Five rows re-measured mid-r6 (semdedup_scaled_pairs,\n"
            "  split_leakage_check, streaming_dedup_lsh, dedup_groups_cc,\n"
            "  dedup_minhash_lsh) under canary brackets 7.48 s -> 5.88 s (box at a\n"
            "  ~1.5x CPU deficit — BENCHNOTES.md; a same-window measurement keeps\n"
            "  each row's RATIO meaningful, and the deficit inflates numerators, so\n"
            "  the ratios read conservative).\n"
            "- semdedup_scaled_pairs 4.4x vs fixed-k semdedup_pairs 9.3x: the\n"
            "  production k = ceil(sqrt(N)) rule under the driver oracle bounds\n"
            "  per-cluster occupancy (~sqrt(N)); the fixed-k row stays as the\n"
            "  documented quadratic-by-contract twin.\n"
            "- streaming_dedup_lsh 2.8x: per-batch MinHash + band-bucket probe of\n"
            "  the persisted index — candidate volume follows bucket occupancy,\n"
            "  never corpus pairs.\n"
            "- dedup_minhash_lsh 2.9x -> 2.3x with the r6-measured broadcast-guard\n"
            "  count (paired A/B: the count materializes the candidate persist in\n"
            "  one job before the eager broadcast builds re-derive the subtree).\n"
            "\n"
            "r5 probe notes:\n"
            "- ann_recall_eval 22.9x -> 1.3x: the registered query now samples a\n"
            "  FIXED 100-query set (the production eval_recall shape) instead of\n"
            "  2% of the corpus, making the eval O(corpus).\n"
            "- The former 4-5x rows (exact_ts_join, json_extract_filter,\n"
            "  top2_per_user, reservoir_per_user) were width-probed at sf10 with\n"
            "  spark.sql.shuffle.partitions in {32, 64, 128}: wider was flat or\n"
            "  SLOWER on every one (e.g. exact_ts_join 1.03/1.23/1.87 s), so the\n"
            "  ratios are not a shuffle bottleneck — they are the sf0.1 fixed\n"
            "  overhead floor (~0.2 s scheduling) vanishing from the denominator\n"
            "  while the numerator does honest linear work (json_extract_filter =\n"
            "  a pure map-side JSON parse of 10M rows in 1.7 s, no exchange in\n"
            "  the plan). streaming_click_purchase_join sizes its own state width\n"
            "  from source bytes (already 32-way at sf10); its ratio is\n"
            "  stream-stream join + state-store fixed cost, 12 s for 10M events.\n"
            "- dedup_incremental stays the PLAIN index join: a Bloom-pre-filtered\n"
            "  variant measured 0.42 -> 2.15 s at sf0.1 and 1.25 -> 2.63 s at sf10\n"
            "  here, because this query derives the index from the same corpus\n"
            "  scan; it also lost 12x against a pre-materialized 20M-key index,\n"
            "  so it was deleted.\n\n"
            "| query | " + " | ".join(labels) + " | x100 cost |\n"
            "|---|" + "---|" * (len(labels) + 1) + "\n"
        )
        for name in sorted(results):
            row = results[name]
            cells = [str(row.get(lbl, "—")) for lbl in labels]
            ratio = "—"
            first, last = row.get(labels[0]), row.get(labels[-1])
            if isinstance(first, float) and isinstance(last, float) and first > 0:
                ratio = f"{last / first:.1f}x"
            f.write(f"| {name} | " + " | ".join(cells) + f" | {ratio} |\n")
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()

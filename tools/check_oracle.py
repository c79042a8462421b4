"""Local stand-in for the driver's t2 correctness gate.

Runs every query in ``__spark_entry__.queries()`` on Spark and its
``oracle_sql()`` twin on DuckDB at the given scale factor, then compares
row count, sorted column names, normalized result TYPES, and cell values
(rows sorted by their full canonical string form — order-insensitive,
like the driver's value-hash). Exact equality is required; any float
drift shows up here before the driver sees it.

The type check exists because the driver's value hash is type-sensitive:
round-1 proved that DuckDB's silent aggregate widening (SUM(BIGINT) →
HUGEINT, SUM(DECIMAL(20,6)) → DECIMAL(38,6)) hash-mismatches a Spark
BIGINT / DECIMAL(30,6) even when every printed value is identical. Any
widened oracle aggregate must be wrapped in an explicit CAST.

Decimal-typed OUTPUT columns are banned outright (hard FAIL here even
when values compare equal): rounds 1-2 proved the driver hash-rejects
them while this gate's fetchall() path passes — DECIMAL crosses the
engines' result-conversion boundary asymmetrically (DuckDB's pandas
path widens DECIMAL to float64; Spark keeps decimal.Decimal objects).
moving_avg_frame's old `run_sum DECIMAL(30,6)` was the registry's only
decimal output and its only persistent driver-red row. Use decimals for
exact INTERNAL accumulation, then emit BIGINT quantized units (cents /
micro-units / basis points) or one final CAST AS DOUBLE.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def connect_spillable(d: str) -> duckdb.DuckDBPyConnection:
    """File-backed DuckDB connection so big-SF oracle queries spill to
    disk instead of dying in RAM (an in-memory connection cannot offload
    most operators). The DB file and the spill blocks live in ``d``; the
    file holds only views."""
    con = duckdb.connect(os.path.join(d, "oracle.db"))
    con.execute(f"SET temp_directory = '{d}'")
    return con


def canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def norm_type(t: str) -> str:
    """Normalize a Spark ``simpleString()`` / DuckDB ``str(type)`` to a
    shared vocabulary. Width-preserving on purpose: HUGEINT stays
    'hugeint' (never equal to 'bigint') so oracle-side widening is
    caught; decimals keep (p,s). Timestamp flavors collapse — both
    engines read the same parquet instants and the driver accepts them."""
    t = t.strip().lower()
    if t.endswith("[]"):
        return f"array<{norm_type(t[:-2])}>"
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{norm_type(t[6:-1])}>"
    alias = {
        "varchar": "string",
        "integer": "int",
        "real": "float",
        "blob": "binary",
        "timestamp_ns": "timestamp",
        "timestamp_ms": "timestamp",
        "timestamp_s": "timestamp",
        "timestamp_ntz": "timestamp",
        "timestamp with time zone": "timestamp",
        "timestamptz": "timestamp",
    }
    if t.startswith("decimal"):
        return t.replace(" ", "")  # 'decimal(30, 6)' == 'decimal(30,6)'
    return alias.get(t, t)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # The connection closes before its directory is removed.
    with tempfile.TemporaryDirectory(prefix="oracle_duck_") as d, connect_spillable(d) as con:
        return check(con, sf_dir, only)


def check(con: duckdb.DuckDBPyConnection, sf_dir: str, only: set[str]) -> int:
    import __spark_entry__ as entry_mod
    from open_bus_stride_etl_spark.session import build_session

    spark = build_session("oracle-check")
    # Pin the DuckDB session timezone so TIMESTAMPTZ handling never
    # depends on the box (and matches Spark's UTC-pinned session).
    con.execute("SET TimeZone = 'UTC'")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        # table-subset corpora (tools/gen_testdata.py's `only` arg) carry
        # just the tables a targeted probe needs; register what exists and
        # let a query that references a missing table fail on its own.
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            # Corpora regenerated since r9 write timestamps as parquet
            # INT64 micros with isAdjustedToUTC=true (session.py; the
            # driver's shipped testdata is TIMESTAMP(NANOS)). DuckDB
            # reads the former as TIMESTAMPTZ, whose tz-aware values
            # stringify/compare differently from Spark's naive-UTC
            # instants — every timestamp row "differed" at the r10 sf1
            # gate until the views normalized them. CAST to TIMESTAMP
            # under the UTC session = a pure relabel of the same
            # instant; NANOS columns are untouched.
            cols = con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            ).fetchall()
            sel = ", ".join(
                f'CAST("{c}" AS TIMESTAMP) AS "{c}"'
                if str(ct).upper() == "TIMESTAMP WITH TIME ZONE"
                else f'"{c}"'
                for c, ct, *_ in cols
            )
            con.execute(
                f"CREATE VIEW {t} AS SELECT {sel} FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sorted(sdf.columns)
            s_rows = sdf.collect()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only (no oracle), {len(s_rows)} rows "
                  f"[{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            rel = con.sql(oracles[name])
            o_names = list(rel.columns)
            o_types = {c: str(t) for c, t in zip(o_names, rel.types)}
            o_cols = sorted(o_names)
            o_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(s_rows) != len(o_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(o_rows)}")
        if s_cols != o_cols:
            problems.append(f"columns spark={s_cols} duckdb={o_cols}")
        else:
            s_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
            bad_types = [
                f"{c}: spark={s_types[c]} duckdb={o_types[c]}"
                for c in s_cols
                if norm_type(s_types[c]) != norm_type(o_types[c])
            ]
            if bad_types:
                problems.append("type mismatch " + "; ".join(bad_types))
            dec_cols = [
                c for c in s_cols
                if "decimal" in norm_type(s_types[c]) or "decimal" in norm_type(o_types[c])
            ]
            if dec_cols:
                problems.append(
                    "driver-unsafe DECIMAL output column(s) "
                    f"{dec_cols} — emit quantized BIGINT units or CAST AS DOUBLE "
                    "(decimal outputs hash-mismatch at the driver even when values "
                    "are equal here; see module docstring)"
                )
        if not problems:
            s_sorted = sorted(
                [tuple(canon(r[c]) for c in s_cols) for r in s_rows]
            )
            o_name_idx = {c: i for i, c in enumerate(o_names)}
            o_sorted = sorted(
                [tuple(canon(r[o_name_idx[c]]) for c in o_cols) for r in o_rows]
            )
            if s_sorted != o_sorted:
                bad = sum(1 for a, b in zip(s_sorted, o_sorted) if a != b)
                problems.append(f"values differ in ~{bad}/{len(s_sorted)} sorted rows")
                for a, b in list(zip(s_sorted, o_sorted))[:2000]:
                    if a != b:
                        print(f"  spark : {a}\n  duckdb: {b}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify to dump
each SparkEntry query as parquet + oracle_sql.json, then execute each oracle
in DuckDB over the same testdata tables and compare (row count, sorted-column
sorted-row values).

Usage: python3 scripts/check_oracle.py [sf] [--skip-verify]
                                       [--only q99,q117,...] [--timeout S]
  sf defaults to 0.01 (the driver's correctness tier).
  --only     run and compare only the queries whose names start with one of
             the comma-separated prefixes (passed on to graft.Verify).
  --timeout  run each DuckDB oracle for at most S seconds; an oracle that
             runs out prints TIMEOUT <name>, is not counted as ok, and makes
             the exit status non-zero.
"""
import argparse
import json
import math
import re
import subprocess
import sys
import threading
from pathlib import Path

import duckdb
import pandas as pd

ap = argparse.ArgumentParser()
ap.add_argument("sf", nargs="?", default="0.01")
ap.add_argument("--skip-verify", action="store_true")
ap.add_argument("--only", default="",
                help="comma-separated query-name prefixes, e.g. q99,q117")
ap.add_argument("--timeout", type=float, default=0,
                help="seconds per DuckDB oracle (0 = no limit)")
args = ap.parse_args()
SF = args.sf
SFDIR = f"/root/testdata/sf{SF}"
OUT = Path(f"/tmp/verify_sf{SF}")
ONLY = tuple(p for p in args.only.split(",") if p)


def selected(name: str) -> bool:
    return not ONLY or name.startswith(ONLY)


# graft.Verify's "[verify] <name> failed: <exception class>: <message>"
# lines, first line of each, printed next to that query's FAIL
verify_failed = {}
if not args.skip_verify:
    r = subprocess.run(
        ["sbt", "--client", f"runMain graft.Verify {SFDIR} {OUT} " + " ".join(ONLY)],
        capture_output=True, text=True, cwd=Path(__file__).resolve().parent.parent)
    if "success" not in r.stdout:  # sbt colorizes "[success]"
        print(r.stdout[-3000:], r.stderr[-2000:])
        sys.exit("verify run failed")
    plain = re.sub(r"\x1b\[[0-9;]*[A-Za-z]", "", r.stdout + r.stderr)
    for m in re.finditer(r"\[verify\] (\S+) failed: ([^\n]*)", plain):
        verify_failed.setdefault(m.group(1), m.group(0).rstrip())

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SFDIR}/{t}.parquet'")

oracles = json.loads((OUT / "oracle_sql.json").read_text())


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype(float)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    # Sort on scalar columns first; list/array columns (dtype kind 'O'
    # holding ndarrays/lists) are unhashable for pandas' lexsort, so they
    # participate via a stable stringified key appended LAST. Both sides
    # stringify through the same list() normalization, so the total order
    # is identical for identical data (the only thing compare needs).
    scalar = [c for c in df.columns if df[c].dtype.kind != "O"
              or df[c].map(lambda v: not isinstance(
                  v, (list, tuple)) and not hasattr(v, "__len__")
                  or isinstance(v, str)).all()]
    by = list(scalar)
    extra = []
    for c in df.columns:
        if c not in scalar:
            key = f"_sortkey_{c}"
            df[key] = df[c].map(
                lambda v: str(list(v)) if v is not None and not isinstance(
                    v, str) and hasattr(v, "__iter__") else str(v))
            extra.append(key)
    out = df.sort_values(by=by + extra).reset_index(drop=True)
    return out.drop(columns=extra)


def values_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(b))
    return str(a) == str(b)


def run_oracle(sql: str) -> pd.DataFrame:
    """One oracle, interrupted after --timeout seconds when one is set."""
    if not args.timeout:
        return con.execute(sql).df()
    timer = threading.Timer(args.timeout, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        timer.cancel()


ok = fail = timeout = 0
for name in sorted(n for n in oracles if selected(n)):
    pdir = OUT / name
    if not pdir.exists():
        why = verify_failed.get(name)
        print(f"FAIL {name}: spark result missing" + (f" -- {why}" if why else ""))
        fail += 1
        continue
    spark_df = canon(con.execute(
        f"SELECT * FROM '{pdir}/*.parquet'").df())
    try:
        duck_df = canon(run_oracle(oracles[name]))
    except duckdb.InterruptException:
        print(f"TIMEOUT {name}: oracle ran past {args.timeout:g} s, unverified")
        timeout += 1
        continue
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        fail += 1
        continue
    if list(spark_df.columns) != list(duck_df.columns):
        print(f"FAIL {name}: columns {list(spark_df.columns)} vs {list(duck_df.columns)}")
        fail += 1
        continue
    # dtype-kind compare (mirrors the driver's schema check)
    kinds_a = [spark_df[c].dtype.kind for c in spark_df.columns]
    kinds_b = [duck_df[c].dtype.kind for c in duck_df.columns]
    if kinds_a != kinds_b:
        mism = [(c, a, b) for c, a, b in
                zip(spark_df.columns, kinds_a, kinds_b) if a != b]
        print(f"FAIL {name}: dtype kinds differ: {mism}")
        fail += 1
        continue
    if len(spark_df) != len(duck_df):
        print(f"FAIL {name}: rows {len(spark_df)} vs {len(duck_df)}")
        fail += 1
        continue
    mismatch = None
    for c in spark_df.columns:
        av, bv = spark_df[c].tolist(), duck_df[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if not values_equal(x, y):
                mismatch = (c, i, x, y)
                break
        if mismatch:
            break
    if mismatch:
        c, i, x, y = mismatch
        print(f"FAIL {name}: col {c} row {i}: spark={x!r} duck={y!r}")
        fail += 1
    else:
        print(f"ok   {name} ({len(spark_df)} rows)")
        ok += 1

# rows-only entries (no oracle): just report row counts
for pdir in sorted(OUT.iterdir()):
    if pdir.is_dir() and pdir.name not in oracles and selected(pdir.name):
        try:
            n = con.execute(f"SELECT count(*) FROM '{pdir}/*.parquet'").fetchone()[0]
            print(f"rows {pdir.name}: {n}")
        except Exception as e:
            print(f"rows {pdir.name}: unreadable ({e})")

print(f"\n{ok} ok, {fail} fail" + (f", {timeout} timeout" if timeout else ""))
sys.exit(1 if fail or timeout else 0)

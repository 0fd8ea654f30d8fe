#!/usr/bin/env python3
"""Validate and record the result fingerprints the entry workloads check.

    python3 perfbench/make_fingerprints.py [entry ...]

Runs each entry of core_queries and llm_operators and each stream entry
(or the named ones) once at sf0.1 through the JVM side's `fingerprint`
mode, then
compares each result with DuckDB running the entry's oracle SQL over
the same parquet tables (columns sorted by name, floats as %.6f, rows
in order). Only entries that match are written to
`perfbench/fingerprints.json`; entries without oracle SQL are recorded
with `"oracle": null` and check only that a result does not change.
Run from the root of an engine checkout.
"""
import json
import shutil
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))
import core  # noqa: E402
import run  # noqa: E402


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def fmt(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)
    return df.apply(lambda col: col.map(fmt)).reset_index(drop=True)


def main(names):
    names = names or ([n for w in core.ENTRY_WORKLOADS for n in core.op_types(w)]
                      + core.STREAM_ENTRIES)
    sf = run.sf_dir()
    classpath, _ = run.ensure_built()
    work = run.STATE / "fingerprint"
    shutil.rmtree(work, ignore_errors=True)
    out = (work / "out").resolve()
    run.java(classpath, ["fingerprint", str(sf), str(out), "4", *names], work, 3000)
    engine = json.loads((out / "engine.json").read_text())

    con = duckdb.connect()
    for t in core.ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    path = run.BENCH_DIR / "fingerprints.json"
    fps = json.loads(path.read_text()) if path.exists() else {}
    bad = 0
    for n in names:
        fp = dict(engine["fingerprints"][n])
        sql = engine["oracle_sql"].get(n)
        if sql is None:
            fp["oracle"] = None
            print(f"  [no oracle] {n}: {fp['rows']} rows")
        else:
            got = canon(pd.read_parquet(out / n))
            want = canon(con.execute(sql).df())
            if list(got.columns) != list(want.columns) or not got.equals(want):
                print(f"✗ {n}: engine result differs from the DuckDB oracle")
                bad += 1
                continue
            fp["oracle"] = f"duckdb {duckdb.__version__}, {sf.name}"
            print(f"✓ {n}: {fp['rows']} rows")
        fps[n] = fp
    path.write_text(json.dumps(dict(sorted(fps.items())), indent=1) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

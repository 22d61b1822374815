#!/usr/bin/env python3
"""Record registry_read's expected outputs and cross-check them with DuckDB.

    python3 graftbench/crosscheck.py

Runs the harness in record mode (row count and order-insensitive content
hash of each sampled query, plus each output as parquet), runs each query's
`SparkEntry.oracleSql` in DuckDB over the same copy of the sf0.01 tables,
and compares the two outputs: columns sorted by name, rows sorted, values
exact. Writes `expected/registry_read.json`. A query whose output does not
match DuckDB exactly is marked `"exact": false`; the benchmark then checks
only its row count, and this script lists it by name.
"""
import glob
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
DUMP = os.path.join(HERE, ".work", "record", "dump")
OUT = os.path.join(HERE, "expected", "registry_read.json")


def normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, oracle_df):
    """None when equal, else the first difference."""
    s, o = normalize(spark_df), normalize(oracle_df)
    if list(s.columns) != list(o.columns):
        return "columns %s vs %s" % (list(s.columns), list(o.columns))
    if len(s) != len(o):
        return "rows %d vs %d" % (len(s), len(o))
    for c in s.columns:
        sv, ov = s[c], o[c]
        if sv.dtype.kind in "if" and ov.dtype.kind in "if" and sv.dtype.kind != ov.dtype.kind:
            return "column %s: %s vs %s" % (c, sv.dtype, ov.dtype)
        ov = ov.astype(sv.dtype, errors="ignore")
        if sv.dtype == object:
            eq = sv.map(repr) == ov.map(repr)
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return "column %s row %d: %r vs %r" % (c, i, sv[i], ov[i])
    return None


def main():
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                          "registry_read", "--seed", "0", "--seconds", "1", "--record"],
                         check=True, capture_output=True, text=True).stdout
    recorded = json.loads(out[out.index("{"):])
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, f))
    expected, inexact = {}, []
    for q, r in sorted(recorded.items()):
        spark_df = pd.concat([pd.read_parquet(f) for f in
                              sorted(glob.glob(os.path.join(DUMP, q, "*.parquet")))],
                             ignore_index=True)
        why = "no oracle SQL" if not r["oracle_sql"] else None
        if why is None:
            why = compare(spark_df, con.execute(r["oracle_sql"]).df())
        expected[q] = {"rows": r["rows"], "hash": r["hash"], "exact": why is None,
                       "duckdb": "match" if why is None else why}
        if why is not None:
            inexact.append(q)
        print("%s %s (%d rows)" % ("EXACT" if why is None else "ROWS-ONLY", q, r["rows"])
              + ("" if why is None else ": " + why))
    with open(OUT, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("checked by row count only: %s" % (", ".join(inexact) or "none"))


if __name__ == "__main__":
    main()

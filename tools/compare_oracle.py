#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir> [jsonOut]

With jsonOut, also writes a driver-style correctness JSON
({query: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}) so round evidence can be committed in-round.

Reads <verifyOutDir>/oracle_sql.json, registers every testdata parquet as a
DuckDB view, runs each oracle SQL, loads the matching Spark parquet result,
sorts columns by name, and compares row multisets with exact values.
With SPARK_GRAFT_ONLY=q_a,q_b set (the list graft.Verify honours), only
those rows are graded and the count of skipped rows is printed; a listed
name with no oracle SQL fails. Unset, every row is graded and a missing
Spark output fails.

Dev-only tool (the driver runs its own copy of this logic); not part of the
Scala library.
"""
import json
import math
import os
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def rows_of(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return sorted(
        (tuple(canon(col[i]) for col in data) for i in range(table.num_rows)),
        key=repr), cols


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    report = {}

    def record(name, rows=False, schema=False, values=False,
               srows=0, drows=0, err=None, sec=None):
        report[name] = {"rows_match": rows, "schema_match": schema,
                        "hash_match": values, "spark_rows": srows,
                        "oracle_rows": drows, "err": err,
                        "oracle_sec": sec}

    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only is not None:
        names = {n.strip() for n in only.split(",") if n.strip()}
        print(f"SPARK_GRAFT_ONLY: grading {len(names)} rows, skipped "
              f"{len(set(oracle) - names)}", flush=True)
        for name in sorted(names - set(oracle)):
            print(f"FAIL {name}: not in oracle_sql.json", flush=True)
            record(name, err="not in oracle_sql.json")
            n_fail += 1
        oracle = {n: sql for n, sql in oracle.items() if n in names}

    import time as _time
    for name in sorted(oracle):
        spark_dir = Path(out_dir) / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output", flush=True)
            record(name, err="no spark output")
            n_fail += 1
            continue
        try:
            _t0 = _time.time()
            duck = con.execute(oracle[name]).arrow()
            dsec = round(_time.time() - _t0, 3)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}", flush=True)
            record(name, err=f"oracle error: {e}")
            n_fail += 1
            continue
        spark = pq.read_table(spark_dir)
        srows, scols = rows_of(spark)
        drows, dcols = rows_of(duck)
        if scols != dcols:
            print(f"FAIL {name}: columns spark={scols} duck={dcols}", flush=True)
            record(name, rows=len(srows) == len(drows),
                   srows=len(srows), drows=len(drows), sec=dsec)
            n_fail += 1
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}", flush=True)
            record(name, schema=True, srows=len(srows), drows=len(drows), sec=dsec)
            n_fail += 1
        elif srows != drows:
            diff = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
            i = diff[0] if diff else -1
            print(f"FAIL {name}: values differ ({len(diff)} rows); "
                  f"first at {i}:\n  spark={srows[i]}\n  duck ={drows[i]}", flush=True)
            record(name, rows=True, schema=True,
                   srows=len(srows), drows=len(drows), sec=dsec)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, duck {dsec}s)", flush=True)
            record(name, rows=True, schema=True, values=True,
                   srows=len(srows), drows=len(drows), sec=dsec)
            n_pass += 1
    if len(sys.argv) > 3:
        Path(sys.argv[3]).write_text(json.dumps(report, indent=1))
        print(f"wrote {sys.argv[3]}")
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

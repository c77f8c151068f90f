#!/usr/bin/env python3
"""Confirms the pinned result hashes of the graft.queries gates
(Calibration.Expected) against each gate's DuckDB oracle.

    python3 perfbench/confirm_gates.py      # from the repository root

Builds the benchmark, writes every gate's result on the benchmark's own
tables (perfbench.Calibration main), runs each gate's oracle SQL in DuckDB
over the same tables and compares them as tools/check.py does: column
names, types, and rows sorted by all columns. Prints each gate's hash
next to its verdict; a gate whose hash differs from the pinned one but
whose result matches its oracle is re-pinned by copying the printed hash
into Calibration.Expected.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

sys.path.insert(0, os.path.join(build.ROOT, "tools"))
import check  # noqa: E402  (canon: the oracle gate's row normalization)
import duckdb  # noqa: E402


def main():
    build.build()
    work = os.path.join(build.BUILD, "work", "confirm")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "results")
    r = subprocess.run(run.java(work, "perfbench.Calibration", [work, out]),
                       cwd=work,
                       stdout=subprocess.PIPE, text=True, timeout=600)
    if r.returncode != 0:
        raise SystemExit(f"confirm_gates: dump exited with {r.returncode}")
    lines = dict(l.split(" ", 1) for l in r.stdout.splitlines() if " " in l)
    tables = lines.pop("tables")
    src = open(os.path.join(HERE, "src", "perfbench", "Calibration.scala")).read()
    pinned = dict(re.findall(r'"(\w+)" ->\s*"([0-9a-f]{64})"', src))
    con = duckdb.connect()
    for t in ("orders", "documents", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = 0
    for name, sql in oracle.items():
        s = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        d = con.sql(sql)
        same_types = dict(zip(s.columns, map(str, s.types))) == \
            dict(zip(d.columns, map(str, d.types)))
        match = same_types and check.canon(s.fetchall(), list(s.columns)) == \
            check.canon(d.fetchall(), list(d.columns))
        h = lines[name]
        verdict = ("oracle OK" if match else "oracle FAIL") + \
            (", pinned" if pinned.get(name) == h else ", NOT pinned")
        bad += not match or pinned.get(name) != h
        print(f"{name:24s} {h}  {verdict}")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

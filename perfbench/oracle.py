#!/usr/bin/env python3
"""Regenerates perfbench/oracle/curate_lm.json: the DuckDB oracle's
fingerprint of each curate_lm query over perfbench/data.

    python3 perfbench/oracle.py

It builds the benchmark if needed, has the JVM write the curation queries'
oracle SQL, runs that SQL in DuckDB and fingerprints each result the
way perfbench.Fingerprint does on the Spark side.
"""
import decimal
import hashlib
import json
import math
import shutil
import struct
import sys

import duckdb

import run

OUT = run.BENCH / "oracle" / "curate_lm.json"
DATA = run.BENCH / "data"


def num(v):
    if math.isnan(v):
        return "N"
    if not math.isinf(v) and v == math.floor(v):
        return "i" + str(int(v))
    return "f" + format(struct.unpack("<Q", struct.pack("<d", v))[0], "x")


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return "i" + str(int(v))
        return num(float(v))
    return "s" + str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\u0001".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(("\n" + line).encode())
    return h.hexdigest()


def main():
    run.build()
    work = run.BUILD / "oracle"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    sql_path = work / "oracle_sql.json"
    code, _ = run.run_jvm(run.java_cmd("perfbench.OracleSql", str(sql_path), work=work), 300)
    if code != 0:
        sys.exit(f"OracleSql exited with {code}")
    con = duckdb.connect()
    for p in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    out = {}
    for q, sql in json.loads(sql_path.read_text()).items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[q] = {"columns": cols, "rows": len(rows), "sha256": fingerprint(cols, rows)}
        print(f"{q}: {len(rows)} rows {out[q]['sha256'][:16]}")
    OUT.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

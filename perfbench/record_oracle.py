#!/usr/bin/env python3
"""Record the curation queries' expected results from their DuckDB oracles.

    python3 perfbench/record_oracle.py

Run from the root of a checkout after one benchmark run has built the
program. Writes perfbench/data/curate_oracle.json: per corpus and query, the
row count and order-independent fingerprint of the query's DuckDB oracle
(see perfbench.Fingerprint, which computes the same fingerprint from Spark
rows). The oracle SQL comes from graft.SparkEntry.oracleSql, exported by
perfbench.OracleSql. Entries already in the file are kept.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys
import tempfile

import duckdb

ROOT = os.getcwd()
CORPORA = {"sf0.01": "perfbench/data/sf0.01"}
OUT = "perfbench/data/curate_oracle.json"


def num(d):
    if d == 0.0:
        d = 0.0
    if d != d:
        return "NaN"
    return format(struct.unpack(">q", struct.pack(">d", d))[0] & 0xFFFFFFFFFFFFFFFF, "x")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        return num(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return str(v)


def fingerprint(columns, rows):
    total = 0
    for r in rows:
        text = "\u0001".join(f"{n}={cell(v)}" for n, v in sorted(zip(columns, r), key=lambda x: x[0]))
        total += int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big", signed=True)
    return format(total & 0xFFFFFFFFFFFFFFFF, "016x")


def main():
    with open(os.path.join(ROOT, "perfbench/.build/classpath")) as fh:
        classpath = fh.read().strip()
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, "perfbench")) as tmp:
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", classpath, "perfbench.OracleSql", sql_file], check=True)
        with open(sql_file) as fh:
            oracle = json.load(fh)
    out = {}
    for corpus, d in CORPORA.items():
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for f in sorted(os.listdir(os.path.join(ROOT, d))):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(ROOT, d, f)}'")
        got = out.setdefault(corpus, {})
        for q, sql in oracle.items():
            rel = con.sql(sql)
            rows = rel.fetchall()
            got[q] = {"rows": len(rows), "fingerprint": fingerprint(rel.columns, rows)}
            print(corpus, q, got[q], file=sys.stderr)
    with open(os.path.join(ROOT, OUT), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Derive the operator_mix expectations from the queries' oracle SQL.

usage: python3 perfbench/derive_expected.py

Asks the benchmark JVM for the oracle SQL of every listed query
(`perfbench.Main --dump-oracle`), runs it with DuckDB over
perfbench/fixtures/sf0.1, and writes each result's row count and
order-independent hash to perfbench/expected/operator_mix.json. The hash is
the one perfbench/src/main/scala/perfbench/Canon.scala computes over the
Spark rows; the two renderings must stay identical. Run it after changing
the query list or the fixtures, with the benchmark built (run.py once).
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF = os.path.join(HERE, "fixtures", "sf0.1")
EPOCH = datetime.datetime(1970, 1, 1)


def dbl(x):
    if x != x:
        return "NaN"
    return format(struct.unpack(">Q", struct.pack(">d", x + 0.0))[0], "x")


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float)):
        return dbl(float(v))
    if isinstance(v, decimal.Decimal):
        return dbl(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return "?" + str(v)


def result_hash(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        s = "\u0001".join(f"{names[i]}={canon(r[i])}" for i in order)
        total += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return len(rows), format(total % (1 << 64), "016x")


def main():
    with open(os.path.join(WORK, "classpath.txt")) as f:
        cp = f.read().strip()
    dump = os.path.join(WORK, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--dump-oracle", dump,
                    "--root", ROOT, "--work", WORK], check=True)
    with open(dump) as f:
        queries = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(SF)):
        name = t[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS FROM '{os.path.join(SF, t)}'")
    out = {}
    for q, spec in queries.items():
        rel = con.sql(spec["sql"])
        rows, h = result_hash(rel.columns, rel.fetchall())
        out[q] = {"module": spec["module"], "rows": rows, "hash": h}
        print(f"{q}: {rows} rows, hash {h}", file=sys.stderr)
    path = os.path.join(HERE, "expected", "operator_mix.json")
    with open(path, "w") as f:
        json.dump({"duckdb": duckdb.__version__, "fixtures": "sf0.1", **out},
                  f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Pins the answers `query_mix` checks against.

Run from the root of the repository:

    python3 perfbench/pin.py [DIR]

It has the benchmark write each `query_mix` key's DuckDB oracle SQL
(`SparkEntry.oracleSql`) and Spark's answer hashes over the tables in
`perfbench/data/sf0.01` to DIR, runs every oracle in DuckDB over the same
tables, hashes each answer the way `Canon.scala` does, and writes the DuckDB
hashes to `perfbench/expected.json` only if every one equals Spark's. DIR
defaults to `.bench_build/perfbench/pin`.
"""
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def number(x):
    s = "%.6f" % x
    if s in ("nan", "inf", "-inf"):
        return s
    return s[1:] if s.startswith("-") and set(s[1:]) <= set("0.") else s


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return number(float(v))
    if isinstance(v, str):
        return v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v)}")


def answer_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    md = hashlib.sha256()
    md.update(("\t".join(columns[i] for i in order) + "\n").encode())
    for r in rows:
        md.update(("\t".join(value(r[i]) for i in order) + "\n").encode())
    return md.hexdigest()[:16]


def main():
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                          os.path.join(".bench_build", "perfbench", "pin"))
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--pin-dir", out], check=True)
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(out, "spark_hashes.json")) as fh:
        spark = json.load(fh)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    pinned, bad = {}, []
    for key, sql in oracles.items():
        res = con.execute(sql)
        pinned[key] = answer_hash([d[0] for d in res.description], res.fetchall())
        status = "ok" if pinned[key] == spark[key] else "MISMATCH"
        if status != "ok":
            bad.append(key)
        print(f"{status:8} {key} duckdb={pinned[key]} spark={spark[key]}")
    if bad:
        sys.exit(f"not pinned: Spark and DuckDB disagree on {', '.join(bad)}")
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"engine": f"duckdb {duckdb.__version__}", "answers": pinned}, fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    main()

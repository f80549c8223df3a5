#!/usr/bin/env python3
"""Writes the oracle of the operators workload: run from the repo root.

    python3 perfbench/oracle.py

For each query in `Operators.Queries` it runs the query's DuckDB oracle SQL
(`SparkEntry.oracleSql`, as tools/selfcheck.py does) over the tables in
perfbench/data/sf0.001 and stores the row count, the sorted column names
and an order-insensitive digest in perfbench/data/oracle-sf0.001.json. The
digest matches `graftbench.Digest`: columns in name order; numbers as
decimals of 9 significant digits; timestamps as epoch microseconds; dates
as epoch days; each row's SHA-256 summed mod 2^64. Needs the duckdb module;
the benchmark itself does not.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

SF = "0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def num(x):
    x = float(x)
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Inf" if x > 0 else "-Inf"
    if x == 0.0:
        return "0"
    sign, digits, exp = CTX.plus(decimal.Decimal(x)).as_tuple()
    unscaled = int("".join(map(str, digits)))
    while unscaled % 10 == 0:
        unscaled //= 10
        exp += 1
    return f"{'-' if sign else ''}{unscaled}e{exp}"


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)):
        return num(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d" + str((v - EPOCH.date()).days)
    if isinstance(v, bytes):
        return "b" + v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, list) and v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
        return "{" + ",".join(sorted(cell(k) + "=" + cell(x) for k, x in v)) + "}"
    if isinstance(v, list):
        return "[" + ",".join(cell(x) for x in v) + "]"
    raise TypeError(f"no digest for {type(v)}")


def digest(table):
    cols = sorted(table.column_names)
    total = 0
    rows = table.to_pylist()
    for r in rows:
        line = "\u001f".join(cell(r[c]) for c in cols)
        total += int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")
    return {"rows": len(rows), "cols": cols, "digest": f"{total % 2**64:016x}"}


def main():
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    run.build(root, build_dir)
    cp = os.path.join(build_dir, "classes") + os.pathsep + os.path.join(run.spark_jars(), "*")
    sql = json.loads(subprocess.run(["java", "-cp", cp, "graftbench.OracleSql"], check=True,
                                    capture_output=True, text=True).stdout.strip().splitlines()[-1])
    data = os.path.join(HERE, "data")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, 'sf' + SF, t + '.parquet')}')")
    out = {name: digest(con.execute(q).fetch_arrow_table()) for name, q in sorted(sql.items())}
    path = os.path.join(data, f"oracle-sf{SF}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} oracles to {os.path.relpath(path, root)}")


if __name__ == "__main__":
    main()

"""DuckDB oracle for the benchmark's correctness checks.

Runs each requested oracle SQL (the ones `SparkEntry.oracleSql` carries)
over the generated parquet tables and writes, per query, the row count and
the order-independent checksum `Canon.scala` computes on the Spark side:
MD5 of each canonically rendered row (first 8 bytes, big-endian), summed
mod 2^64.

Usage: python3 perfbench/oracle.py <dataDir> <request.json> <result.json>
  request: [{"key": ..., "setup": [sql, ...], "sql": ...}, ...]
"""
import calendar
import datetime
import hashlib
import json
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "d" + format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return "t" + str(calendar.timegm(v.timetuple()) * 1000000 + v.microsecond)
    if isinstance(v, datetime.date):
        return "D" + str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, list):
        return "[" + ",".join(cell(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(rows):
    total = 0
    for row in rows:
        text = "\x1f".join(cell(v) for v in row)
        total += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")
    return len(rows), str(total % (1 << 64))


def main(data, request, result):
    out = {}
    for q in json.load(open(request)):
        con = duckdb.connect()
        con.sql("SET threads TO 1")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for stmt in q["setup"]:
            con.sql(stmt)
        out[q["key"]] = digest(con.sql(q["sql"]).fetchall())
        con.close()
    with open(result, "w") as f:
        f.write("{\n" + ",\n".join(f'  "{k}": [{n}, "{s}"]'
                                   for k, (n, s) in sorted(out.items())) + "\n}\n")


if __name__ == "__main__":
    main(*sys.argv[1:4])

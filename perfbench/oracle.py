"""DuckDB oracle for catalog entries: each entry's own oracle SQL, run on
the same parquet tables, reduced to a canonical digest (columns sorted by
name, rows sorted, integral floats printed as integers, other floats
rounded to 6 places) and compared with the digest of the entry's Spark
output. Oracle digests are cached by input digest and SQL text.

    python3 perfbench/oracle.py --data <tables> --sql <oracle_sql.json> \
        --cache <dir> [--scratch <dir>] [--rebuild]

rebuilds (or with --rebuild, recomputes) the cache for every entry in the
SQL file.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def data_digest(data):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def connect(data, scratch):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '4GB'")
    con.execute(f"SET temp_directory = '{os.path.join(scratch, 'duckdb-tmp')}'")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 6) + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def digest(con, sql):
    """(column names sorted, row count, canonical md5) of a query result."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(cell(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return {"columns": [cols[i] for i in order], "rows": len(rows), "md5": h}


def expected(con, data, name, sql, cache):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache, data_digest(data), f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    d = digest(con, sql)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(d, f)
    os.replace(path + ".tmp", path)
    return d


def check(data, outputs, sql_map, names, cache, scratch):
    """name -> None when the Spark output matches its oracle, else a reason."""
    con = connect(data, scratch)
    verdict = {}
    for n in names:
        out = os.path.join(outputs, n)
        if not os.path.isdir(out):
            verdict[n] = "no output"
            continue
        want = expected(con, data, n, sql_map[n], cache)
        got = digest(con, f"SELECT * FROM read_parquet('{out}/*.parquet')")
        verdict[n] = None if got == want else f"got {got}, oracle {want}"
    return verdict


def build_cache(data, sql_map, cache, scratch, rebuild=False):
    if rebuild:
        d = os.path.join(cache, data_digest(data))
        for f in os.listdir(d) if os.path.isdir(d) else []:
            os.remove(os.path.join(d, f))
    con = connect(data, scratch)
    for n in sorted(sql_map):
        try:
            expected(con, data, n, sql_map[n], cache)
        except duckdb.Error as e:  # an entry whose inputs are absent
            print(f"oracle: {n} not cached: {str(e).splitlines()[0]}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--sql", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--scratch", default=".bench_build", help="DuckDB spill directory")
    ap.add_argument("--rebuild", action="store_true")
    a = ap.parse_args()
    with open(a.sql) as f:
        build_cache(a.data, json.load(f), a.cache, a.scratch, a.rebuild)

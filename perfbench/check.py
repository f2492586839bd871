"""Output check: a digest of each query's result, compared with the digest
of the same query's oracle SQL (`SparkEntry.oracleSql`) run by DuckDB on
the same parquet tables.

A digest is the row count plus a SHA-256 over the rows in order, with
the columns sorted by name and every cell rendered the way
tools/check_oracle.py compares them: NaN as `NaN`, an integral float as
an integer, a list element by element. Both sides go through the same
SQL rendering, so a result and its oracle digest alike when they hold
the same rows, in the same order, with the same rendered values.

Oracle digests depend only on the SQL text and the tables, so they are
cached under .bench_build/perfbench/oracle.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FLOATS = ("DOUBLE", "FLOAT", "REAL")


def _cell(col: str, typ: str) -> str:
    c = f'"{col}"'
    if typ in FLOATS:
        expr = (f"CASE WHEN isnan({c}) THEN 'NaN' "
                f"WHEN {c} = trunc({c}) AND abs({c}) < 1e15 THEN CAST(CAST({c} AS HUGEINT) AS VARCHAR) "
                f"ELSE CAST({c} AS VARCHAR) END")
    elif typ.endswith("[]") and typ[:-2] in FLOATS:
        expr = (f"CAST(list_transform({c}, x -> CASE WHEN isnan(x) THEN 'NaN' "
                f"WHEN x = trunc(x) AND abs(x) < 1e15 THEN CAST(CAST(x AS HUGEINT) AS VARCHAR) "
                f"ELSE CAST(x AS VARCHAR) END) AS VARCHAR)")
    else:
        expr = f"CAST({c} AS VARCHAR)"
    return f"coalesce({expr}, '<null>')"


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def digest(con, sql: str) -> dict:
    rel = con.sql(sql)
    types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    cols = sorted(rel.columns)
    row = " || chr(31) || ".join(_cell(c, types[c]) for c in cols)
    con.execute(f"CREATE OR REPLACE TEMP VIEW digest_src AS {sql}")
    cur = con.execute(f"SELECT {row} FROM digest_src")
    h = hashlib.sha256(("\x1f".join(cols) + "\n").encode())
    n = 0
    while True:
        chunk = cur.fetchmany(8192)
        if not chunk:
            break
        n += len(chunk)
        h.update("\n".join(r[0] for r in chunk).encode())
        h.update(b"\n")
    return {"rows": n, "sha256": h.hexdigest()}


def result_digest(con, out_dir: str) -> dict:
    """Digest of a result Spark wrote as parquet; part files are read in
    name order, which is partition order."""
    return digest(con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")


def oracle_digest(con, data_dir: str, sql: str, cache_dir: str) -> dict:
    key = hashlib.sha256((os.path.abspath(data_dir) + "\n" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    d = digest(con, sql)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(d, f)
    os.replace(path + ".tmp", path)
    return d

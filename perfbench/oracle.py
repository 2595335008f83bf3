"""Checks query outputs against their DuckDB oracles.

The comparison is the engine's own differential check (tools/check.py):
sorted column names, column type classes, row count, and a hash over
the rows without regard to order. Here
the row hash is computed inside DuckDB: every value is cast to text by
DuckDB on both sides, hashed per row, and the hashes summed, so two
results agree exactly when check.py's sorted-row comparison would.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir, temp_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{temp_dir}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _quote(name):
    return '"' + name.replace('"', '""') + '"'


def signature(con, sql):
    """(sorted names, column type classes, row count, row-hash sum) of a query.

    Types are compared as check.py compares them: by the DB-API type
    class DuckDB reports (NUMBER, STRING, DATETIME, ...)."""
    sql = sql.strip().rstrip(";")
    desc = con.execute(f"SELECT * FROM ({sql}) AS t LIMIT 0").description
    cols = sorted((d[0], str(d[1])) for d in desc)
    if len({c for c, _ in cols}) != len(cols):
        raise ValueError("duplicate output column names")
    exprs = [f"CAST({_quote(name)} AS VARCHAR)" for name, _ in cols]
    row_hash = f"hash({', '.join(exprs)})" if exprs else "0"
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum({row_hash}), 0) FROM ({sql}) AS t").fetchone()
    return {"names": [c for c, _ in cols], "types": [t for _, t in cols],
            "rows": int(n), "hash": str(h)}


class Oracle:
    """Expected signatures, computed once per (data set, oracle SQL) and
    kept in `cache_file`: the data set is fixed, and DuckDB is not the
    system under test."""

    def __init__(self, data_dir, cache_file, temp_dir):
        self.con = connect(data_dir, temp_dir)
        self.cache_file = cache_file
        self.cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
        self.dirty = False

    def expected(self, sql):
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.cache:
            self.cache[key] = signature(self.con, sql)
            self.dirty = True
        return self.cache[key]

    def check(self, sql, output_dir):
        """None when the parquet output in `output_dir` matches, else why not."""
        try:
            got = signature(self.con, f"SELECT * FROM '{output_dir}/*.parquet'")
        except Exception as e:  # noqa: BLE001 - any read failure is a mismatch
            return f"output unreadable: {e}"
        try:
            want = self.expected(sql)
        except Exception as e:  # noqa: BLE001 - a broken oracle fails the query
            return f"oracle failed: {e}"
        for k in ("names", "types", "rows", "hash"):
            if got[k] != want[k]:
                return f"{k}: got {got[k]} want {want[k]}"
        return None

    def save(self):
        if self.dirty:
            tmp = self.cache_file + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_file)

"""Order-independent fingerprints of query results, computed in DuckDB.

A fingerprint is (sorted column names, row count, sum of per-row hashes),
where a row is its values in column-name order, each written in a
canonical text form: numbers through DOUBLE with six decimals and the
trailing zeros stripped (so a DECIMAL 12.50, a DOUBLE 12.5 and an
INTEGER 12 written as 12.0 compare by value), times in UTC, NULL as \\N.
The same rules as the library's dev oracle checker, pushed into SQL so
that a result is never materialized in Python.
"""
import hashlib
import json
import os

import duckdb

FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
            "UINTEGER", "UBIGINT", "FLOAT", "REAL", "DOUBLE", "DECIMAL")


def connect(fixture_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")
    return con


def _canon(name, typ):
    c = '"' + name.replace('"', '""') + '"'
    if typ.startswith(_NUMERIC):
        v = f"rtrim(rtrim(printf('%.6f', CAST({c} AS DOUBLE)), '0'), '.')"
    elif typ.startswith(("TIMESTAMP", "DATE")):
        v = f"strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    else:
        v = f"CAST({c} AS VARCHAR)"
    return f"coalesce({v}, '\\N')"


def fingerprint(con, sql):
    """Fingerprint of the rows `sql` returns."""
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall())
    row = " || '|' || ".join(_canon(n, t) for n, t in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash({row})), 0) AS VARCHAR) FROM ({sql})").fetchone()
    return {"columns": [n_ for n_, _ in cols], "rows": n, "hash": h}


def parquet_sql(path, columns=None, hive=False):
    sel = ", ".join(f'"{c}"' for c in columns) if columns else "*"
    src = f"read_parquet('{path}/**/*.parquet', hive_partitioning={'true' if hive else 'false'})"
    return f"SELECT {sel} FROM {src}"


class OracleCache:
    """Oracle fingerprints keyed by (fixture tag, SQL text): the fixtures
    never change within a checkout, so each oracle query runs once."""

    def __init__(self, path, fixture_tag):
        self.path, self.tag = path, fixture_tag
        try:
            with open(path) as f:
                self.entries = json.load(f)
        except (OSError, ValueError):
            self.entries = {}

    def get(self, con, sql):
        key = hashlib.sha256(f"{self.tag}\n{sql}".encode()).hexdigest()
        if key not in self.entries:
            self.entries[key] = fingerprint(con, sql)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.entries, f)
            os.replace(tmp, self.path)
        return self.entries[key]

"""Order-independent content digest of a query result, computed in DuckDB.

Both sides of the correctness gate go through `digest`: the engine's output
(parquet written by the harness's check pass) and the DuckDB oracle's
result (make_expected.py). Columns are taken in name order and normalized
(integers to BIGINT, timestamps to naive UTC, decimals to DOUBLE), each row
is hashed with DuckDB's `hash`, and the row hashes are summed (the column
names are hashed too), so row order and physical types do not matter while
every name and value does.
"""
import zlib

import duckdb

_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
        "UINTEGER", "UBIGINT"}


def _norm(name, typ):
    q = '"' + name.replace('"', '""') + '"'
    t = str(typ).upper()
    if t in _INT:
        return f"CAST({q} AS BIGINT)"
    if t.startswith("TIMESTAMP"):
        return f"CAST({q} AS TIMESTAMP)"
    if t.startswith("DECIMAL"):
        return f"CAST({q} AS DOUBLE)"
    if t.endswith("[]") and t[:-2] in _INT:
        return f"CAST({q} AS BIGINT[])"
    return q


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def digest(con, relation_sql):
    """(row count, hex digest) of `SELECT * FROM (<relation_sql>)`."""
    rel = con.sql(f"SELECT * FROM ({relation_sql})")
    cols = sorted(zip(rel.columns, rel.types), key=lambda c: c[0])
    header = f"{zlib.crc32('|'.join(c[0] for c in cols).encode()):08x}"
    if not cols:
        return 0, header
    row = "hash(" + ", ".join(_norm(n, t) for n, t in cols) + ")"
    n, s = con.sql(f"SELECT count(*), coalesce(sum({row}::HUGEINT), 0) "
                   f"FROM ({relation_sql})").fetchone()
    return n, f"{header}{int(s) % (1 << 64):016x}"


def digest_parquet(con, path):
    return digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")

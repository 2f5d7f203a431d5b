"""Oracle digests: DuckDB runs each query's oracle SQL over the same derived
tables the engine read, and both sides are reduced to one order-free digest
of their rows.

A row's canonical text joins its columns in name order; integer columns
print as integers and every other numeric column as a DOUBLE, so a
BIGINT/HUGEINT or DECIMAL/DOUBLE difference between the two engines does
not count as a mismatch, while any value difference does (the same rule as
the engine's own oracle check, which compares sorted values exactly).
"""
import hashlib

import duckdb

from . import inputs

INTEGER_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
                 "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}
FLOAT_TYPES = ("FLOAT", "DOUBLE", "DECIMAL", "REAL")


def connect(data_dir, memory_limit, views=True):
    """A DuckDB connection, with the tables under ``data_dir`` as views.
    Spilling is off and memory is capped, so a runaway oracle fails instead
    of filling the disk."""
    con = duckdb.connect()
    con.execute("SET temp_directory = ''")
    con.execute(f"SET memory_limit = '{memory_limit}'")
    con.execute("SET threads = 4")
    for t in inputs.tables(data_dir) if views else []:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def sql_key(sql):
    """Cache key of an oracle's SQL text: a changed oracle is recomputed."""
    return hashlib.sha256(sql.encode()).hexdigest()[:12]


def _canonical(col, typ):
    q = '"' + col.replace('"', '""') + '"'
    if typ in INTEGER_TYPES:
        return f"CAST({q} AS VARCHAR)"
    if typ.startswith(FLOAT_TYPES):
        return f"CAST(CAST({q} AS DOUBLE) AS VARCHAR)"
    return f"CAST({q} AS VARCHAR)"


def digest(con, relation_sql):
    """(sorted column names, row count, md5 of the sorted canonical rows)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE dg AS {relation_sql}")
    cols = sorted((r[0], r[1]) for r in con.execute("DESCRIBE dg").fetchall())
    row = " || chr(31) || ".join(f"coalesce({_canonical(c, t)}, '<null>')" for c, t in cols)
    n, md5 = con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        f"FROM (SELECT {row} AS r FROM dg)").fetchone()
    con.execute("DROP TABLE dg")
    return {"columns": [c for c, _ in cols], "rows": int(n), "md5": md5}


def output_digest(con, parquet_dir):
    return digest(con, f"SELECT * FROM read_parquet('{parquet_dir}/*.parquet')")


def matches(expected, got):
    return (expected is not None and got is not None
            and expected.get("error") is None and got.get("error") is None
            and expected["columns"] == got["columns"]
            and expected["rows"] == got["rows"] and expected["md5"] == got["md5"])

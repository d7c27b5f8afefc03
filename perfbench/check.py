"""Oracle check: compares the program's outputs with DuckDB's results of
the program's own oracle SQL (`graft.SparkEntry.oracleSql`) over the same
generated tables.

Comparison rule (the repository's scripts/check.py rule, made
order-insensitive): columns sorted by name, the same column names, types
of the same family, the same number of rows, and exactly equal cell values
after both sides' rows are sorted. Rows are sorted because a query's
ORDER BY may leave ties whose order a new seed can change.
"""
import glob
import math

import duckdb

from inputs import TABLES

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"}


def _family(t):
    t = str(t).upper()
    if t in INT_TYPES:
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    return t


def _same(a, b):
    return a == b or (isinstance(a, float) and isinstance(b, float)
                      and math.isnan(a) and math.isnan(b))


def connect(input_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet')")
    return con


def _rows(rel):
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, map(str, rel.types)))
    rows = rel.select(", ".join(f'"{c}"' for c in cols)).fetchall()
    return cols, [types[c] for c in cols], sorted(rows, key=repr)


def compare(con, oracle_sql, output_dir):
    """Returns (ok, detail, rows) for one key's output directory."""
    files = glob.glob(f"{output_dir}/*.parquet")
    if not files:
        return False, "no output written", 0
    try:
        got = _rows(con.sql(f"SELECT * FROM read_parquet({files!r})"))
        want = _rows(con.sql(oracle_sql))
    except Exception as e:  # an oracle or output that cannot be read is a failure
        return False, "error: " + str(e).splitlines()[0][:200], 0
    (gc, gt, gr), (wc, wt, wr) = got, want
    if gc != wc:
        return False, f"columns {gc} vs oracle {wc}", len(gr)
    for c, a, b in zip(gc, gt, wt):
        if _family(a) != _family(b):
            return False, f"column {c} type {a} vs oracle {b}", len(gr)
    if len(gr) != len(wr):
        return False, f"{len(gr)} rows vs oracle {len(wr)}", len(gr)
    for i, (a, b) in enumerate(zip(gr, wr)):
        for c, x, y in zip(gc, a, b):
            if not _same(x, y):
                return False, f"row {i} column {c}: {x!r} vs oracle {y!r}", len(gr)
    return True, "ok", len(gr)

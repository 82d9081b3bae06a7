"""Output check: compares a run's result with the DuckDB oracle.

The comparison follows the repository's correctness gate: columns are
compared by name in sorted order, values after normalisation, rows in
order, and column types by equivalence class (all integer widths up to 64
bits are one class; DuckDB's HUGEINT is not). It is kept here rather than
imported so that a change to the repository's tooling cannot change what
the benchmark accepts.
"""
import math

import duckdb

INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def type_class(t):
    u = str(t).upper()
    if u in INTS:
        return "INT64"
    if u in ("FLOAT", "DOUBLE"):
        return "FLOAT"
    if u.startswith("DECIMAL(") and "," in u:
        return "DECIMAL_s" + u.split(",")[1].strip(") ")
    return u


def connect(tables_dir, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def rows(rel, columns=None):
    """(sorted column names, type classes, normalised rows) of a relation."""
    cols = sorted(columns or rel.columns)
    types = dict(zip(rel.columns, rel.types))
    idx = [rel.columns.index(c) for c in cols]
    data = [tuple(norm(r[i]) for i in idx) for r in rel.fetchall()]
    return cols, [type_class(types[c]) for c in cols], data


def compare(got, want):
    """None when equal, else a one-line reason."""
    (gc, gt, gr), (wc, wt, wr) = got, want
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if gt != wt:
        return f"column types {gt} != oracle {wt}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"row {i}: {a} != oracle {b}"
    return None


def check_result(con, result_dir, oracle_sql, columns=None):
    """Compare the parquet result under `result_dir` (restricted to
    `columns` if given) with `oracle_sql`; None when they match."""
    got = rows(con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')"),
               columns)
    return compare(got, rows(con.sql(oracle_sql), columns))

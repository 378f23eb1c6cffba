"""Row-order-insensitive result hashing for the curation check.

The rule is that of tools/selfcheck.py, whose helpers are used here as they
are: a result is hashed as its rows, each the values of its columns in
sorted-column-name order, floats rounded to 9 significant digits, rows
sorted. Only what the benchmark adds is defined here: a signature that two
results must share, and reading one from a parquet result.
"""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import STRICT, TABLES, fetch, table_hash  # noqa: E402


def signature(cols, rows):
    """What two results must share to match: column names, row count, hash."""
    return (sorted(cols), len(rows), table_hash(rows, cols))


def connect(data_dir):
    """A DuckDB connection with every corpus table as a view, registered as
    tools/selfcheck.py registers them."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def parquet_signature(con, path):
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    if not files:
        raise ValueError(f"{path}: no parquet output")
    return signature(*fetch(con, f"SELECT * FROM read_parquet({files!r})"))

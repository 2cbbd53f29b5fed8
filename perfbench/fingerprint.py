"""Result fingerprints for the benchmark's output check.

A fingerprint is the row count plus an order-independent hash of the
rows. Values are canonicalized the way tools/oracle_check.py does it:
columns sorted by name, floats as %.4f with -0.0 kept distinct ("strict"),
NaN as "NaN", NULL as the literal "NULL", timestamps to the microsecond.
Both sides go through DuckDB's pandas fetch, as in that tool, so the
engines' integer/float typing quirks land the same way on each side.
"""
import datetime
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    # pandas surfaces a NULL timestamp as NaT, which is not a float
    if v != v and not isinstance(v, float):
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.4f}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def fingerprint(columns, rows):
    """{"rows", "columns", "hash"} of a result; rows are tuples in
    `columns` order. The hash does not depend on row order."""
    perm = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in perm) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\x1e")
    return {"rows": len(lines), "columns": sorted(columns), "hash": h.hexdigest()}


def of_df(df):
    return fingerprint(list(df.columns), list(df.itertuples(index=False, name=None)))


def connect(data_dir):
    """A DuckDB connection with the corpus tables as views."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def of_parquet_dir(con, path):
    """Fingerprint of a Spark result written as parquet (possibly empty)."""
    files = sorted(os.path.join(path, f) for f in os.listdir(path)
                   if f.endswith(".parquet"))
    if not files:
        return fingerprint([], [])
    return of_df(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())

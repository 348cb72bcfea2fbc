"""Local replica of the driver's correctness gate: run each declared
query on Spark AND its oracle SQL on DuckDB over the same parquet
tables, compare row-count + column names + order-insensitive values."""

from __future__ import annotations

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    import datetime
    import math

    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def compare(spark_df, con, sql: str):
    """Return (ok, detail). Mirrors driver: sorts columns by name, then
    rows, compares stringified cells."""
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        return False, f"schema mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"rowcount mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    cs = _canon_rows(s_cols, s_rows)
    cd = _canon_rows(d_cols, d_rows)
    if cs != cd:
        diff = [(a, b) for a, b in zip(cs, cd) if a != b][:5]
        return False, f"value mismatch, first diffs: {diff}"
    return True, "ok"


def cosine_expr(a, b):
    """Cosine similarity of two float-array columns in double arithmetic,
    left-to-right summation (matches DuckDB's list_* reducers for oracle
    stability; formatted through the %.6e contract regardless).

    ``try_divide``, not ``/``: a zero-norm (all-zero) vector makes the
    denominator 0, and under Spark 4's default ANSI mode a plain divide
    THROWS — one degenerate embedding in 100 TB would kill the scan.
    Cosine of a zero vector is undefined → NULL (the oracle twins mirror
    this with NULLIF on the denominator); NULL-cosine rows rank last /
    never clear a similarity threshold.

    The interpreted reference fold the library's cosine kernel
    (``similarity.cosine_col``) is pinned against, bit for bit."""
    from pyspark.sql import functions as F

    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return F.try_divide(dot, na * nb)

"""Faithful replica of the driver's hash compare — the strict version
of ``oracle_harness.compare``.

The driver materializes the oracle via pandas (``fetchdf``) and hashes
cells formatted as ``%.6e`` for floats and ``str`` for everything else.
That makes TYPE parity part of the contract: a cell that is int on one
engine and float on the other formats differently even when the values
are equal (the r3 HUGEINT failure — see tests/test_oracle_types.py).
``oracle_harness._canon_cell`` deliberately normalizes int-valued
floats, so it can NEVER catch that class; this module can.

Usage (script): python tests/driver_replica.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import duck_connection  # noqa: E402,F401


def _fmt_cell(v) -> str:
    # numpy floats are instances of float; numpy ints are NOT instances
    # of int (they str() identically, so both paths agree with the
    # driver for them).
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "%.6e" % v
    return str(v)


def _rows_fmt(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_fmt_cell(r[i]) for i in order) for r in rows)


def _hash(rows) -> str:
    m = hashlib.md5()
    for r in rows:
        for c in r:
            m.update(c.encode())
            m.update(b"\x00")
    return m.hexdigest()


def strict_compare(spark_df, con, sql: str, model: str = "pandas"):
    """Return (ok, detail) under driver-style formatting.

    ``model='pandas'`` (best-supported by r3 evidence): BOTH sides go
    through pandas — ``spark_df.toPandas()`` vs duckdb ``fetchdf()`` —
    then cells format as ``%.6e`` for floats, ``str`` otherwise. Under
    that model a nullable int column becomes float64 on BOTH engines
    (NULLs align as ``nan``), while DuckDB-only widenings
    (HUGEINT → float64) stay visible — exactly the class that went red
    in CORRECTNESS_r03 (r3's asof_join_events, nullable BIGINT on both
    sides, was GREEN — which refutes any mixed collect-vs-fetchdf
    model). ``model='python'``: ``collect()`` vs ``fetchall()`` —
    native Python values on both sides. A twin passing BOTH models is
    fetch-path-proof."""
    s_cols = list(spark_df.columns)
    if model == "pandas":
        spdf = spark_df.toPandas()
        s_rows = [tuple(row) for row in spdf.itertuples(index=False, name=None)]
        pdf = con.execute(sql).fetchdf()
        d_cols = list(pdf.columns)
        d_rows = [tuple(row) for row in pdf.itertuples(index=False, name=None)]
    else:
        s_rows = [tuple(r) for r in spark_df.collect()]
        res = con.execute(sql)
        d_cols = [c[0] for c in res.description]
        d_rows = res.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        return False, f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"rowcount: spark={len(s_rows)} duck={len(d_rows)}"
    fs = _rows_fmt(s_cols, s_rows)
    fd = _rows_fmt(d_cols, d_rows)
    if _hash(fs) != _hash(fd):
        diffs = [(a, b) for a, b in zip(fs, fd) if a != b][:3]
        cols = sorted(s_cols)
        detail = []
        for a, b in diffs:
            cells = [
                (cols[i], a[i], b[i]) for i in range(len(cols)) if a[i] != b[i]
            ]
            detail.append(cells)
        return False, f"hash mismatch, first cell diffs: {detail}"
    return True, "ok"


def driver_builder():
    """The external driver's session shape: deliberately bare (local[8],
    8 shuffle partitions, UTC, UI off, no Arrow guarantee) — NOT
    ``petk_spark.session.recommended_builder``. The driver builds its
    own session, so every twin must hold without our recommended
    settings. Callers may add overrides before ``getOrCreate()``."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )


def main(argv):
    import __spark_entry__ as entry

    positional = [a for a in argv[1:] if not a.startswith("--")]
    # first positional is the sf_dir only if it actually is a
    # directory; otherwise it's a query name and the default dir holds
    if positional and os.path.isdir(positional[0]):
        sf_dir = positional[0]
        positional = positional[1:]
    else:
        sf_dir = "/root/testdata/sf0.01"
    builder = driver_builder()
    if "--adversarial" in argv:
        # The driver builds its own session; nothing guarantees UTC,
        # non-ANSI, or Arrow-backed toPandas. Every twin must hold
        # under the hostile combination too.
        builder = (
            builder.config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.sql.ansi.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "false")
        )
    spark = builder.getOrCreate()
    con = duck_connection(sf_dir)
    queries, oracles = entry.queries(), entry.oracle_sql()
    args = positional
    models = (
        ["pandas", "python"] if "--both" in argv
        else ["python"] if "--python-model" in argv
        else ["pandas"]
    )
    names = args or [n for n in queries if n in oracles]
    bad = 0
    for name in names:
        for model in models:
            try:
                ok, detail = strict_compare(
                    queries[name](spark, sf_dir), con, oracles[name], model
                )
            except Exception as exc:  # noqa: BLE001
                ok, detail = False, f"EXC {type(exc).__name__}: {exc}"
            if not ok:
                bad += 1
            print(
                f"{'PASS' if ok else 'FAIL'} [{model}] {name} "
                f"{detail if not ok else ''}",
                flush=True,
            )
    print(f"strict driver replica: {len(names) * len(models) - bad}"
          f"/{len(names) * len(models)} pass")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))

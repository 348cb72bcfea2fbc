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


def shingle_hash_expr(shingle):
    """Engine-portable base hash of a shingle, reduced mod P: the first
    15 hex chars (60 bits — always positive in signed 64) of md5, parsed
    as an integer. Spark: conv(substr(md5(s),1,15),16,10); DuckDB:
    ('0x' || substr(md5(s),1,15))::BIGINT — verified bit-identical."""
    from pyspark.sql import functions as F

    from petk_spark.operators.dedup import MINHASH_P

    return (
        F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("bigint")
        % MINHASH_P
    )


def _min_sig_exprs(k: int):
    """k min-aggregate expressions over the pre-hashed shingle column
    ``hx``: one md5 per shingle + k (a·x+b) mod P transforms."""
    from pyspark.sql import functions as F

    from petk_spark.operators.dedup import MINHASH_P, minhash_params

    return [
        F.min((F.lit(a) * F.col("hx") + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_params(k))
    ]


def minhash_signatures_reference(df, id_col, text_col, n=3, k=64):
    """(id, sig) from the exploded shingle frame and a groupBy of k min
    aggregates — the JVM pipeline ``dedup.minhash_signatures`` is pinned
    against."""
    from pyspark.sql import functions as F

    from petk_spark.operators.dedup import shingle_frame

    hx = shingle_frame(df, id_col, text_col, n).select(
        "id", shingle_hash_expr(F.col("shingle")).alias("hx")
    )
    return hx.groupBy("id").agg(*_min_sig_exprs(k)).select(
        "id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig")
    )


def minhash_lsh_reference(
    df, id_col, text_col, n=3, k=64, bands=16, threshold=0.8, verify_exact=True
):
    """The JVM MinHash+LSH pipeline ``dedup.minhash_lsh_near_dup`` is
    pinned against: signatures from :func:`minhash_signatures_reference`,
    the same band keys and candidate self-join, and exact Jaccard from a
    join on (candidate, shingle) over the exploded shingle frame."""
    from pyspark.sql import functions as F

    from petk_spark.operators.dedup import shingle_frame

    r = k // bands
    sh = shingle_frame(df, id_col, text_col, n)
    sig = minhash_signatures_reference(df, id_col, text_col, n, k)
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.element_at("sig", b * r + j + 1) for j in range(r)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select("id", F.explode(band_entries).alias("e")).select(
        "id", "e.band", "e.bucket"
    )
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    cand = (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify_exact:
        return cand
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
    n_common = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        n_common.join(sizes.toDF("id_a", "sh_a"), "id_a")
        .join(sizes.toDF("id_b", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sh_a") + F.col("sh_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

"""Training-window document chunking and token-budget sequence packing
(beyond-reference extensions, SURVEY §2.F27/F28) — the last mile of a
training-data pipeline after cleaning/dedup/sampling: split long
documents into overlapping token windows, then bin chunks/documents
into fixed-token-budget packs.

Both operators are deterministic pure functions of the input (no RNG,
no partitioning dependence), so a re-run — or the DuckDB oracle —
reproduces byte-identical chunk and pack assignments.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """(id, chunk_id, n_tokens, chunk_text): overlapping token windows
    of ``chunk_tokens`` whitespace tokens every ``stride`` tokens
    (stride < chunk_tokens ⇒ overlap, the usual training setup).
    Documents shorter than one window yield exactly one chunk; NULL
    text yields none.

    Scale shape: row-local explode — no shuffle; output rows ≈
    corpus_tokens / stride. The window arithmetic is expression-only
    (sequence/slice HOFs): chunking is run-once materialization, not a
    per-query hot path — if it ever is, the Arrow-UDF rewrite used for
    shingles (dedup._shingles) applies unchanged."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("__tk"), F.size(toks).alias("__n")
    ).where(F.col("__n") > 0)
    # stride-aligned starts, plus a final tail chunk at n-chunk_tokens
    # when the alignment would leave trailing tokens uncovered — every
    # token belongs to at least one chunk.
    m = F.greatest(F.col("__n") - chunk_tokens, F.lit(0))
    starts = F.concat(
        F.sequence(F.lit(0), m, F.lit(stride)),
        F.when(m % stride != 0, F.array(m)).otherwise(
            F.array().cast("array<int>")
        ),
    )
    chunks = base.select(
        "id",
        F.posexplode(starts).alias("chunk_id", "start"),
        "__tk",
        "__n",
    )
    return chunks.select(
        "id",
        "chunk_id",
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("start")).alias(
            "n_tokens"
        ),
        F.concat_ws(
            " ", F.slice("__tk", F.col("start") + 1, chunk_tokens)
        ).alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens: Column,
    target_tokens: int = 2048,
    n_buckets: int = 64,
) -> DataFrame:
    """(id, n_tokens, bucket, pack_id): token-budget binning — items
    are laid out in deterministic ``id`` order inside ``n_buckets``
    hash buckets and cut into packs wherever the running token total
    crosses ``target_tokens``.

    pack boundaries use the EXCLUSIVE prefix sum (``floor(prefix /
    target)``), so a pack may overrun ``target_tokens`` by at most one
    item — the standard cumsum approximation of greedy first-fit
    (exact bin packing is inherently sequential). Items longer than the
    budget occupy their own pack(s).

    Scale shape: one shuffle on the bucket key; the running sum is a
    per-bucket window — bucket count bounds reducer state, and packing
    quality is unaffected by bucketing (each bucket packs
    independently). Deterministic: bucket = md5-derived hash of the id
    mod n_buckets and the intra-bucket order is ``id`` —
    engine-portable, partitioning-independent (the same 60-bit md5
    parse as text._base_hash)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % n_buckets
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.select(
        F.col(id_col).alias("id"),
        tokens.cast("long").alias("n_tokens"),
        bucket.cast("int").alias("bucket"),
    )
    return base.withColumn(
        "pack_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / F.lit(float(target_tokens))
        ).cast("long"),
    )

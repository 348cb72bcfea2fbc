"""Paragraph-level dedup / boilerplate removal (SURVEY §2.F37) —
beyond-reference LLM-pipeline operator (no counterpart in petk).

The RefinedWeb/Dolma-style sub-document pass: web corpora repeat the
same navigation footers, cookie banners, and subscribe prompts across
millions of pages; document-level dedup never sees them. This module
splits documents into paragraphs, fingerprints each one, measures
corpus-wide paragraph frequency, and rewrites documents with the hot
("boilerplate") paragraphs removed.

Scale design (100 TB): the split/normalize/hash stage is a row-local
projection (posexplode + md5 — JVM, no Python); frequency is ONE hash
aggregation on the 16-byte paragraph hash (map-side partials absorb
per-doc repeats); the boilerplate SET (paragraphs above the doc-count
threshold) is small by construction — hot paragraphs are few, that is
what makes them boilerplate — so removal is a BROADCAST anti-join, and
reassembly is one shuffle on the doc id. Two data-proportional
shuffles total, no driver materialization, no all-pairs stage.

Cross-engine contract: the split regex, whitespace normalization, and
md5 hex fingerprints stay in the Java∩RE2 subset, so DuckDB
(string_split_regex / regexp_replace / md5) replays every stage for
the driver oracle.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Paragraph separator: one-or-more blank lines (optionally carrying
#: horizontal whitespace), the standard plain-text convention. The
#: ``\r?`` arms accept Windows CRLF paragraph breaks (round-8
#: advisory); non-capturing groups keep the pattern inside the
#: Java∩RE2 subset the DuckDB twin replays verbatim.
PARAGRAPH_SEP = r"(?:\r?\n)[ \t]*(?:\r?\n)+"


def _normalized(para: Column) -> Column:
    """Canonical form a paragraph is fingerprinted under: lowercased,
    inner whitespace collapsed, trimmed — the same normalization the
    document-level fingerprint uses, so near-identical boilerplate
    (trailing spaces, case drift) folds onto one hash."""
    return F.trim(F.regexp_replace(F.lower(para), r"\s+", " "))


def paragraph_frame(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One row per non-empty paragraph: ``(id, pos, paragraph,
    para_hash)`` with ``pos`` the 0-based position among the document's
    SPLIT pieces (gaps where empty pieces were dropped keep the
    original relative order, which is all reassembly needs). Row-local:
    split + posexplode + md5, zero shuffles. NULL text yields no rows
    (explode of NULL array)."""
    pieces = F.posexplode(
        F.split(F.col(text_col), PARAGRAPH_SEP)
    )
    long = df.select(
        F.col(id_col).alias("id"), pieces.alias("pos", "paragraph")
    ).filter(F.trim(F.col("paragraph")) != "")
    return long.withColumn(
        "para_hash", F.md5(_normalized(F.col("paragraph")))
    )


def paragraph_frequency(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus paragraph-frequency table: ``(para_hash, n_docs,
    n_occurrences)`` — the curation input for choosing a boilerplate
    threshold. One hash aggregate on the paragraph hash."""
    paras = paragraph_frame(df, id_col, text_col)
    return paras.groupBy("para_hash").agg(
        F.count_distinct("id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 10,
    sep: str = "\n\n",
    hot: DataFrame | None = None,
) -> DataFrame:
    """Rewrite each document with boilerplate paragraphs removed:
    every paragraph whose normalized hash appears in ≥ ``min_docs``
    DISTINCT documents is dropped, survivors are rejoined in original
    order by ``sep``. Returns ``(id, text, n_paragraphs,
    n_paragraphs_kept)`` — a document that was ALL boilerplate keeps a
    row with empty text (the caller's length filter is the right place
    to drop it; silently losing rows here would corrupt id joins).
    Documents with NULL text keep NULL text and zero counts.

    Physical plan — built for the fat-text-column scan to be the unit
    of cost: ``posexplode_outer`` keeps NULL-text and zero-paragraph
    documents IN BAND (one (NULL pos) row each), so there is no
    re-join against the original frame; the hot set (small by
    construction — hot paragraphs are few, that is what makes them
    boilerplate) comes back as a **broadcast** left join marking each
    piece, and ONE ``groupBy(id)`` (shuffle on the doc id) produces
    the counts and the order-restored rebuilt text together. Total:
    TWO scans (frequency + rewrite) and one data-proportional shuffle.
    Pass a precomputed ``hot`` frame (one ``para_hash`` column, e.g.
    yesterday's :func:`paragraph_frequency` output filtered to the
    threshold) to skip the frequency pass — the production shape at
    100 TB is frequency once, rewrite many, ONE scan per rewrite."""
    if hot is None:
        hot = (
            paragraph_frequency(df, id_col, text_col)
            .filter(F.col("n_docs") >= F.lit(min_docs))
            .select("para_hash")
        )
    else:
        # caller-supplied hot sets may carry duplicate hashes (e.g. a
        # union of two days' frequency tables); without distinct the
        # broadcast left join would multiply matched piece rows and
        # inflate the paragraph counts (round-8 advisory). The
        # internally-computed branch above is already distinct (it is
        # the frequency groupBy's key set).
        hot = hot.select("para_hash").distinct()
    pieces = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(
            F.split(F.col(text_col), PARAGRAPH_SEP)
        ).alias("pos", "paragraph"),
    )
    # real = a non-empty paragraph; empty split pieces and the NULL
    # marker row fall out of every count below but keep the doc's
    # group alive (pos NULL ⇔ the document's text was NULL)
    real = F.trim(F.col("paragraph")) != ""
    marked = pieces.withColumn(
        "para_hash",
        F.when(real, F.md5(_normalized(F.col("paragraph")))),
    ).join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))),
        "para_hash",
        "left",
    )
    keep = F.col("para_hash").isNotNull() & F.col("__hot").isNull()
    return marked.groupBy("id").agg(
        F.when(
            F.max("pos").isNotNull(),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("pos", "paragraph"))
                        )
                    ),
                    lambda s: s["paragraph"],
                ),
                sep,
            ),
        ).alias("text"),
        F.count(F.when(F.col("para_hash").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("n_paragraphs"),
        F.count(F.when(keep, F.lit(1)))
        .cast("long")
        .alias("n_paragraphs_kept"),
    )


#: Python twin of :func:`_normalized` for the Arrow kernel. ``re.ASCII``
#: pins ``\s`` to Java's default char class ([ \t\n\x0B\f\r]); the
#: trailing ``.strip(" ")`` matches Spark's space-only ``trim``.
_PY_WS = re.compile(r"\s+", re.ASCII)


def _py_normalized(line: str) -> str:
    return _PY_WS.sub(" ", line.lower()).strip(" ")


def dedupe_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
) -> DataFrame:
    """WITHIN-document line dedup: keep the FIRST occurrence of each
    normalized line, drop later repeats — the removal counterpart of
    the F34 repetition *signals* (a chat scrape's repeated menu rows,
    a log's repeated status line). Returns ``(id, text, n_lines,
    n_lines_kept)``; NULL text stays NULL with zero counts.
    Whitespace-only lines are exempt (kept verbatim): they are
    layout, not content, and folding every blank separator onto its
    first occurrence would destroy paragraph structure. ``sep`` is a
    LITERAL separator on both the split and the rejoin.

    One Arrow-batched ``mapInPandas`` kernel with a per-document seen
    SET of normalized forms: each line costs one hash probe instead of
    a scan of every earlier kept line, so the pathological corpora
    this operator exists for (a 100k-line scraped table or log dump)
    cost ~10⁵ set probes per doc, not ~10¹⁰ string compares in one
    task (round-8 verdict #1). Row-local: zero shuffles, zero joins,
    embarrassingly parallel scan work at 100 TB. DuckDB replays it
    with ``list_position`` for the oracle twin and the parity test."""
    if not sep:
        raise ValueError("sep must be a non-empty string")
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"id {id_type}, text string, n_lines long, n_lines_kept long"
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, texts, nl, nk = [], [], [], []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                ids.append(doc_id)
                if t is None or (not isinstance(t, str) and pd.isna(t)):
                    texts.append(None)
                    nl.append(0)
                    nk.append(0)
                    continue
                lines = t.split(sep)
                seen: set[str] = set()
                kept: list[str] = []
                for line in lines:
                    norm = _py_normalized(line)
                    # blank-exempt lines are KEPT but still enter the
                    # seen set, so a later tab-only line (non-blank
                    # under the space-only trim, normalized form "")
                    # folds onto an earlier blank
                    if line.strip(" ") == "" or norm not in seen:
                        kept.append(line)
                        seen.add(norm)
                texts.append(sep.join(kept))
                nl.append(len(lines))
                nk.append(len(kept))
            yield pd.DataFrame(
                {
                    "id": ids,
                    "text": pd.array(texts, dtype=object),
                    "n_lines": nl,
                    "n_lines_kept": nk,
                }
            )

    return df.select(id_col, text_col).mapInPandas(kern, schema)

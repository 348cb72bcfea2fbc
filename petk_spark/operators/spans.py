"""Span-level exact-substring dedup and eval-set decontamination
(SURVEY §2.F41 + F42) — beyond-reference LLM-pipeline operators (no
counterpart in petk; reference parity: none — the reference profiles
frames, a pre-training pipeline must also cut corpus-duplicated spans
out of otherwise-unique documents and keep benchmark text out of the
training set).

F41 is the distributed recipe behind "Deduplicating Training Data
Makes Language Models Better" (Lee et al., arXiv:2107.06499) re-based
on Spark: instead of a single-node suffix array, duplicated spans are
found as rolling ``window``-token fingerprints shared by ≥
``min_docs`` DISTINCT documents, and every token covered by a
duplicated window is removed. Token-space rebuild (survivors joined
by single spaces) is the documented simplification — the whitespace
inside a document is not training signal for the corpora this targets.

F42 is contamination control: the SAME rolling fingerprints, but the
right side is a small evaluation/benchmark corpus, which makes the
join BROADCAST — the 100 TB side never shuffles.

Scale shapes (both audited by tools/plan_audit.py):

* ``remove_repeated_spans``: window explode carries only
  ``(id, i, fp)`` — 16-24 bytes per token, never the text — through
  one (id,fp)-dedup + one fp-groupBy (doc frequency), one fp join
  back (hot hits), one id-groupBy (hit starts per doc), and one id
  join to the original frame. The removal itself is one row-local
  Arrow kernel (O(T + H·w) per doc); DuckDB replays its output for
  the driver oracle.
* ``contamination_report``: the eval fingerprint set is collected to
  a BROADCAST (benchmarks are MBs against a 100 TB train side), so
  the whole pass is one train-side scan + one id-groupBy; no
  train-vs-train self-join anywhere (that is
  :func:`~petk_spark.operators.dedup.fingerprint_overlap`'s job).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petk_spark.operators.text import _words, rolling_fingerprints


def span_fingerprint_frame(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """One row per rolling ``window``-token fingerprint occurrence:
    ``(id, i, fp)`` where ``i`` is the 0-based token index the window
    starts at. Documents shorter than ``window`` tokens contribute NO
    rows — a short document's only "span" is the whole document,
    which is exact dedup's job (:func:`dedup.dedup_exact`), not span
    surgery's. The fingerprint is the engine-portable 60-bit md5 base
    hash (`text.rolling_fingerprints`), so everything downstream is
    oracle-checkable."""
    n_toks = F.size(
        F.filter(
            F.split(F.col(text_col), r"\s+"), lambda t: t != ""
        )
    )
    return (
        df.filter(F.col(text_col).isNotNull() & (n_toks >= window))
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(
                rolling_fingerprints(F.col(text_col), window)
            ).alias("i", "fp"),
        )
    )


def repeated_span_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus frequency of duplicated spans: ``(fp, n_docs,
    n_occurrences)`` for every window fingerprint appearing in ≥
    ``min_docs`` DISTINCT documents. The production shape at 100 TB
    is this frame computed ONCE (one dedup + one hash agg on an
    8-byte key), then fed to many :func:`remove_repeated_spans`
    rewrites via ``hot=`` — the same frequency-once/rewrite-many
    split as :func:`paragraphs.remove_boilerplate`."""
    occ = span_fingerprint_frame(df, id_col, text_col, window)
    return (
        occ.groupBy("fp")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= F.lit(min_docs))
    )


def _remove_spans_arrow(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """Row-local Arrow removal kernel over ``(id, text, hits)`` where
    ``hits`` is the sorted array of duplicated-window start indices
    (NULL for untouched docs): per document a Python covered-index
    set costs O(T + H·window) — no interpreted per-token scan of the
    hit list."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"id {id_type}, text string, n_tokens long, n_tokens_kept long"
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, texts, nt, nk = [], [], [], []
            for doc_id, t, hits in zip(
                pdf[id_col], pdf[text_col], pdf["hits"]
            ):
                ids.append(doc_id)
                if t is None or (not isinstance(t, str) and pd.isna(t)):
                    texts.append(None)
                    nt.append(0)
                    nk.append(0)
                    continue
                toks = _words(t)
                if hits is None or len(hits) == 0:
                    texts.append(" ".join(toks))
                    nt.append(len(toks))
                    nk.append(len(toks))
                    continue
                covered: set[int] = set()
                for s in hits:
                    covered.update(range(int(s), int(s) + window))
                kept = [
                    w for j, w in enumerate(toks) if j not in covered
                ]
                texts.append(" ".join(kept))
                nt.append(len(toks))
                nk.append(len(kept))
            yield pd.DataFrame(
                {
                    "id": ids,
                    "text": pd.array(texts, dtype=object),
                    "n_tokens": nt,
                    "n_tokens_kept": nk,
                }
            )

    return df.mapInPandas(kern, schema)


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_docs: int = 2,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Cut corpus-duplicated token spans out of each document (the
    Lee-et-al exact-substring dedup recipe, token-fingerprint form):
    token ``j`` is removed iff some duplicated window — a rolling
    ``window``-token fingerprint shared by ≥ ``min_docs`` distinct
    documents — covers it. Returns ``(id, text, n_tokens,
    n_tokens_kept)`` with survivors rejoined by single spaces
    (token-space rebuild, documented). NULL text stays NULL with zero
    counts; documents shorter than ``window`` tokens pass through
    UNCHANGED apart from the whitespace normalization (their only
    span is the whole document — exact dedup's job).

    Pass a precomputed ``hot`` frame (one ``fp`` column, e.g.
    yesterday's :func:`repeated_span_frame`) to skip the frequency
    pass — the production shape is frequency once, rewrite many.

    The removal is an Arrow-batched ``mapInPandas`` kernel with a
    per-document covered-index SET, O(T + H·window) per doc; DuckDB
    replays it (``list_contains`` over the covered ranges) for the
    oracle twin and the parity test."""
    if hot is None:
        hot = repeated_span_frame(
            df, id_col, text_col, window, min_docs
        ).select("fp")
    else:
        # caller-supplied hot sets may carry duplicates (a union of
        # two days' frequency tables) — without distinct the inner
        # join below would multiply hit rows (the F37 advisory class)
        hot = hot.select("fp").distinct()
    occ = span_fingerprint_frame(df, id_col, text_col, window)
    # NOT broadcast by design: with heavy crawl duplication the hot
    # span set is corpus-scale (unlike F37's boilerplate paragraphs);
    # an 8-byte-key shuffle join is the honest default and AQE turns
    # it into a broadcast join when the set really is small.
    hits = (
        occ.join(hot, "fp")
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("i")).alias("hits"))
    )
    joined = df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).join(hits.withColumnRenamed("id", id_col), id_col, "left")
    return _remove_spans_arrow(joined, id_col, text_col, window)


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    window: int = 8,
    min_common: int = 2,
) -> DataFrame:
    """Train docs sharing ≥ ``min_common`` DISTINCT rolling
    ``window``-token fingerprints with ANY document of an
    evaluation/benchmark corpus: ``(id, n_common)``. This is the
    GPT-3/PaLM-class n-gram decontamination test, and unlike
    :func:`dedup.fingerprint_overlap` (train-vs-train self-join) the
    right side here is small by definition — its fingerprint set is
    **broadcast**, so the 100 TB train side is one scan + one
    id-groupBy and never shuffles its fingerprints."""
    eval_fps = (
        span_fingerprint_frame(
            eval_df,
            eval_id_col or id_col,
            eval_text_col or text_col,
            window,
        )
        .select("fp")
        .distinct()
    )
    train_fps = span_fingerprint_frame(
        train, id_col, text_col, window
    ).dropDuplicates(["id", "fp"])
    return (
        train_fps.join(F.broadcast(eval_fps), "fp")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= F.lit(min_common))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    window: int = 8,
    min_common: int = 2,
) -> DataFrame:
    """``train`` with contaminated documents REMOVED (left anti join
    against :func:`contamination_report`'s id set). The report side
    is at most one row per contaminated doc — usually tiny, and AQE
    picks a broadcast anti join when it is; a pathological fully
    contaminated corpus degrades to an id-key shuffle, never a
    cross product."""
    bad = contamination_report(
        train, eval_df, id_col, text_col,
        eval_id_col, eval_text_col, window, min_common,
    ).select(F.col("id").alias(id_col))
    return train.join(bad, id_col, "left_anti")

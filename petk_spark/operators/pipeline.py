"""Composite training-data cleaning pipeline (SURVEY §2.F13).

The canonical pre-training corpus pass — language filter → quality
threshold → canonical-fingerprint dedup — composed from the individual
oracle-green text operators (``operators/text.py``). One declared
operator instead of three ad-hoc stages: the point is that the FILTER
comparisons (not just the displayed values) are deterministic across
engines, so the kept-document SET itself is the correctness contract.

Scale design: everything before the dedup window is a stateless
projection + filter (pushed to the scan, no shuffle); the keep-first
dedup shuffles once on the 16-byte fingerprint — the classic exact-dedup
shape that holds at 100 TB (hash-partitioned, map-side filtered, no
driver involvement). Near-dup layers (MinHash/SimHash) are separate
operators by design: at corpus scale you run them AFTER the cheap exact
pass shrinks the data.

Cross-engine determinism (why the threshold filter is hash-safe): every
quality signal is a single int/int division, and the score combines them
in a fixed left-to-right order — the identical IEEE double expression
DuckDB evaluates, so ``q >= t`` can't flap on a boundary document
(verified by the text_quality query hash-matching the formatted score).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from petk_spark.operators.dedup import dedup_first_by
from petk_spark.operators.text import fingerprint, language_id, quality_score


def _clean(
    df: DataFrame, text: Column, keep: list, lang: str, min_quality: float
) -> DataFrame:
    """``keep`` + ``(lang_pred, quality, fingerprint)`` of ``text``,
    filtered to ``lang`` at ``min_quality`` and deduped to one row per
    fingerprint (lowest ``id`` wins) — the language → quality →
    fingerprint-dedup stages :func:`corpus_clean` and
    :func:`prepare_training_corpus` share."""
    scored = df.select(
        *keep,
        language_id(text).alias("lang_pred"),
        quality_score(text).alias("quality"),
        fingerprint(text).alias("fingerprint"),
    )
    kept = scored.filter(
        (F.col("lang_pred") == lang) & (F.col("quality") >= min_quality)
    )
    return dedup_first_by(kept, ["fingerprint"], "id")


def prepare_training_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang: str = "en",
    min_quality: float = 0.5,
    boilerplate_min_docs: int | None = 10,
    redact: bool = True,
    span_dedup_min_docs: int | None = None,
    span_window: int = 8,
    lm: DataFrame | None = None,
    lm_oov_logp: float | None = None,
    max_bits_per_token: float | None = None,
    canonicalize: bool = False,
) -> DataFrame:
    """The full pre-training scrub+clean pass, stages in the order a
    production pipeline wants them (round 8, composing F37 → F36 →
    F13):

    1. **boilerplate removal** (cross-document repeated paragraphs;
       skipped when ``boilerplate_min_docs`` is None) — FIRST, so
       shared footers don't drag every page's quality score down and
       don't collide distinct pages onto one dedup fingerprint;
    2. **PII redaction** (canonical-order typed placeholders) —
       before dedup, so two pages differing only in the PII they leak
       fold together;
    3. **span-level exact-substring dedup** (F41; opt-in via
       ``span_dedup_min_docs``) — after the scrub (so redaction
       placeholders, not raw PII, participate in the fingerprints)
       and before the document-level filters (a cut span changes the
       quality score and the dedup fingerprint of what remains);
    4. **language / quality / fingerprint-dedup filter**
       (:func:`corpus_clean`) on the scrubbed text;
    5. **LM perplexity filter** (F46; opt-in by passing a trained
       ``lm`` + ``lm_oov_logp`` + ``max_bits_per_token``) — LAST,
       cheapest-last ordering does not apply (it is row-local either
       way) but filtering after dedup means the model scores each
       surviving distinct document once.

    Round 9 adds stages 3 and 5 as OPT-IN composition points
    (defaults keep the round-8 three-stage contract byte-identical —
    the hashed ``prep`` twin family runs with them off).

    Round 14 (r13 verdict #7) adds stage **0**: ``canonicalize=True``
    runs F59's Unicode canonicalization (NFC + zero-width strip,
    :func:`~petk_spark.operators.text.canonicalize_text_frame`) on the
    raw text BEFORE everything else, so composed and decomposed
    spellings — and zero-width-obfuscated PII — fold together in the
    boilerplate, redaction, and dedup fingerprints instead of
    requiring manual plumbing. Opt-in: the default keeps every
    existing hash byte-stable. Row-local Arrow kernel, zero shuffles
    added.

    Returns the kept rows as ``(id, text, lang_pred, quality,
    fingerprint)`` — ``text`` is the scrubbed form the filters were
    computed on, ready for tokenization (plus ``bits_per_token`` when
    the LM stage is on). Scale: stage 1 is two scans + one doc-id
    shuffle (or one scan with a precomputed hot set — see
    :func:`petk_spark.operators.paragraphs.remove_boilerplate`),
    stage 3 adds the F41 fingerprint shuffles, stages 2/4 fuse into
    row-local projections + the fingerprint window's single shuffle,
    stage 5 is a row-local Arrow kernel."""
    from petk_spark.operators.paragraphs import remove_boilerplate
    from petk_spark.operators.pii import redact_pii

    if (lm is None) != (lm_oov_logp is None) or (
        (lm is None) != (max_bits_per_token is None)
    ):
        raise ValueError(
            "the LM stage needs all of lm, lm_oov_logp and "
            "max_bits_per_token (or none of them)"
        )
    if canonicalize:
        from petk_spark.operators.text import canonicalize_text_frame

        df = canonicalize_text_frame(df, text_col)
    if boilerplate_min_docs is not None:
        scrubbed = remove_boilerplate(
            df, id_col, text_col, min_docs=boilerplate_min_docs
        ).select("id", "text")
    else:
        scrubbed = df.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
    if redact:
        scrubbed = redact_pii(scrubbed, "text")
    if span_dedup_min_docs is not None:
        from petk_spark.operators.spans import remove_repeated_spans

        scrubbed = remove_repeated_spans(
            scrubbed, "id", "text",
            window=span_window, min_docs=span_dedup_min_docs,
        ).select("id", "text")
    # corpus_clean's stages WITH the text column retained — a
    # join-back against `scrubbed` would re-execute the whole scrub
    # chain a second time (lineage, not a materialized table).
    out = _clean(
        scrubbed, F.col("text"), ["id", "text"], lang, min_quality
    )
    if lm is not None:
        from petk_spark.operators.lm import lm_bits_per_token

        # in-band Arrow scoring (keep_columns): NO join-back — a join
        # against scores-of-out would re-execute the whole scrub+clean
        # lineage a second time, the same trap the clean stage avoids
        out = lm_bits_per_token(
            out, "id", "text", lm, lm_oov_logp, keep_columns=True
        ).filter(F.col("bits_per_token") <= F.lit(max_bits_per_token))
        out = out.drop("n_tokens")
    return out


def corpus_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang: str = "en",
    min_quality: float = 0.5,
) -> DataFrame:
    """Kept documents after the standard cleaning pass:
    ``(id, lang_pred, quality, fingerprint)`` with one row per distinct
    normalized text (lowest id wins — deterministic)."""
    return _clean(
        df, F.col(text_col), [F.col(id_col).alias("id")], lang, min_quality
    )


def corpus_maintenance_tick(
    spark,
    seen_store_table: str | None = None,
    seen_store_buckets: int = 128,
    seen_store_path: str | None = None,
    seen_dup_frac_threshold: float = 0.01,
    seen_max_files_per_bucket: int = 16,
    ivf_index_path: str | None = None,
    ivf_score_drop_threshold: float = 0.05,
    ivf_share_growth_threshold: float = 2.0,
    ivf_max_generations: int | None = 64,
    ivf_iterations: int = 2,
) -> dict:
    """The ONE scheduled-maintenance entry point a daily corpus job
    calls (round 16, r15 verdict #7): run the two sibling hygiene
    ticks —
    :func:`~petk_spark.operators.dedup.maybe_compact_seen_store`
    (duplicate-mass + fragmentation measurement, rename-aside bucketed
    rebuild) over the incremental-dedup fingerprint store, and
    :func:`~petk_spark.operators.similarity.maybe_retrain_ivf_index`
    (per-cell health → retrain / generation-count compaction) over the
    persistent ANN index — each only when its argument is given, each
    read-only unless its own thresholds trip.

    Returns ``{"seen_store": <tick summary or None>,
    "ivf_index": <tick summary or None>}`` — the per-tick dicts are
    exactly what the underlying functions return, so a scheduler can
    log one JSON blob per day and grep for ``action != "none"``.
    Same single-scheduler contract as the ticks themselves: run from
    one slot, not concurrently with writers."""
    out: dict = {"seen_store": None, "ivf_index": None}
    if seen_store_table is not None:
        from petk_spark.operators.dedup import maybe_compact_seen_store

        out["seen_store"] = maybe_compact_seen_store(
            spark,
            seen_store_table,
            n_buckets=seen_store_buckets,
            dup_frac_threshold=seen_dup_frac_threshold,
            max_files_per_bucket=seen_max_files_per_bucket,
            path=seen_store_path,
        )
    if ivf_index_path is not None:
        from petk_spark.operators.similarity import (
            maybe_retrain_ivf_index,
        )

        out["ivf_index"] = maybe_retrain_ivf_index(
            spark,
            ivf_index_path,
            score_drop_threshold=ivf_score_drop_threshold,
            share_growth_threshold=ivf_share_growth_threshold,
            max_generations=ivf_max_generations,
            iterations=ivf_iterations,
        )
    return out

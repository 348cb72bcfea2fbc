"""Text-analysis operators over string columns (SURVEY §2.F4 +
LLM-pipeline extensions): text profile, token counting, quality scoring,
language identification, document fingerprinting.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM
whole-stage codegen), except ``rolling_fingerprints``, which is an
Arrow-batched pandas UDF — the HOF expression chain it replaces is
CodegenFallback (interpreted per element, measured 3× slower for the
same shape in dedup._shingles). Every operator is a single scan with
map-side partial aggregation where it aggregates.

Oracle notes: token/char counts are integers (bit-stable); ratios are
formatted through the %.6e contract; fingerprints use md5 (identical
algorithm and hex encoding in Spark and DuckDB).
"""

from __future__ import annotations

import hashlib
import re

# Module scope: the pandas_udf type-hint resolver evaluates annotations
# in the function's global namespace (see rolling_fingerprints).
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ASCII whitespace runs: ``re.ASCII`` pins Python's ``\s`` to the class
#: Java, RE2 and DuckDB's ``regexp_split_to_array(.., '\s+')`` use
#: (plain ``str.split()`` would also split on Unicode whitespace).
_WS = re.compile(r"\s+", re.ASCII)


def _words(t: str) -> list[str]:
    """The non-empty tokens of ``t`` split on ASCII whitespace runs — the
    one Python tokenizer of the shingle, fingerprint and SimHash
    kernels (callers lowercase first)."""
    return [w for w in _WS.split(t) if w]


def _base_hash(s: str) -> int:
    """Engine-portable 60-bit base hash of ``s``: the first 15 hex chars
    of its md5 (always positive in signed 64), bit-identical to Spark's
    ``conv(substring(md5(s), 1, 15), 16, 10)`` and DuckDB's
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

#: BPE-ish word/number/punctuation splitter: runs of letters, runs of
#: digits, or single non-space symbols — a deterministic, regex-only
#: approximation of byte-pair tokenizer segment boundaries.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def whitespace_token_count(text: Column, split_cjk: bool = False) -> Column:
    if split_cjk:
        from petk_spark.operators.lm import CJK_CHAR_PATTERN

        text = F.regexp_replace(text, CJK_CHAR_PATTERN, " $1 ")
    toks = F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))
    return F.size(toks)


def bpeish_token_count(text: Column) -> Column:
    """Count of BPE-ish segments via regexp_count (Spark ≥3.5)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


# ---------------------------------------------------------------------------
# quality signals
# ---------------------------------------------------------------------------

#: Tiny deterministic English stopword list for ratio features.
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this",
]


def _toks_of(text: Column, split_cjk: bool = False) -> Column:
    """Lowercased whitespace token array of a text column.
    ``split_cjk`` (round 13) isolates non-spacing-script characters
    into their own tokens first — the same opt-in char-level fallback
    as ``lm._tokens`` (one shared JVM∩RE2 pattern), so every
    token-consuming signal in this module is usable on CJK/Thai text
    where the whitespace split degenerates to one doc-long token."""
    from petk_spark.operators.lm import CJK_CHAR_PATTERN

    if split_cjk:
        text = F.regexp_replace(text, CJK_CHAR_PATTERN, " $1 ")
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != F.lit(""))


def quality_signals(
    text: Column, toks: Column | None = None, split_cjk: bool = False
) -> dict[str, Column]:
    """Per-document quality features, each a single JVM expression.
    Pass a pre-tokenized ``toks`` column to share one tokenization
    across signal families (see :func:`document_signals_frame`)."""
    toks = _toks_of(text, split_cjk) if toks is None else toks
    n_tok = F.size(toks)
    n_chars = F.length(text)
    n_punct = F.regexp_count(text, F.lit("[^a-zA-Z0-9\\s]"))
    n_digit = F.regexp_count(text, F.lit("[0-9]"))
    n_upper = F.regexp_count(text, F.lit("[A-Z]"))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    mean_word_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).cast(
            "double"
        )
        / n_tok,
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "n_tokens_bpeish": bpeish_token_count(text).cast("long"),
        "punct_ratio": F.when(n_chars > 0, n_punct.cast("double") / n_chars),
        "digit_ratio": F.when(n_chars > 0, n_digit.cast("double") / n_chars),
        "upper_ratio": F.when(n_chars > 0, n_upper.cast("double") / n_chars),
        "stopword_ratio": F.when(n_tok > 0, n_stop.cast("double") / n_tok),
        "mean_word_len": mean_word_len,
    }


def quality_score(
    text: Column, toks: Column | None = None, split_cjk: bool = False
) -> Column:
    """Composite [0,1] quality heuristic: long-enough, low punctuation,
    some stopwords (prose-like), plausible word lengths."""
    s = quality_signals(text, toks, split_cjk)
    len_ok = F.least(s["n_tokens"].cast("double") / F.lit(20.0), F.lit(1.0))
    punct_ok = F.greatest(F.lit(0.0), F.lit(1.0) - s["punct_ratio"] * 4)
    stop_ok = F.least(s["stopword_ratio"] * 5, F.lit(1.0))
    wordlen_ok = F.when(
        (s["mean_word_len"] >= 2) & (s["mean_word_len"] <= 12), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + stop_ok + wordlen_ok) / 4


def text_quality_frame(
    df: DataFrame, id_col: str, text_col: str, split_cjk: bool = False
) -> DataFrame:
    """(id, <quality signal columns>, quality_score) per document."""
    t = F.col(text_col)
    toks = _toks_of(t, split_cjk)
    sig = quality_signals(t, toks)
    return df.select(
        F.col(id_col).alias("id"),
        *[c.alias(name) for name, c in sig.items()],
        quality_score(t, toks).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# language identification
# ---------------------------------------------------------------------------

#: Marker-word lists per language — deterministic n-gram/stopword
#: heuristic. Score = number of token hits; argmax with lexicographic
#: tie-break; 'und' (undetermined) when no list scores > 0.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it", "for", "with"],
    "es": ["el", "la", "los", "las", "es", "y", "de", "que", "en", "por"],
    "fr": ["le", "la", "les", "est", "et", "de", "que", "en", "une", "pour"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不", "这", "人"],
}


def language_id(
    text: Column, toks: Column | None = None, split_cjk: bool = False
) -> Column:
    """Predicted language code by marker-word hit count (ties broken by
    language code order; 0 hits → 'und'). ``toks`` as in
    :func:`quality_signals` — NOTE each language's score passes the
    token array once, so sharing a materialized column here saves 5
    tokenizations per row. ``split_cjk=True`` makes the zh marker
    chars matchable in SPACELESS Chinese text — without it a Chinese
    document is one giant token and no marker ever hits."""
    toks = _toks_of(text, split_cjk) if toks is None else toks
    # Fold langs in reverse-lexicographic order with a >= comparison, so
    # on equal scores the lexicographically FIRST language wins.
    score = F.lit(-1)
    out = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        s = F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang])))
        out = F.when((s >= 1) & (s >= score), F.lit(lang)).otherwise(out)
        score = F.greatest(score, s)
    return out


def language_id_frame(
    df: DataFrame, id_col: str, text_col: str, split_cjk: bool = False
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        language_id(F.col(text_col), split_cjk=split_cjk).alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------

def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of the normalized text
    (lowercased, whitespace collapsed to single spaces, trimmed). md5 is
    available and bit-identical in Spark and DuckDB — oracle-safe."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(norm.cast("binary"))


def rolling_fingerprints(text: Column, window: int = 8) -> Column:
    """Rolling fingerprints: a 60-bit md5-derived hash of each
    ``window``-token shingle — array<bigint> per document. The hash is
    the engine-portable base hash (:func:`_base_hash`, the same one the
    MinHash kernel reduces mod P), so overlap detection built on these
    is oracle-checkable; documents shorter than ``window`` tokens
    contribute their whole token string as one fingerprint.

    Arrow-batched pandas UDF. The previous pure-expression version
    (sequence + transform + slice + concat_ws HOFs) computed the same
    arrays, but higher-order functions are CodegenFallback — interpreted
    per element — the identical pattern already measured 3× slower for
    shingling (dedup._shingles) and replaced the same way. Tokenization
    (:func:`_words`) matches dedup._shingles / the DuckDB oracle CTE
    exactly, and lowercasing happens JVM-SIDE (``F.lower``) before the UDF so every tokenizer in the repo
    shares one case mapping — Python's ``str.lower`` disagrees with
    JVM/DuckDB ``lower()`` on Unicode edge cases ('İ', 'ß'), which an
    ASCII fixture would mask."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def u(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            toks = _words(t)
            if len(toks) >= window:
                return [
                    _base_hash(" ".join(toks[i : i + window]))
                    for i in range(len(toks) - window + 1)
                ]
            return [_base_hash(" ".join(toks))]

        return texts.map(one)

    return u(F.lower(text))


def fingerprint_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# F4 — aggregate text profile
# ---------------------------------------------------------------------------

def text_profile(
    df: DataFrame,
    text_col: str,
    group_by: str | None = None,
    split_cjk: bool = False,
) -> DataFrame:
    """Aggregate profile of a text column: doc/char/token counts, length
    stats, token-length stats — optionally per group (e.g. per lang).
    One scan, one shuffle iff grouped."""
    t = F.col(text_col)
    toks = whitespace_token_count(t, split_cjk)
    aggs = [
        F.count(t).alias("n_docs"),
        F.sum(F.length(t)).alias("total_chars"),
        F.sum(toks.cast("long")).alias("total_tokens"),
        F.avg(F.length(t).cast("double")).alias("avg_chars"),
        F.min(F.length(t)).cast("long").alias("min_chars"),
        F.max(F.length(t)).cast("long").alias("max_chars"),
        F.avg(toks.cast("double")).alias("avg_tokens"),
        F.count_distinct(fingerprint(t)).alias("distinct_fingerprints"),
    ]
    if group_by:
        return df.groupBy(F.col(group_by).alias("group_key")).agg(*aggs)
    return df.agg(*aggs)


def top_terms_tfidf(
    df: DataFrame, id_col: str, text_col: str, k: int = 3,
    split_cjk: bool = False,
) -> DataFrame:
    """Top-k distinguishing terms per document with their tf-idf score:
    ``(id, term, tf, df_docs, tfidf, rank)``.

    Plan: explode tokens → per-(doc, term) counts (tf) → per-term
    document frequency from the SAME frame (df) → broadcast the term→df
    map back (vocabulary ≪ corpus) → per-doc top-k window (bounded by
    one document's distinct terms — thousands, not corpus-scale).

    Cross-engine determinism (load-bearing): the RANKING is the integer
    lexicographic order (tf desc, df asc, term asc) — the tf-idf order
    for fixed tf, and fully reproducible. Ranking by the float
    ``tf·ln(N/df)`` itself would let a last-ulp ``ln`` difference
    between engines flip near-equal ranks; the float score is attached
    as a VALUE (absorbed by the %.6e contract) but never compared."""
    toks = F.explode(_toks_of(F.col(text_col), split_cjk)).alias("term")
    long = df.select(F.col(id_col).alias("id"), toks)
    tf = long.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = df.select(F.count(F.col(id_col)).alias("n_docs"))

    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("tf").desc(), F.col("df_docs").asc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log(F.col("n_docs").cast("double") / F.col("df_docs")),
        )
        .select("id", "term", "tf", "df_docs", "tfidf", "rank")
    )


def token_histogram(
    df: DataFrame, text_col: str, top_n: int = 20, split_cjk: bool = False
) -> DataFrame:
    """Top-n token frequencies (count desc, token asc — deterministic)."""
    toks = F.explode(_toks_of(F.col(text_col), split_cjk)).alias("token")
    counts = df.select(toks).groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(top_n)


# ---------------------------------------------------------------------------
# Repetition signals (Gopher/RefinedWeb-style quality filters)
# ---------------------------------------------------------------------------

def repetition_signals(text: Column) -> dict[str, Column]:
    """Within-document repetition features, each a single row-local JVM
    expression (higher-order functions over the line array — no
    explode, no shuffle, so the 100 TB cost is a projection on the
    scan):

      * ``dup_line_frac`` — fraction of non-empty lines that are a
        repeat of an earlier line (1 − distinct/total).
      * ``dup_line_char_frac`` — fraction of line characters carried by
        those repeats (total line chars − distinct line chars, over
        total): boilerplate blocks weigh by their size, not their
        count.
      * ``max_line_frac`` — characters of the single most repeated line
        over total line characters (the "same banner every other line"
        signal): ``array_sort`` the lines, then ONE ``aggregate`` pass
        tracking the current equal-run length and maxing
        ``run·length(line)`` — O(L log L) row-local, no shuffle. (The
        previous transform-over-distinct × filter-over-lines form was
        O(distinct·total) per row: a hostile 100k-line mostly-distinct
        document cost ~10¹⁰ comparisons on one task — exactly the
        pathological-document class this filter exists to catch.
        Bounded-time pinned by the 50k-line test in tests/test_dedup.py.)

    The doc-level duplicate-TOKEN-n-gram signal needs a per-doc mode
    and lives in :func:`repetition_frame` (one balanced shuffle)."""
    lines = F.filter(
        F.split(text, "\n"), lambda ln: F.trim(ln) != F.lit("")
    )
    n_lines = F.size(lines)
    dlines = F.array_distinct(lines)
    n_dist = F.size(dlines)
    chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, ln: a + F.length(ln)
    )
    dchars = F.aggregate(
        dlines, F.lit(0).cast("long"), lambda a, ln: a + F.length(ln)
    )
    # max over lines of occurrences·length: sorted run-length scan.
    # acc = (prev line, current run length, best mass so far); lines
    # are non-empty strings, so `ln == NULL-prev` is NULL → run
    # restarts at 1 on the first element.
    def _run_step(acc: Column, ln: Column) -> Column:
        run = F.when(ln == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            ln.alias("prev"),
            run.alias("run"),
            F.greatest(
                acc["best"], run.cast("long") * F.length(ln)
            ).alias("best"),
        )

    rep_mass = F.aggregate(
        F.array_sort(lines),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _run_step,
        lambda acc: acc["best"],
    )
    return {
        "n_lines": n_lines.cast("long"),
        "dup_line_frac": F.when(
            n_lines > 0, (n_lines - n_dist).cast("double") / n_lines
        ),
        "dup_line_char_frac": F.when(
            chars > 0, (chars - dchars).cast("double") / chars
        ),
        "max_line_frac": F.when(
            chars > 0, rep_mass.cast("double") / chars
        ),
    }


def repetition_frame(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 2
) -> DataFrame:
    """(id, n_lines, dup_line_frac, dup_line_char_frac, max_line_frac,
    top_ngram_frac) per document.

    ``top_ngram_frac`` — fraction of the document's token n-grams
    accounted for by its single most frequent n-gram (Gopher's
    duplicate-2-gram class of filters). Computed ROW-LOCALLY like the
    line signals: build the gram array, ``array_sort`` it, one
    ``aggregate`` run-length pass for the max count — so the whole
    frame is a single projection on the scan: ZERO shuffles, zero
    joins, O(T log T) per document. (The previous form exploded every
    n-gram through a (doc, gram) count shuffle and joined the rollup
    back — a corpus-token-volume shuffle that bought nothing: the
    per-doc mode never needs cross-row state, and the token array is
    materialized per row either way.)

    Staging note: the token and gram arrays are bound as intermediate
    COLUMNS, not inlined subtrees — an array-producing expression
    referenced inside a ``transform``/``aggregate`` lambda re-evaluates
    per ELEMENT (the lambda body is just an expression tree), which
    turns the gram build into O(T²) per row; multiple references to a
    non-cheap named column keep CollapseProject from re-inlining it."""
    t = F.col(text_col)
    sig = repetition_signals(t)
    base = df.select(
        F.col(id_col).alias("id"),
        *[c.alias(k) for k, c in sig.items()],
        F.filter(
            F.split(F.lower(t), r"\s+"), lambda x: x != F.lit("")
        ).alias("__toks"),
    )
    return _append_top_ngram_frac(base, ngram)


def _append_top_ngram_frac(staged: DataFrame, ngram: int) -> DataFrame:
    """Append ``top_ngram_frac`` to a frame carrying a materialized
    ``__toks`` token-array column, dropping the staging columns. The
    max occurrence count over grams is a sorted run-length scan (same
    shape as repetition_signals.max_line_frac, counts instead of char
    mass) — row-local, zero shuffle."""
    grams = F.when(
        F.size("__toks") >= ngram,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - F.lit(ngram - 1)),
            lambda i: F.array_join(F.slice(F.col("__toks"), i, ngram), " "),
        ),
    ).otherwise(F.array())
    out = staged.withColumn("__grams", grams)

    def _run_step(acc: Column, g: Column) -> Column:
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_count = F.aggregate(
        F.array_sort(F.col("__grams")),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _run_step,
        lambda acc: acc["best"],
    )
    return out.withColumn(
        "top_ngram_frac",
        F.when(
            F.size("__grams") > 0,
            top_count.cast("double") / F.size("__grams"),
        ),
    ).drop("__toks", "__grams")


def document_signals_frame(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 2,
    split_cjk: bool = False,
) -> DataFrame:
    """EVERY per-document text signal in ONE projection on the scan:
    the quality block (:func:`quality_signals` + ``quality_score``),
    the language prediction (:func:`language_id`), and the repetition
    block (:func:`repetition_signals` + ``top_ngram_frac``) — zero
    shuffles, zero joins, one pass over the corpus.

    This is the production path for a corpus-wide quality/filter sweep
    at 100 TB: the driver twin (`extensions_registry.
    _q_text_quality_lang`) composes the SAME signal expressions as
    three id-joined frames for oracle modularity, which costs three
    scans of the documents table; a pipeline that wants all signals
    should call this instead and pay one. Column-for-column equality
    with the composed form is pinned in tests/test_dedup.py.

    The tokenization is staged ONCE as a ``__toks`` column and shared
    by every token-consuming signal (quality ratios, all five language
    scores, the n-gram mode) — the composed frames each re-tokenize,
    so a naive fusion would pay ~10 tokenization passes per row;
    multiple references to the non-cheap alias keep CollapseProject
    from re-inlining it."""
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col).alias("id"),
        t.alias("__text"),
        _toks_of(t, split_cjk).alias("__toks"),
    )
    txt, tk = F.col("__text"), F.col("__toks")
    base = staged.select(
        "id",
        *[c.alias(k) for k, c in quality_signals(txt, tk).items()],
        quality_score(txt, tk).alias("quality_score"),
        language_id(txt, tk).alias("lang_pred"),
        *[c.alias(k) for k, c in repetition_signals(txt).items()],
        tk.alias("__toks"),
    )
    return _append_top_ngram_frac(base, ngram)


# ---------------------------------------------------------------------------
# HTML → text extraction (round 12 — F54): the stage between read_warc
# response records and the documents-shaped corpus
# ---------------------------------------------------------------------------

#: The tag-strip rule chain, shared verbatim by the Spark expression
#: and the DuckDB oracle builder below (they may only change
#: TOGETHER). RE2 (DuckDB) has no backreferences, so the script/style
#: closer is the same alternation on both engines — a script body
#: containing a literal "</style>" closes the block early (documented
#: approximation; real extractors share it).
_HTML_RULES: list[tuple[str, str]] = [
    (r"(?is)<(script|style)\b.*?</(script|style)\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr)\b[^>]*>", "\n"),
    (r"<[^>]*>", " "),
]

def _num_ent(dec: int, *names: str) -> str:
    """RE2-compatible pattern matching every spelling of one code
    point: decimal and hex numeric references, any zero padding, any
    case (``&#8217; &#08217; &#x2019; &#X2019;`` all match for 8217)
    — plus the NAMED spellings (round 14, r13 verdict #5: real pages
    overwhelmingly write ``&mdash; &rsquo; &hellip;`` by name). Names
    ride the same (?i) as the numeric forms — browser-lenient; the
    curated set has no case-sensitive HTML5 collisions."""
    alts = [rf"&#0*{dec};", rf"&#x0*{dec:x};"]
    alts += [f"&{n};" for n in names]
    return "(?i)" + "|".join(alts)


#: Entity decode chain, ORDERED (round 13). Literal named entities
#: plus one numeric-reference regexp per code point for the
#: high-frequency ASCII + Windows-1252-punctuation set a real crawl
#: actually contains (a full HTML5 entity table is a data file, not a
#: rule chain). The AMPERSAND FAMILY IS LAST (r12 advisory): with
#: ("&amp;", "&") first, escaped entity references double-decoded —
#: "&amp;lt;" in source HTML became "<" in extracted text instead of
#: the literal "&lt;" a browser renders. Decoding every other entity
#: first and the ampersand last makes the sequential replace chain
#: agree with one-pass reference semantics on escaped references.
#: Kinds: "lit" → engine string replace, "re" → regexp_replace on
#: both engines (RE2-safe: alternation + (?i) only, no backrefs).
_HTML_ENTITIES: list[tuple[str, str, str]] = [
    # round 15 (r14 verdict #3, measured in SCALE.md R15 §2): the four
    # case-sensitive literal rows merged into the numeric rules as
    # (?i) names — 26 passes → 22, and &NBSP;/&LT;/&GT;/&QUOT; now
    # decode like every other named entity (the r14 browser-lenient
    # policy, previously inconsistent for exactly these four).
    ("re", _num_ent(160, "nbsp"), " "),  # no-break space → plain space
    ("re", _num_ent(34, "quot"), '"'),
    ("re", _num_ent(39, "apos"), "'"),
    ("re", _num_ent(60, "lt"), "<"),
    ("re", _num_ent(62, "gt"), ">"),
    ("re", _num_ent(169, "copy"), "©"),    # ©
    ("re", _num_ent(174, "reg"), "®"),     # ®
    ("re", _num_ent(176, "deg"), "°"),     # ° (round 14)
    ("re", _num_ent(171, "laquo"), "«"),   # « (round 14)
    ("re", _num_ent(187, "raquo"), "»"),   # » (round 14)
    ("re", _num_ent(183, "middot"), "·"),  # · (round 14)
    ("re", _num_ent(8211, "ndash"), "–"),  # – en dash
    ("re", _num_ent(8212, "mdash"), "—"),  # — em dash
    ("re", _num_ent(8216, "lsquo"), "‘"),  # ' left single quote
    ("re", _num_ent(8217, "rsquo"), "’"),  # ' right single quote
    ("re", _num_ent(8220, "ldquo"), "“"),  # " left double quote
    ("re", _num_ent(8221, "rdquo"), "”"),  # " right double quote
    ("re", _num_ent(8226, "bull"), "•"),   # • bullet
    ("re", _num_ent(8230, "hellip"), "…"),  # … ellipsis
    ("re", _num_ent(8364, "euro"), "€"),   # € euro
    ("re", _num_ent(8482, "trade"), "™"),  # ™ (round 14)
    # ampersand family LAST — see the ordering note above
    ("re", r"(?i)&amp;|&#0*38;|&#x0*26;", "&"),
]

_WS_RULES: list[tuple[str, str]] = [
    (r"[ \t\r]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
]


def html_to_text(col: Column) -> Column:
    """Readability-style HTML → plain text, entirely JVM-side
    (regexp_replace/replace chain — zero Python, whole-stage codegen):
    drop script/style/comments, turn block-closers into newlines,
    strip remaining tags, decode the common entities, collapse
    whitespace. The stage between ``read_warc`` response payloads
    (``http_split``) and every text operator in the repo; the
    ``html_rt`` family on corpus_clean pins the chain against the
    DuckDB replay built by :func:`duckdb_html_to_text`."""
    e = col
    for pat, rep in _HTML_RULES:
        e = F.regexp_replace(e, pat, rep)
    for kind, ent, rep in _HTML_ENTITIES:
        if kind == "lit":
            e = F.replace(e, F.lit(ent), F.lit(rep))
        else:
            e = F.regexp_replace(e, ent, rep)
    for pat, rep in _WS_RULES:
        e = F.regexp_replace(e, pat, rep)
    return F.trim(e)


def duckdb_html_to_text(expr: str) -> str:
    """The oracle twin of :func:`html_to_text`: the SAME rule chain as
    a DuckDB SQL expression (RE2 needs the explicit 'g' flag; newlines
    spell chr(10) so the SQL survives string embedding)."""

    def sq(s: str) -> str:
        if s == "\n":
            return "chr(10)"
        if s == "\n\n":
            return "chr(10) || chr(10)"
        if s == "'":
            return "chr(39)"
        return "'" + s.replace("'", "''") + "'"

    e = expr
    for pat, rep in _HTML_RULES:
        e = f"regexp_replace({e}, '{pat}', {sq(rep)}, 'g')"
    for kind, ent, rep in _HTML_ENTITIES:
        if kind == "lit":
            e = f"replace({e}, '{ent}', {sq(rep)})"
        else:
            e = f"regexp_replace({e}, '{ent}', {sq(rep)}, 'g')"
    for pat, rep in _WS_RULES:
        e = f"regexp_replace({e}, '{pat}', {sq(rep)}, 'g')"
    return f"trim({e})"


# ---------------------------------------------------------------------------
# Unicode text canonicalization (round 13 — F59): the dedup-prep stage
# real crawls need — the same visible text arrives precomposed (é) and
# decomposed (e + U+0301), with zero-width characters scattered by
# CMSes, so byte-exact dedup misses visually identical documents.
# ---------------------------------------------------------------------------

#: Zero-width / invisible characters stripped by canonicalization:
#: ZWSP/ZWNJ/ZWJ, soft hyphen, word joiner, BOM-as-ZWNBSP. The JVM∩RE2
#: spelling (shared verbatim with the DuckDB oracle) and the Python
#: class may only change together.
ZERO_WIDTH_PATTERN = r"[\x{200B}-\x{200D}\x{00AD}\x{2060}\x{FEFF}]"
_ZERO_WIDTH_PY = "[\u200b-\u200d\u00ad\u2060\ufeff]"


def canonicalize_text_frame(
    df: DataFrame,
    text_col: str,
    form: str = "NFC",
    strip_zero_width: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Append a Unicode-canonicalized copy of ``text_col`` (default
    overwrite in place): ``unicodedata.normalize(form, ·)`` then the
    zero-width strip. Arrow kernel, row-local, zero shuffles — the
    stage to run BEFORE exact/near dedup so composed and decomposed
    spellings of the same text fingerprint identically.

    Cross-engine contract: ``form="NFC"`` is the oracle-replayable
    mode (DuckDB ``nfc_normalize`` ≡ Python ``unicodedata`` NFC —
    both implement UAX #15; parity pinned on combining-sequence
    adversaries by tests). NFKC/NFD/NFKD are accepted for engine use
    but excluded from the oracle contract (DuckDB exposes only NFC).
    Case folding is deliberately NOT offered here: Python
    ``casefold`` and SQL ``lower`` disagree (ß→ss vs ß), so folding
    stays in the tokenizer layer where each path is pinned."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    import re as _re

    from collections.abc import Iterator as _Iterator

    dst = out_col or text_col
    zw = _re.compile(_ZERO_WIDTH_PY)

    schema_str = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    if dst not in df.columns:
        schema_str += f", {dst} string"

    def run(batches):
        import unicodedata

        for pdf in batches:
            out = pdf.copy()
            vals = []
            for t in pdf[text_col]:
                if t is None or (not isinstance(t, str) and pd.isna(t)):
                    vals.append(None)
                    continue
                c = unicodedata.normalize(form, t)
                if strip_zero_width:
                    c = zw.sub("", c)
                vals.append(c)
            out[dst] = vals
            yield out

    return df.mapInPandas(run, schema_str)


def duckdb_canonicalize_text(expr: str, strip_zero_width: bool = True) -> str:
    """Oracle twin of :func:`canonicalize_text_frame` (NFC mode): the
    same normalize-then-strip order, RE2 class shared verbatim."""
    e = f"nfc_normalize({expr})"
    if strip_zero_width:
        e = f"regexp_replace({e}, '{ZERO_WIDTH_PATTERN}', '', 'g')"
    return e

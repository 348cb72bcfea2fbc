"""Unigram language-model quality scoring (SURVEY §2.F46) — the
CCNet-class "perplexity filter" re-based on Spark (beyond-reference;
no counterpart in petk). CCNet (arXiv:1911.00359) buckets crawl text
by LM perplexity against a clean reference corpus; the deterministic,
dependency-free core of that recipe is a smoothed unigram model:

* **train** — token frequencies over a reference corpus, top-K vocab,
  Laplace-smoothed log2 probabilities with a single OOV bucket:
  ``p(tok) = (count + 1) / (N + V + 1)``, ``p(OOV) = 1 / (N + V +
  1)`` (N = total reference tokens, V = actual vocab size). One hash
  aggregation on the token + a bounded top-K; the model artifact is a
  small (≤ vocab_size rows) frame.
* **score** — per document, bits-per-token = −(1/T)·Σ log2 p(tokenᵢ):
  low bits ≈ fluent/common text, high bits ≈ gibberish, boilerplate
  code, or wrong-language text. Scoring is ROW-LOCAL: the model rides
  along as a plain Python dict in the Arrow kernel's closure — the
  100 TB corpus side is one scan, zero shuffles.

Cross-engine contract: the per-document sum is a LEFT FOLD in
document token order (the Arrow kernel's sequential Python sum over
the JVM-computed logp values, DuckDB ``list_reduce(list_prepend(0.0,
…))``), so the only engine-dependent quantity is ``log2`` itself
(libm last-ulp), absorbed by the shared %.6e fmt contract.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Scripts written WITHOUT word-separating whitespace (round 13 —
#: r12 verdict #2): CJK ideographs (URO + Ext A + compatibility),
#: kana, and Thai. On these, the whitespace tokenizer degenerates — a
#: whole Chinese document is ONE token, so token counts, tf-idf,
#: token-budget selection, LM scoring, and BPE all collapse. The
#: ``split_cjk`` mode emits ONE TOKEN PER CHARACTER for runs in these
#: ranges (the standard char-level fallback; SentencePiece/fastText
#: pre-tokenization does the same before subword modeling), leaving
#: space-delimited scripts untouched. Hangul is NOT here: Korean is
#: written with spaces. The three spellings below (JVM regex, RE2 for
#: the DuckDB oracle, Python for the Arrow kernels) may only change
#: together.
_CJK_RANGES: list[tuple[int, int]] = [
    (0x0E00, 0x0E7F),   # Thai
    (0x0E80, 0x0EFF),   # Lao (round 14 — r13 verdict #3)
    (0x0F00, 0x0FFF),   # Tibetan (round 14)
    (0x1000, 0x109F),   # Myanmar (round 14)
    (0x1780, 0x17FF),   # Khmer (round 14)
    (0x3040, 0x30FF),   # hiragana + katakana
    (0x3400, 0x4DBF),   # CJK ext A
    (0x4E00, 0x9FFF),   # CJK unified
    (0xF900, 0xFAFF),   # CJK compatibility ideographs
    (0x20000, 0x2EBEF),  # CJK ext B–F, supplementary plane (round 14)
]
#: \x{...} is the Java∩RE2 spelling, so the SAME pattern string works
#: in Spark regexp_replace and DuckDB (the oracle builder uses it
#: verbatim) — including supplementary-plane endpoints, which both
#: engines accept as code points in a class; only the replacement
#: differs ("$1" vs "\1").
CJK_CHAR_PATTERN = (
    "([" + "".join(rf"\x{{{a:X}}}-\x{{{b:X}}}" for a, b in _CJK_RANGES) + "])"
)


def _py_cp(cp: int) -> str:
    """Python regex escape for one code point — \\u for the BMP, the
    8-digit \\U form for supplementary-plane (astral) endpoints
    (\\u20000 would silently parse as \\u2000 followed by '0')."""
    return rf"\u{cp:04x}" if cp <= 0xFFFF else rf"\U{cp:08x}"


_CJK_CLASS_PY = (
    "[" + "".join(f"{_py_cp(a)}-{_py_cp(b)}" for a, b in _CJK_RANGES) + "]"
)


def _py_splitter(split_cjk: bool = False):
    """Python-side tokenizer factory for the Arrow kernels, matching
    :func:`_tokens` mode for mode (the regexes are locals so the
    kernel closure serializes by value)."""
    import re

    ws = re.compile(r"\s+", re.ASCII)
    if not split_cjk:
        return lambda t: [w for w in ws.split(t.lower()) if w]
    cjk = re.compile(_CJK_CLASS_PY)

    def tok(t: str) -> list[str]:
        t = cjk.sub(lambda m: " " + m.group(0) + " ", t)
        return [w for w in ws.split(t.lower()) if w]

    return tok


def _tokens(text_col, split_cjk: bool = False):
    """The repo-wide tokenizer: ASCII-whitespace split of the lowered
    text, empties dropped (≡ the oracle's _TOKS_CTE). With
    ``split_cjk=True``, characters of non-spacing scripts are first
    isolated into their own tokens (see :data:`_CJK_RANGES`) — opt-in
    so every existing oracle hash is byte-stable."""
    e = F.col(text_col) if isinstance(text_col, str) else text_col
    if split_cjk:
        e = F.regexp_replace(e, CJK_CHAR_PATTERN, " $1 ")
    return F.filter(F.split(F.lower(e), r"\s+"), lambda t: t != "")


def train_unigram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 50000,
    split_cjk: bool = False,
) -> tuple[DataFrame, dict]:
    """Train the smoothed unigram model on a reference corpus. Returns
    ``(vocab_frame, stats)``: the frame is ``(token, n, logp)`` —
    top-``vocab_size`` tokens by (count DESC, token ASC), Laplace
    log2-probabilities — and ``stats`` carries ``n_total`` (reference
    token count), ``vocab_size`` (actual V ≤ requested) and
    ``oov_logp`` (the single out-of-vocabulary bucket's log2 prob).
    ONE scalar action (round 16: the previous separate N and V jobs —
    plus every downstream consumer of the lazy vocab frame — each
    re-ran the full token-count aggregation; now the top-V rows and
    the total are fetched in a single union whose two branches share
    the token-count exchange, and the returned vocab frame is a
    driver-local artifact, so consumers stop re-scanning the corpus).
    ``stats`` additionally carries ``vocab_counts`` — the exact
    (token, n) list — so a sibling model over the same cut (the bigram
    trainer) can skip its own unigram pass entirely."""
    cnt = (
        df.select(F.explode(_tokens(text_col, split_cjk)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = (
        cnt.orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_size)
        .select(F.lit(0).alias("tag"), "token", "n")
        .unionAll(
            cnt.agg(F.sum("n").alias("n")).select(
                F.lit(1).alias("tag"),
                F.lit(None).cast("string").alias("token"),
                "n",
            )
        )
        .collect()
    )
    # deterministic re-sort: union does not guarantee branch order
    vocab_counts = sorted(
        ((r["token"], int(r["n"])) for r in rows if r["tag"] == 0),
        key=lambda t: (-t[1], t[0]),
    )
    n_total = next(
        (int(r["n"]) for r in rows if r["tag"] == 1 and r["n"] is not None),
        0,
    )
    v = len(vocab_counts)
    denom = float(n_total + v + 1)
    out = df.sparkSession.createDataFrame(
        vocab_counts, "token string, n long"
    ).select(
        "token",
        "n",
        # same JVM expression over the same exact (token, n) values —
        # logp is bit-identical to the previous cnt-derived frame's
        F.log2((F.col("n") + F.lit(1.0)) / F.lit(denom)).alias("logp"),
    )
    return out, {
        "n_total": int(n_total),
        "vocab_size": int(v),
        "oov_logp": math.log2(1.0 / denom),
        "vocab_counts": vocab_counts,
    }


def lm_bits_per_token(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: DataFrame,
    oov_logp: float,
    *,
    keep_columns: bool = False,
    split_cjk: bool = False,
) -> DataFrame:
    """Score every document against a trained unigram model:
    ``(id, n_tokens, bits_per_token)`` where bits_per_token =
    −mean log2 p(token) (NULL for NULL/empty texts — no tokens, no
    estimate). Filter or bucket on the score downstream (CCNet keeps
    the head/middle buckets). ``keep_columns=True`` appends the two
    score columns to the FULL input row instead — in-band scoring for
    pipeline composition, no join-back that would re-execute the
    upstream lineage. Both options are keyword-only.

    One Arrow kernel: the model frame is collected (≤ vocab_size rows
    — the documented small-artifact broadcast, like the IVF centroid
    sidecar) into a Python dict in the task closure, each token is one
    hash probe, and the sum is a left fold in document order over the
    JVM-computed logp values — O(T) per doc, one scan, zero shuffles.
    DuckDB replays it with ``map()`` + ``list_reduce`` for the oracle
    twin and the parity test."""
    logp = {
        r["token"]: r["logp"] for r in lm.select("token", "logp").collect()
    }
    oov_logp = float(oov_logp)
    tokenize = _py_splitter(split_cjk)

    def score_lists(texts):
        nt, bits = [], []
        for t in texts:
            if t is None or (not isinstance(t, str) and pd.isna(t)):
                nt.append(0)
                bits.append(None)
                continue
            toks = tokenize(t)
            nt.append(len(toks))
            if not toks:
                bits.append(None)
                continue
            acc = 0.0
            for w in toks:
                acc = acc + logp.get(w, oov_logp)
            bits.append(-acc / len(toks))
        return nt, bits

    if keep_columns:
        schema_str = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        schema = f"{schema_str}, n_tokens long, bits_per_token double"

        def kern_keep(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                nt, bits = score_lists(pdf[text_col])
                out = pdf.copy()
                out["n_tokens"] = nt
                out["bits_per_token"] = pd.array(bits, dtype="float64")
                yield out

        return df.mapInPandas(kern_keep, schema)

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id {id_type}, n_tokens long, bits_per_token double"

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nt, bits = score_lists(pdf[text_col])
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "n_tokens": nt,
                    "bits_per_token": pd.array(bits, dtype="float64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(kern, schema)


# ---------------------------------------------------------------------------
# Bigram LM with Laplace backoff (round 12 — F53): one step toward the
# CCNet recipe's real n-gram model
# ---------------------------------------------------------------------------

#: Out-of-vocabulary sentinel for MAPPED tokens. A control character:
#: it cannot collide with any token of the whitespace tokenizer in
#: normal text (the oracle uses chr(1) identically). Documents whose
#: raw tokens legitimately contain \x01 would alias with OOV — a
#: declared, vanishingly-rare bar, like the oracle's chr(31) joiner.
UNK = "\x01"


def train_bigram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 50000,
    split_cjk: bool = False,
    vocab_counts: list | None = None,
    n_total: int | None = None,
) -> tuple[DataFrame, DataFrame, dict]:
    """Train a Laplace-smoothed BIGRAM model over the vocab-mapped
    token stream (every token outside the top-``vocab_size`` unigram
    cut maps to the single :data:`UNK` class first — the CCNet-style
    closed vocabulary, which keeps the model V'²-bounded instead of
    open-ended):

    * ``p(w₁)            = (c(m(w₁)) + 1) / (N + V' + 1)``  (unigram)
    * ``p(wᵢ | wᵢ₋₁)     = (c(m(wᵢ₋₁), m(wᵢ)) + 1) / (c(m(wᵢ₋₁)) + V' + 1)``

    with ``V' = |vocab| + 1`` (the UNK class), all counts exact
    integers.

    DENOMINATOR CONVENTION (deliberate deviation from textbook
    Laplace, r12 advisory): ``c(ctx)`` is the context token's FULL
    unigram count — including its occurrences as a document-final
    token, which are never bigram prefixes — and the add-one class
    count is ``V' + 1`` rather than ``V'``. Consequently
    ``Σ_b p(b|a) < 1``: the scores are a reproducible, monotone
    quality signal (the CCNet use case ranks documents; it never sums
    the conditional), not a normalized probability model. Chosen
    because the unigram count is already materialized by pass 1 —
    counting contexts as non-final occurrences would need a second
    per-document boundary aggregate — and both engine twins + the
    DuckDB oracle share the identical convention. Returns ``(bigrams, contexts, stats)``: ``bigrams`` =
    (a, b, n, logp) over OBSERVED mapped pairs; ``contexts`` =
    (token, n, ulogp, fb_logp) for every vocab token + the UNK row —
    ``ulogp`` is the first-token unigram term, ``fb_logp`` the
    unseen-bigram fallback ``log2(1 / (c(ctx) + V' + 1))``; ``stats``
    carries N / vocab_size / V'. Every logp is computed JVM-side
    (``F.log2``) so the Arrow scorer sums engine-computed values, the
    same absorption contract as the unigram model.

    Scale: pass 1 = the unigram count aggregate (shuffle on token) +
    a bounded top-V collect (the vocab artifact, ≤ vocab_size rows);
    pass 2 = an Arrow pair-emit kernel (vocab set in the closure) +
    one hash aggregate on the bigram key. Both passes are one corpus
    scan each; the model artifacts are broadcast-class frames."""
    if vocab_counts is not None:
        # Injected counts MUST be the top-``vocab_size`` unigram cut of
        # THIS corpus under THIS tokenizer (same ``split_cjk``): the
        # pair-emit kernel maps tokens against them, so counts trained
        # with a different cut/tokenizer silently produce a wrong
        # model. The size bound is the cheap invariant we can check.
        assert len(vocab_counts) <= vocab_size, (
            f"vocab_counts has {len(vocab_counts)} entries but "
            f"vocab_size={vocab_size}: the injected counts must be the "
            "same top-V cut (same corpus, same tokenizer) this trainer "
            "would compute"
        )
    if vocab_counts is None or n_total is None:
        # Round 16: one fused action instead of separate N and top-V
        # jobs (each re-ran the token-count aggregation); callers that
        # already trained the unigram model over the SAME cut pass its
        # exact counts through and skip this pass entirely.
        cnt = (
            df.select(
                F.explode(_tokens(text_col, split_cjk)).alias("token")
            )
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = (
            cnt.orderBy(F.desc("n"), F.asc("token"))
            .limit(vocab_size)
            .select(F.lit(0).alias("tag"), "token", "n")
            .unionAll(
                cnt.agg(F.sum("n").alias("n")).select(
                    F.lit(1).alias("tag"),
                    F.lit(None).cast("string").alias("token"),
                    "n",
                )
            )
            .collect()
        )
        vocab_counts = sorted(
            ((r["token"], int(r["n"])) for r in rows if r["tag"] == 0),
            key=lambda t: (-t[1], t[0]),
        )
        n_total = next(
            (
                int(r["n"])
                for r in rows
                if r["tag"] == 1 and r["n"] is not None
            ),
            0,
        )
    n_total = int(n_total)
    vocab = dict(vocab_counts)
    unk_n = n_total - sum(vocab.values())
    v2 = len(vocab) + 1
    spark = df.sparkSession

    ctx_src = spark.createDataFrame(
        [(t, n) for t, n in vocab.items()] + [(UNK, unk_n)],
        "token string, n long",
    )
    contexts = ctx_src.select(
        "token",
        "n",
        F.log2((F.col("n") + F.lit(1.0)) / F.lit(float(n_total + v2 + 1))
               ).alias("ulogp"),
        F.log2(F.lit(1.0) / (F.col("n") + F.lit(float(v2 + 1)))
               ).alias("fb_logp"),
    )

    vset = set(vocab)

    tokenize = _py_splitter(split_cjk)

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            a_out, b_out = [], []
            for t in pdf["_t"]:
                if t is None or (not isinstance(t, str) and pd.isna(t)):
                    continue
                toks = tokenize(t)
                m = [w if w in vset else UNK for w in toks]
                a_out.extend(m[:-1])
                b_out.extend(m[1:])
            yield pd.DataFrame({"a": a_out, "b": b_out})

    bigrams = (
        df.select(F.col(text_col).alias("_t"))
        .mapInPandas(pairs, "a string, b string")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(ctx_src.withColumnRenamed("n", "_cn")),
              F.col("a") == F.col("token"))
        .select(
            "a", "b", "n",
            F.log2((F.col("n") + F.lit(1.0))
                   / (F.col("_cn") + F.lit(float(v2 + 1)))).alias("logp"),
        )
    )
    return bigrams, contexts, {
        "n_total": n_total,
        "vocab_size": len(vocab),
        "v2": v2,
    }


def bigram_bits_per_token(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bigrams: DataFrame,
    contexts: DataFrame,
    max_closure_rows: int = 2_000_000,
    split_cjk: bool = False,
) -> DataFrame:
    """Score documents against a trained bigram model:
    ``(id, n_tokens, bits_per_token)`` with bits = −(log2 p(w₁) +
    Σᵢ₌₂ log2 p(wᵢ|wᵢ₋₁)) / T, the left fold in document order (the
    oracle replays it with map() probes + list fold). Documents with
    no tokens are dropped (no transitions, no estimate).

    Two tiers (round 13, r12 advisory: the observed-bigram table is
    bounded only by V'² ≈ 2.5e9 at the default vocab and grows with
    the reference corpus, so collecting it into a dict closure is NOT
    broadcast-class in general):

    * **closure** — map-only Arrow kernel, both model artifacts as
      dict closures; the per-document sum is the exact left fold in
      document order (the oracle contract). Used when the observed
      pair table fits (≤ ``max_closure_rows``).
    * **join** — the pair table never touches the driver: a map-only
      transition emitter (vocab set closure, bounded by vocab_size)
      + one equi-join against ``bigrams`` on (a, b) (AQE broadcasts
      it when small, sort-merge otherwise) + one hash aggregate on
      the document id. Same model, same terms; the floating-point
      SUM ORDER is aggregate-determined rather than document-order,
      so scores can differ from the closure tier in the last ulps —
      the fmt contract absorbs it in practice but bit-for-bit
      equality is only guaranteed by the closure tier.

    The tier is picked by one bounded probe job,
    ``bigrams.limit(max_closure_rows + 1).count()``;
    ``max_closure_rows=0`` always takes the join tier."""
    if bigrams.limit(max_closure_rows + 1).count() > max_closure_rows:
        return _bigram_bits_join(
            df, id_col, text_col, bigrams, contexts, split_cjk
        )
    ctx = {
        r["token"]: (r["ulogp"], r["fb_logp"])
        for r in contexts.select("token", "ulogp", "fb_logp").collect()
    }
    bi = {
        (r["a"], r["b"]): r["logp"]
        for r in bigrams.select("a", "b", "logp").collect()
    }
    vset = {t for t in ctx if t != UNK}
    tokenize = _py_splitter(split_cjk)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nt, bits = [], [], []
            for rid, t in zip(pdf["id"], pdf["_t"]):
                if t is None or (not isinstance(t, str) and pd.isna(t)):
                    continue
                toks = tokenize(t)
                if not toks:
                    continue
                m = [w if w in vset else UNK for w in toks]
                acc = ctx[m[0]][0]
                for a, b in zip(m, m[1:]):
                    got = bi.get((a, b))
                    acc += got if got is not None else ctx[a][1]
                ids.append(rid)
                nt.append(len(m))
                bits.append(-acc / len(m))
            yield pd.DataFrame(
                {
                    "id": ids,
                    "n_tokens": pd.array(nt, dtype="int64"),
                    "bits_per_token": pd.array(bits, dtype="float64"),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    ).mapInPandas(kern, f"id {id_type}, n_tokens long, bits_per_token double")


def _bigram_bits_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bigrams: DataFrame,
    contexts: DataFrame,
    split_cjk: bool = False,
) -> DataFrame:
    """Unbounded-model scoring tier (see :func:`bigram_bits_per_token`).

    Per document the emitter yields one row per transition
    ``(id, a, b)`` plus a single first-token marker ``(id, m₀, NULL)``
    — so ``count(*)`` per id IS the token count, and the marker row
    carries the unigram term while transition rows carry
    ``coalesce(bigram logp, fb_logp(a))``. Only the VOCAB (bounded:
    ≤ vocab_size+1 rows by construction) is collected into the
    emitter's closure; the observed-pair table stays distributed.

    Plan: one corpus scan (map-only Arrow emitter) → left equi-join
    on (a, b) → broadcast join on the context frame → one hash
    aggregate on id. Two shuffles total at any model size."""
    vset = {
        r["token"] for r in contexts.select("token").collect()
    } - {UNK}
    tokenize = _py_splitter(split_cjk)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, a_out, b_out = [], [], []
            for rid, t in zip(pdf["id"], pdf["_t"]):
                if t is None or (not isinstance(t, str) and pd.isna(t)):
                    continue
                toks = tokenize(t)
                if not toks:
                    continue
                m = [w if w in vset else UNK for w in toks]
                ids.append(rid)
                a_out.append(m[0])
                b_out.append(None)
                ids.extend([rid] * (len(m) - 1))
                a_out.extend(m[:-1])
                b_out.extend(m[1:])
            yield pd.DataFrame({"id": ids, "a": a_out, "b": b_out})

    id_type = df.schema[id_col].dataType.simpleString()
    tr = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    ).mapInPandas(emit, f"id {id_type}, a string, b string")

    bg = bigrams.select("a", "b", "logp")
    ctxs = F.broadcast(
        contexts.select(
            F.col("token").alias("a"), "ulogp", "fb_logp"
        )
    )
    term = (
        F.when(F.col("b").isNull(), F.col("ulogp"))
        .otherwise(F.coalesce(F.col("logp"), F.col("fb_logp")))
    )
    return (
        tr.join(bg, ["a", "b"], "left")
        .join(ctxs, "a")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(term).alias("_total"),
        )
        .select(
            "id",
            "n_tokens",
            (-F.col("_total") / F.col("n_tokens")).alias("bits_per_token"),
        )
    )

"""CJK / no-whitespace-script tokenization fallback (round 13 — r12
verdict #2): the ``split_cjk`` mode of the shared tokenizer
(operators/lm.py). The token_histogram ``cjk_tok``/``cjk_ntok``
families hash-pin the cross-engine replay; these tests pin the mode's
semantics — boundary splitting, Python/expression parity, and the
non-degeneracy of LM scoring and token-budget selection on spaceless
text (the failure the mode exists to fix)."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from petk_spark.operators.lm import (
    _py_splitter,
    _tokens,
    bigram_bits_per_token,
    lm_bits_per_token,
    train_bigram_lm,
    train_unigram_lm,
)
from tests.test_lm import lm_bits_expr

ZH = "今天天气很好我们去公园"          # ideographs, no spaces
JA = "日本語のテストです"              # kanji + kana, no spaces
TH = "สวัสดี"  # Thai "sawasdee", 6 chars
MIXED = "hello世界 spark引擎test"
# round 14 (r13 verdict #3): supplementary-plane ideographs (CJK Ext
# B/F endpoints) + the added no-space scripts
ASTRAL = "\U00020000\U00020001x\U0002EBEF"
LAO = "ສະບາຍດີ"
KM = "សួស្តី"
MY = "မင်္ဂလာပါ"
TB = "བཀྲ་ཤིས།"


def _expr_tokens(spark, text: str, **kw) -> list[str]:
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(_tokens("t", **kw).alias("tk")).collect()[0]["tk"]


def test_char_isolation_boundaries(spark):
    assert _expr_tokens(spark, ZH, split_cjk=True) == list(ZH)
    assert _expr_tokens(spark, JA, split_cjk=True) == list(JA)
    assert _expr_tokens(spark, TH, split_cjk=True) == list(TH)
    # mixed script: ASCII runs stay whole words, CJK chars isolate
    assert _expr_tokens(spark, MIXED, split_cjk=True) == [
        "hello", "世", "界", "spark", "引", "擎", "test",
    ]
    # latin / digits / hangul (spaced script) untouched by the mode
    assert _expr_tokens(spark, "Foo BAR 42 한국어", split_cjk=True) == [
        "foo", "bar", "42", "한국어",
    ]


def test_astral_and_extended_scripts(spark):
    """Round 14 (r13 verdict #3): supplementary-plane ideographs and
    Lao/Khmer/Myanmar/Tibetan isolate per char; the astral class is
    where surrogate handling breaks, so the JVM splitter must emit
    whole code points, never surrogate halves."""
    got = _expr_tokens(spark, ASTRAL, split_cjk=True)
    assert got == ["\U00020000", "\U00020001", "x", "\U0002EBEF"]
    # whole code points, never surrogate halves
    assert all(len(t) == 1 for t in got)
    for s in (LAO, KM, MY, TB):
        toks = _expr_tokens(spark, s, split_cjk=True)
        # every char of these scripts is its own token (combining
        # marks included — char-level fallback is per code point)
        assert toks == list(s), s


def test_default_mode_unchanged_and_degenerate(spark):
    # opt-in: default mode is byte-stable with r12 (whole doc = 1 token)
    assert _expr_tokens(spark, ZH) == [ZH]
    assert _expr_tokens(spark, MIXED) == ["hello世界", "spark引擎test"]


def test_py_splitter_matches_expression(spark):
    tok_cjk = _py_splitter(split_cjk=True)
    tok_plain = _py_splitter()
    for t in [ZH, JA, TH, MIXED, "plain ascii text", "  ", "a　b",
              ASTRAL, LAO, KM, MY, TB, "x" + ASTRAL + LAO + "y"]:
        assert tok_cjk(t) == _expr_tokens(spark, t, split_cjk=True), t
        assert tok_plain(t) == _expr_tokens(spark, t), t


def test_unigram_scoring_non_degenerate_on_spaceless(spark):
    docs = [(0, ZH), (1, JA), (2, ZH + JA), (3, "english words here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    vocab, stats = train_unigram_lm(df, "text", vocab_size=50,
                                    split_cjk=True)
    vtoks = {r["token"] for r in vocab.collect()}
    assert "天" in vtoks and "の" in vtoks       # char-level vocab
    got = {
        r["id"]: r for r in lm_bits_per_token(
            df, "doc_id", "text", vocab, stats["oov_logp"],
            split_cjk=True,
        ).collect()
    }
    assert got[0]["n_tokens"] == len(ZH)
    assert got[2]["n_tokens"] == len(ZH) + len(JA)
    for r in got.values():
        assert r["bits_per_token"] is not None
        assert 0.0 < r["bits_per_token"] < 30.0
    # the expression reference agrees per mode
    exp = {
        r["id"]: r for r in lm_bits_expr(
            df, "doc_id", "text", vocab, stats["oov_logp"],
            split_cjk=True,
        ).collect()
    }
    for k in got:
        assert got[k]["n_tokens"] == exp[k]["n_tokens"]
        assert got[k]["bits_per_token"] == pytest.approx(
            exp[k]["bits_per_token"], abs=1e-12
        )
    # and WITHOUT the mode the same corpus degenerates: 1 token/doc
    plain = {
        r["id"]: r["n_tokens"] for r in lm_bits_per_token(
            df, "doc_id", "text", vocab, stats["oov_logp"]
        ).collect()
    }
    assert plain[0] == plain[1] == plain[2] == 1


def test_bigram_scoring_cjk_both_tiers(spark):
    docs = [(0, ZH), (1, JA), (2, ZH)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bi, ctx, stats = train_bigram_lm(df, "text", vocab_size=20,
                                     split_cjk=True)
    assert stats["n_total"] == 2 * len(ZH) + len(JA)
    closure = {
        r["id"]: r for r in bigram_bits_per_token(
            df, "doc_id", "text", bi, ctx, split_cjk=True
        ).collect()
    }
    joined = {
        r["id"]: r for r in bigram_bits_per_token(
            df, "doc_id", "text", bi, ctx, max_closure_rows=0,
            split_cjk=True
        ).collect()
    }
    for k in closure:
        assert closure[k]["n_tokens"] > 1          # non-degenerate
        assert math.isfinite(closure[k]["bits_per_token"])
        assert joined[k]["n_tokens"] == closure[k]["n_tokens"]
        assert joined[k]["bits_per_token"] == pytest.approx(
            closure[k]["bits_per_token"], abs=1e-9
        )


def test_token_budget_selection_on_spaceless(spark):
    from petk_spark.operators.sampling import take_token_budget

    docs = [(i, ZH * (1 + i % 3)) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    toks = F.size(_tokens("text", split_cjk=True))
    total = df.select(F.sum(toks)).collect()[0][0]
    kept = take_token_budget(df, ["doc_id"], toks, budget=total // 3)
    kept_tok = kept.select(
        F.sum(F.size(_tokens("text", split_cjk=True)))
    ).collect()[0][0]
    # a real prefix: some docs kept, some dropped, mass ≤ budget and
    # close to it (the next doc would cross) — impossible in plain
    # mode, where every doc weighs exactly 1 token
    assert 0 < kept.count() < 40
    assert kept_tok <= total // 3
    assert kept_tok >= total // 3 - 3 * len(ZH)
    # determinism: same inputs → same kept set
    again = take_token_budget(df, ["doc_id"], toks, budget=total // 3)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_bpe_on_cjk_modes(spark):
    """BPE × non-spacing scripts, both modes pinned:

    * PLAIN mode is the right BPE pre-tokenization for CJK — a run is
      one "word", segmentation is already char-level, so merges are
      learned WITHIN the run (this is why `_tokens`'s char-split mode
      is opt-in rather than a BPE default);
    * split_cjk mode yields single-char words, which have no adjacent
      pairs — no merges can be learned. Useful only when char tokens
      themselves are the wanted output (count-parity with the LM
      surface), and documented as such."""
    from petk_spark.operators.bpe import bpe_encode, train_bpe

    docs = [(i, ZH) for i in range(4)] + [(9, JA)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges, seg = train_bpe(df, "text", n_merges=4, min_count=2)
    seg.unpersist()
    assert merges, "CJK runs as words must yield char-pair merges"
    enc = {
        r["id"]: r for r in bpe_encode(
            df, "doc_id", "text", merges
        ).collect()
    }
    assert 1 < enc[0]["n_tokens_bpe"] < len(ZH)   # merges applied
    assert "".join(enc[0]["bpe_tokens"]) == ZH
    # split_cjk tier: 1-char words, nothing to merge — documented no-op
    merges2, seg2 = train_bpe(df, "text", n_merges=4, min_count=2,
                              split_cjk=True)
    seg2.unpersist()
    assert merges2 == []
    enc2 = {
        r["id"]: r for r in bpe_encode(
            df, "doc_id", "text", merges, split_cjk=True
        ).collect()
    }
    assert enc2[0]["n_tokens_bpe"] == len(ZH)     # pure char stream
    assert enc2[0]["bpe_tokens"] == list(ZH)


def test_text_surface_cjk_mode(spark):
    """split_cjk across the text.py signal surface (F4/F20): marker
    language-ID detects zh on SPACELESS Chinese, quality/profile token
    counts are non-degenerate, tf-idf terms are characters, and every
    default-mode result is byte-identical to r12 behavior."""
    from petk_spark.operators.text import (
        language_id_frame,
        text_profile,
        text_quality_frame,
        token_histogram,
        top_terms_tfidf,
    )

    zh_doc = "的是了在我有和不这人" * 3          # 10 markers ×3, no spaces
    docs = [(0, zh_doc), (1, "the cat and the dog")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # marker language-ID: und without the mode, zh with it
    plain = {r["id"]: r["lang_pred"]
             for r in language_id_frame(df, "doc_id", "text").collect()}
    cjk = {r["id"]: r["lang_pred"]
           for r in language_id_frame(df, "doc_id", "text",
                                      split_cjk=True).collect()}
    assert plain[0] == "und" and cjk[0] == "zh"
    assert plain[1] == cjk[1] == "en"

    # quality: token counts
    q = {r["id"]: r for r in text_quality_frame(
        df, "doc_id", "text", split_cjk=True).collect()}
    assert q[0]["n_tokens"] == 30
    qp = {r["id"]: r for r in text_quality_frame(
        df, "doc_id", "text").collect()}
    assert qp[0]["n_tokens"] == 1                 # the degeneration

    # profile totals
    prof = text_profile(df, "text", split_cjk=True).collect()[0]
    assert prof["total_tokens"] == 30 + 5

    # histogram + tf-idf yield characters as terms
    hist = {r["token"]: r["n"] for r in token_histogram(
        df, "text", top_n=50, split_cjk=True).collect()}
    assert hist["的"] == 3
    terms = {r["term"] for r in top_terms_tfidf(
        df, "doc_id", "text", k=3, split_cjk=True).collect()}
    assert terms & set("的是了在我有和不这人")

"""Bigram LM with Laplace backoff (operators/lm.py, round 12 — F53):
hand-computed model values, UNK mapping, the unseen-transition
fallback, and the scoring fold. The token_histogram `lm2`/`lm2_score`
families hash-pin the DuckDB retraining; these tests pin arithmetic."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from petk_spark.operators.lm import (
    UNK,
    bigram_bits_per_token,
    train_bigram_lm,
)

# corpus: "a b a" ×1, "b b" ×1 → counts a:2 b:3; vocab_size=2 keeps
# both (no UNK occurrences); N=5, V'=3
DOCS = [(0, "a b a"), (1, "b b")]


@pytest.fixture(scope="module")
def model(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    bi, ctx, stats = train_bigram_lm(df, "text", vocab_size=2)
    return df, bi, ctx, stats


def test_counts_and_logps(model):
    _df, bi, ctx, stats = model
    assert stats == {"n_total": 5, "vocab_size": 2, "v2": 3}
    bim = {(r["a"], r["b"]): (r["n"], r["logp"]) for r in bi.collect()}
    # bigrams: (a,b) ×1, (b,a) ×1, (b,b) ×1
    assert {k: v[0] for k, v in bim.items()} == {
        ("a", "b"): 1, ("b", "a"): 1, ("b", "b"): 1,
    }
    # p(b|a) = (1+1)/(c(a)+V'+1) = 2/6
    assert bim[("a", "b")][1] == pytest.approx(math.log2(2 / 6), abs=1e-12)
    # p(a|b) = 2/(3+4) = 2/7
    assert bim[("b", "a")][1] == pytest.approx(math.log2(2 / 7), abs=1e-12)
    cm = {r["token"]: r for r in ctx.collect()}
    assert set(cm) == {"a", "b", UNK}
    assert cm[UNK]["n"] == 0
    # first-token term: p(a) = (2+1)/(5+3+1) = 3/9
    assert cm["a"]["ulogp"] == pytest.approx(math.log2(3 / 9), abs=1e-12)
    # fallback from context a: 1/(2+4) = 1/6
    assert cm["a"]["fb_logp"] == pytest.approx(math.log2(1 / 6), abs=1e-12)


def test_score_hand_computed(model):
    df, bi, ctx, _stats = model
    got = {
        r["id"]: r for r in bigram_bits_per_token(
            df, "doc_id", "text", bi, ctx
        ).collect()
    }
    # doc 0 "a b a": u(a) + p(b|a) + p(a|b)
    exp0 = -(math.log2(3 / 9) + math.log2(2 / 6) + math.log2(2 / 7)) / 3
    assert got[0]["n_tokens"] == 3
    assert got[0]["bits_per_token"] == pytest.approx(exp0, abs=1e-12)
    # doc 1 "b b": u(b) = (3+1)/9, p(b|b) = 2/7
    exp1 = -(math.log2(4 / 9) + math.log2(2 / 7)) / 2
    assert got[1]["bits_per_token"] == pytest.approx(exp1, abs=1e-12)


def test_unk_mapping_and_fallback(model, spark):
    df, bi, ctx, _stats = model
    probe = spark.createDataFrame(
        [(7, "zzz a qqq"), (8, None), (9, "   ")],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r for r in bigram_bits_per_token(
            probe, "doc_id", "text", bi, ctx
        ).collect()
    }
    # null/empty docs dropped
    assert set(got) == {7}
    # "zzz a qqq" → UNK a UNK: u(UNK)=(0+1)/9; both transitions unseen
    # → fallbacks fb(UNK)=1/(0+4), fb(a)=1/6
    exp = -(math.log2(1 / 9) + math.log2(1 / 4) + math.log2(1 / 6)) / 3
    assert got[7]["n_tokens"] == 3
    assert got[7]["bits_per_token"] == pytest.approx(exp, abs=1e-12)


def test_unk_counted_when_vocab_truncated(spark):
    df = spark.createDataFrame(
        [(0, "x x x y z")], "doc_id long, text string"
    )
    bi, ctx, stats = train_bigram_lm(df, "text", vocab_size=1)
    assert stats["vocab_size"] == 1 and stats["v2"] == 2
    cm = {r["token"]: r["n"] for r in ctx.collect()}
    assert cm == {"x": 3, UNK: 2}
    bim = {(r["a"], r["b"]): r["n"] for r in bi.collect()}
    # mapped stream: x x x U U → (x,x)×2 (x,U)×1 (U,U)×1
    assert bim == {("x", "x"): 2, ("x", UNK): 1, (UNK, UNK): 1}


def test_join_tier_matches_closure(model, spark):
    """R12 advisory: the observed-bigram table must not be collected
    driver-side when it is not broadcast-class. The join tier keeps it
    distributed; same terms, so scores agree to float-sum-order ulps
    and token counts exactly."""
    df, bi, ctx, _stats = model
    probe = spark.createDataFrame(
        DOCS + [(7, "zzz a qqq"), (8, None), (9, "a")],
        "doc_id long, text string",
    )
    closure = {
        r["id"]: r for r in bigram_bits_per_token(
            probe, "doc_id", "text", bi, ctx
        ).collect()
    }
    joined = {
        r["id"]: r for r in bigram_bits_per_token(
            probe, "doc_id", "text", bi, ctx, max_closure_rows=0
        ).collect()
    }
    assert set(joined) == set(closure) == {0, 1, 7, 9}
    for k in closure:
        assert joined[k]["n_tokens"] == closure[k]["n_tokens"]
        assert joined[k]["bits_per_token"] == pytest.approx(
            closure[k]["bits_per_token"], abs=1e-9
        )
    # single-token doc: no transitions, bits = -ulogp(a)
    assert joined[9]["n_tokens"] == 1
    assert joined[9]["bits_per_token"] == pytest.approx(
        -math.log2(3 / 9), abs=1e-9
    )


def test_auto_gate_picks_join_above_cap(model):
    """max_closure_rows below the observed pair count must route to the
    join tier (no driver collect of the pair table) and still score
    identically within tolerance."""
    df, bi, ctx, _stats = model
    got = {
        r["id"]: r for r in bigram_bits_per_token(
            df, "doc_id", "text", bi, ctx, max_closure_rows=1
        ).collect()
    }
    exp0 = -(math.log2(3 / 9) + math.log2(2 / 6) + math.log2(2 / 7)) / 3
    assert got[0]["n_tokens"] == 3
    assert got[0]["bits_per_token"] == pytest.approx(exp0, abs=1e-9)

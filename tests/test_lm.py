"""Unit tests for the unigram LM perplexity scoring (F46) — training
arithmetic, the Arrow kernel's bit-equality with a JVM-expression
reference fold, and the DuckDB replay the token_histogram twin rides
on."""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from petk_spark.operators import lm

REF = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "a cat and a dog met"),
    (4, None),
    (5, ""),
]


@pytest.fixture()
def ref(spark):
    return spark.createDataFrame(REF, "id long, text string")


def lm_bits_expr(df, id_col, text_col, vocab, oov_logp, split_cjk=False):
    """Reference for :func:`lm.lm_bits_per_token`: the model becomes a
    one-row MAP column cross-joined as a broadcast, and the sum is an
    ``F.aggregate`` left fold — plain SQL semantics, summing the SAME
    JVM-computed logp values in the SAME document order as the
    kernel, so the two agree bit-for-bit."""
    mp = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct("token", "logp"))
        ).alias("__lm")
    )
    toks = lm._tokens(text_col, split_cjk)
    acc = F.aggregate(
        toks,
        F.lit(0.0),
        lambda a, t: a
        + F.coalesce(
            F.element_at(F.col("__lm"), t), F.lit(float(oov_logp))
        ),
    )
    n_toks = F.size(toks)
    return (
        df.crossJoin(F.broadcast(mp))
        .select(
            F.col(id_col).alias("id"),
            F.when(F.col(text_col).isNotNull(), n_toks)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.when(n_toks > 0, -acc / n_toks).alias("bits_per_token"),
        )
    )


def test_train_unigram_lm_arithmetic(spark, ref):
    vocab, stats = lm.train_unigram_lm(ref, "text", vocab_size=4)
    rows = {r["token"]: r for r in vocab.collect()}
    # 18 reference tokens; top-4 by (count desc, token asc):
    # the(4), a(2), cat(2), dog(2) — 'on'/'sat' (2) lose the tie to
    # 'a'/'cat'/'dog' lexicographically... verify the cut exactly
    assert stats["n_total"] == 18 and stats["vocab_size"] == 4
    assert set(rows) == {"the", "a", "cat", "dog"}
    denom = 18 + 4 + 1
    assert rows["the"]["logp"] == pytest.approx(math.log2(5 / denom))
    assert rows["cat"]["logp"] == pytest.approx(math.log2(3 / denom))
    assert stats["oov_logp"] == pytest.approx(math.log2(1 / denom))
    # deterministic retrain
    v2, s2 = lm.train_unigram_lm(ref, "text", vocab_size=4)
    assert sorted(map(tuple, v2.collect())) == sorted(
        map(tuple, vocab.collect())
    )
    assert s2 == stats


def test_lm_score_paths_bit_identical(spark, ref):
    vocab, stats = lm.train_unigram_lm(ref, "text", vocab_size=4)
    docs = spark.createDataFrame(
        [
            (10, "the cat sat"),
            (11, "zz qq xx yy"),
            (12, None),
            (13, ""),
            (14, "THE The the"),
            (15, "   "),
        ],
        "id long, text string",
    )
    a = {
        r["id"]: (r["n_tokens"], r["bits_per_token"])
        for r in lm.lm_bits_per_token(
            docs, "id", "text", vocab, stats["oov_logp"]
        ).collect()
    }
    e = {
        r["id"]: (r["n_tokens"], r["bits_per_token"])
        for r in lm_bits_expr(
            docs, "id", "text", vocab, stats["oov_logp"]
        ).collect()
    }
    assert a == e  # exact float equality — the left-fold contract
    # all-OOV gibberish scores exactly -oov_logp per token, and higher
    # than fluent text; case folds; NULL/empty/blank → NULL score
    assert a[11] == (4, -stats["oov_logp"])
    assert a[11][1] > a[10][1]
    assert a[14][0] == 3 and a[14][1] == pytest.approx(
        -math.log2(5 / 23)
    )
    assert a[12] == (0, None) and a[13] == (0, None) and a[15] == (0, None)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["the", "cat", "zz", "a", "qq", "dog"]),
                min_size=0,
                max_size=30,
            ).map(" ".join),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_lm_score_paths_property(spark, texts):
    ref = spark.createDataFrame(REF, "id long, text string")
    vocab, stats = lm.train_unigram_lm(ref, "text", vocab_size=4)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    a = sorted(
        map(
            tuple,
            lm.lm_bits_per_token(
                docs, "id", "text", vocab, stats["oov_logp"]
            ).collect(),
        )
    )
    e = sorted(
        map(
            tuple,
            lm_bits_expr(
                docs, "id", "text", vocab, stats["oov_logp"]
            ).collect(),
        )
    )
    assert a == e


def test_lm_score_arrow_is_scan_local(spark, ref):
    """Production contract: scoring is one scan — no Exchange in the
    scoring plan (the model is a closure, not a join)."""
    vocab, stats = lm.train_unigram_lm(ref, "text", vocab_size=4)
    out = lm.lm_bits_per_token(
        ref, "id", "text", vocab, stats["oov_logp"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_lm_duckdb_replay_parity(spark, ref):
    """The twin's map()+list_reduce replay reproduces the kernel's
    left fold on a crafted corpus, %.6e-formatted on both sides."""
    from petk_spark.functions.oracle_fmt import fmt_sci

    vocab, stats = lm.train_unigram_lm(ref, "text", vocab_size=4)
    got = {
        r["id"]: r["b"]
        for r in lm.lm_bits_per_token(
            ref, "id", "text", vocab, stats["oov_logp"]
        )
        .select("id", fmt_sci(F.col("bits_per_token")).alias("b"))
        .collect()
    }
    con = duckdb.connect()
    from petk_spark.functions.oracle_fmt import duckdb_fmt_sci

    fold = (
        "-(list_reduce(list_prepend(0.0, list_transform(tk, "
        "t -> coalesce(map_extract(m, t)[1], oov))), (x, y) -> x + y))"
        " / len(tk)"
    )
    sql = rf"""
    WITH src AS (SELECT unnest(?) AS id, unnest(?) AS text),
    toks AS (SELECT id, text,
      list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS tk
      FROM src),
    tok AS (SELECT unnest(tk) AS token FROM toks),
    cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
    voc AS (SELECT token, n FROM cnt ORDER BY n DESC, token ASC LIMIT 4),
    prm AS (SELECT (SELECT sum(n) FROM cnt) AS n_total,
                   (SELECT count(*) FROM voc) AS v),
    lmv AS (SELECT token, log2((n + 1.0) / (n_total + v + 1.0)) AS logp
            FROM voc, prm),
    mp AS (SELECT map(list(token ORDER BY token), list(logp ORDER BY token)) AS m,
                  (SELECT log2(1.0 / (n_total + v + 1.0)) FROM prm) AS oov
           FROM lmv)
    SELECT id, CASE WHEN len(tk) > 0 THEN {duckdb_fmt_sci(fold)} END
    FROM toks, mp ORDER BY id
    """
    ids = [r[0] for r in REF]
    txts = [r[1] for r in REF]
    for i, b in con.execute(sql, [ids, txts]).fetchall():
        assert got[i] == b, (i, got[i], b)


def test_token_histogram_twin_round9_families(spark):
    from petk_spark.operators.extensions_registry import _q_token_histogram

    counts = {
        r["family"]: r["count"]
        for r in _q_token_histogram(spark, "/root/testdata/sf0.001")
        .groupBy("family")
        .count()
        .collect()
    }
    assert counts.get("hist", 0) >= 1
    assert counts.get("lm", 0) >= 1
    assert counts.get("lm_score", 0) >= 1

"""Unit tests for the span-level exact-substring dedup (F41) and
eval-set decontamination (F42) operators, including the Arrow kernel's
equivalence with a JVM-expression reference fold and the DuckDB replay
parity the oracle twin rides on."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from petk_spark.operators import spans

SPAN = "the quick brown fox jumps over the lazy dog again and again today"

DOCS = [
    (1, f"alpha beta gamma {SPAN} delta epsilon zeta eta theta"),
    (2, f"one two three four five six seven eight {SPAN} nine ten"),
    (3, "completely unique text with plenty of tokens to spare here now"),
    (4, "short doc"),
    (5, None),
    (6, ""),
    (7, "   \t  "),
]


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(DOCS, "id long, text string")


def _remove_spans_expr(df, id_col, text_col, window, min_docs):
    """Reference for :func:`spans.remove_repeated_spans`: the same hit
    frame, then the removal as plain JVM expressions — the covered set
    is materialized as a deduped index array and each token probes it
    with ``array_contains`` (O(T·C) interpreted, but plain SQL)."""
    hot = spans.repeated_span_frame(
        df, id_col, text_col, window, min_docs
    ).select("fp")
    hits = (
        spans.span_fingerprint_frame(df, id_col, text_col, window)
        .join(hot, "fp")
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("i")).alias("hits"))
    )
    joined = df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).join(hits.withColumnRenamed("id", id_col), id_col, "left")
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("hits"), F.array().cast("array<int>")),
                lambda s: F.sequence(
                    s, s + F.lit(window - 1)
                ),
            )
        )
    )
    kept = F.zip_with(
        toks,
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda t, j: F.when(~F.array_contains(covered, j), t),
    )
    kept = F.filter(kept, lambda t: t.isNotNull())
    return joined.select(
        F.col(id_col).alias("id"),
        F.when(
            F.col(text_col).isNotNull(), F.array_join(kept, " ")
        ).alias("text"),
        F.when(F.col(text_col).isNotNull(), F.size(toks))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_tokens"),
        F.when(F.col(text_col).isNotNull(), F.size(kept))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_tokens_kept"),
    )


#: the operator's Arrow kernel and the expression reference
REMOVE = {"arrow": spans.remove_repeated_spans, "expr": _remove_spans_expr}


@pytest.mark.parametrize("method", ["arrow", "expr"])
def test_remove_repeated_spans_known_values(spark, corpus, method):
    out = {
        r["id"]: r
        for r in REMOVE[method](
            corpus, "id", "text", window=8, min_docs=2
        ).collect()
    }
    assert len(out) == len(DOCS)
    # the 13-token shared span is cut out exactly; surrounding
    # doc-unique tokens survive (boundary windows are not duplicated)
    assert out[1]["text"] == (
        "alpha beta gamma delta epsilon zeta eta theta"
    )
    assert (out[1]["n_tokens"], out[1]["n_tokens_kept"]) == (21, 8)
    assert out[2]["text"] == (
        "one two three four five six seven eight nine ten"
    )
    assert (out[2]["n_tokens"], out[2]["n_tokens_kept"]) == (23, 10)
    # untouched doc: tokens preserved (whitespace-normalized rebuild)
    assert out[3]["text"] == DOCS[2][1]
    assert out[3]["n_tokens"] == out[3]["n_tokens_kept"] == 11
    # shorter than window: passes through (modulo ws normalization)
    assert out[4]["text"] == "short doc"
    assert (out[4]["n_tokens"], out[4]["n_tokens_kept"]) == (2, 2)
    # NULL stays NULL with zero counts; empty/blank normalize to ''
    assert out[5]["text"] is None
    assert (out[5]["n_tokens"], out[5]["n_tokens_kept"]) == (0, 0)
    assert out[6]["text"] == "" and out[7]["text"] == ""


def test_remove_repeated_spans_case_insensitive_match(spark):
    """Fingerprints hash the LOWERED tokens (same contract as every
    tokenizer in the repo), so differently-cased copies of a span
    still count as duplicates — but survivors keep original case."""
    df = spark.createDataFrame(
        [
            (1, f"Keep Me {SPAN.upper()} And Me"),
            (2, f"other prefix words here {SPAN} suffix tail words x"),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r["text"]
        for r in spans.remove_repeated_spans(
            df, "id", "text", window=8, min_docs=2
        ).collect()
    }
    assert out[1] == "Keep Me And Me"
    assert out[2] == "other prefix words here suffix tail words x"


def test_repeated_span_frame_counts(spark, corpus):
    rows = spans.repeated_span_frame(
        corpus, "id", "text", window=8, min_docs=2
    ).collect()
    # exactly the 6 in-span windows are shared by docs 1 and 2
    assert len(rows) == 6
    assert all(r["n_docs"] == 2 and r["n_occurrences"] == 2 for r in rows)


def test_remove_repeated_spans_precomputed_hot(spark, corpus):
    """Production shape: frequency once, rewrite many — a precomputed
    hot frame (even with duplicate rows) gives the identical rewrite."""
    hot = spans.repeated_span_frame(
        corpus, "id", "text", window=8, min_docs=2
    ).select("fp")
    inline = spans.remove_repeated_spans(
        corpus, "id", "text", window=8, min_docs=2
    )
    pre = spans.remove_repeated_spans(
        corpus, "id", "text", window=8, hot=hot.unionAll(hot)
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, pre.collect())
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(
                    ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
                ),
                min_size=0,
                max_size=24,
            ).map(" ".join),
        ),
        min_size=2,
        max_size=8,
    )
)
def test_remove_spans_arrow_equiv_expr_property(spark, texts):
    """Arrow kernel ≡ expression reference on random small-vocab
    corpora (small vocab forces genuine duplicated windows) —
    multi-row batches with DIFFERING token counts, the exact trigger
    of the F40 lambda-scoping class."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    a = sorted(
        map(
            tuple,
            spans.remove_repeated_spans(
                df, "id", "text", window=3, min_docs=2
            ).collect(),
        )
    )
    e = sorted(
        map(
            tuple,
            _remove_spans_expr(
                df, "id", "text", window=3, min_docs=2
            ).collect(),
        )
    )
    assert a == e


def test_remove_spans_parity_with_duckdb(spark, corpus):
    """The kernel replayed by the registry twin's SQL: same hot set,
    same coverage rule, same rebuilt strings."""
    got = {
        r["id"]: (r["text"], r["n_tokens"], r["n_tokens_kept"])
        for r in spans.remove_repeated_spans(
            corpus, "id", "text", window=8, min_docs=2
        ).collect()
    }
    con = duckdb.connect()
    sql = r"""
    WITH src AS (SELECT unnest(?) AS id, unnest(?) AS text),
    tok AS (
      SELECT id, text,
        list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS tko,
        list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS tk
      FROM src WHERE text IS NOT NULL
    ),
    win AS (
      SELECT id, i - 1 AS i,
        ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT AS fp
      FROM (SELECT id, tk, unnest(range(1, len(tk) - 6)) AS i
            FROM tok WHERE len(tk) >= 8)
    ),
    hot AS (SELECT fp FROM (SELECT fp, count(DISTINCT id) nd FROM win GROUP BY 1) WHERE nd >= 2),
    hits AS (SELECT id, list_sort(list(DISTINCT i)) AS hits
             FROM win WHERE fp IN (SELECT fp FROM hot) GROUP BY id),
    kept AS (
      SELECT s.id, s.text, t.tko,
        CASE WHEN h.hits IS NULL THEN t.tko
             ELSE list_filter(t.tko, (x, j) -> NOT list_contains(
               list_distinct(flatten(list_transform(h.hits, s2 -> range(s2, s2 + 8)))),
               j - 1)) END AS kept
      FROM src s LEFT JOIN tok t USING (id) LEFT JOIN hits h ON s.id = h.id
    )
    SELECT id,
      CASE WHEN text IS NULL THEN NULL
           ELSE coalesce(array_to_string(kept, ' '), '') END,
      coalesce(len(tko), 0), coalesce(len(kept), 0)
    FROM kept ORDER BY id
    """
    ids = [d[0] for d in DOCS]
    txts = [d[1] for d in DOCS]
    for i, txt, nt, nk in con.execute(sql, [ids, txts]).fetchall():
        assert got[i] == (txt, nt, nk), (i, got[i], (txt, nt, nk))


def test_contamination_report_and_decontaminate(spark, corpus):
    ev = spark.createDataFrame(
        [(100, SPAN), (101, None)], "id long, text string"
    )
    rep = {
        r["id"]: r["n_common"]
        for r in spans.contamination_report(
            corpus, ev, "id", "text", window=8, min_common=2
        ).collect()
    }
    assert rep == {1: 6, 2: 6}
    kept = sorted(
        r["id"]
        for r in spans.decontaminate(
            corpus, ev, "id", "text", window=8, min_common=2
        ).collect()
    )
    assert kept == [3, 4, 5, 6, 7]
    # threshold binds: min_common above the span's window count keeps all
    assert (
        spans.contamination_report(
            corpus, ev, "id", "text", window=8, min_common=7
        ).count()
        == 0
    )


def test_contamination_eval_side_is_broadcast(spark, corpus):
    """The 100 TB scale contract: the eval fingerprint set is the
    BROADCAST side — the train side's fingerprints never shuffle into
    a sort-merge join against the benchmark."""
    ev = spark.createDataFrame([(100, SPAN)], "id long, text string")
    plan = (
        spans.contamination_report(corpus, ev, "id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_remove_spans_no_cartesian(spark, corpus):
    plan = (
        spans.remove_repeated_spans(corpus, "id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_fingerprint_overlap_twin_families(spark):
    """Round-9 twin widening guard (the corpus_clean precedent): every
    family must actually produce rows — an empty family would
    hash-match an equally empty oracle."""
    from petk_spark.operators.extensions_registry import (
        _q_fingerprint_overlap,
    )

    counts = {
        r["family"]: r["count"]
        for r in _q_fingerprint_overlap(spark, "/root/testdata/sf0.001")
        .groupBy("family")
        .count()
        .collect()
    }
    assert counts.get("overlap", 0) >= 1
    assert counts.get("spans", 0) >= 1
    assert counts.get("decon", 0) >= 1

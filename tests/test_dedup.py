"""Dedup operator pins: the embedding near-dup size gate and the
banded hyperplane-LSH fallback's precision/recall contract."""

from __future__ import annotations

import numpy as np
import pytest

from petk_spark.operators.dedup import embedding_near_dup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_embedding_near_dup_requires_integral_id(spark, emb):
    stringy = emb.selectExpr("CAST(vec_id AS STRING) AS vec_id", "embedding")
    with pytest.raises(TypeError, match="integral id"):
        embedding_near_dup(stringy, "vec_id", "embedding")


def test_fingerprint_overlap_short_and_null_docs(spark):
    """Docs shorter than the window fingerprint their whole token string
    (identical short docs pair); NULL text contributes nothing."""
    from petk_spark.operators.dedup import fingerprint_overlap

    df = spark.createDataFrame(
        [
            (1, "tiny doc"),
            (2, "Tiny   DOC"),   # same tokens after lower + \s+ split
            (3, "different"),
            (4, None),
        ],
        "id long, text string",
    )
    rows = fingerprint_overlap(df, "id", "text", window=8, min_common=1).collect()
    assert [(r.id_a, r.id_b, r.n_common) for r in rows] == [(1, 2, 1)]


def test_lsh_fallback_subset_and_recall(emb):
    """Above the broadcast ceiling the operator must switch to the
    bucketed LSH path: exact precision (every pair it returns is a true
    pair with the identical cosine) and S-curve recall (≥60% even at
    this deliberately LSH-hostile low threshold; ~99% at ≥0.9)."""
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup(
            emb, "vec_id", "embedding", threshold=0.4, max_broadcast_rows=1
        ).collect()
    }
    assert set(lsh) <= set(exact), "LSH returned a false pair"
    assert len(lsh) >= 0.6 * len(exact), (len(lsh), len(exact))
    for k, v in lsh.items():
        assert v == pytest.approx(exact[k], rel=1e-9)


# ---------------------------------------------------------------------------
# MinHash LSH — the document kernel against the JVM reference pipeline
# ---------------------------------------------------------------------------

def _minhash_corpus(seed: int) -> list[str | None]:
    """Seeded near-dup families over a small mixed-case vocabulary (so
    shingles repeat within a document), with NULL, empty and short
    documents, NBSP / EM SPACE inside tokens (not whitespace to the
    ASCII tokenizer), and one document with more distinct shingles than
    the kernel's fold chunk plus a near copy of it."""
    rng = np.random.default_rng(seed)
    vocab = ["alpha", "Beta", "GAMMA", "delta", "eps", "zeta", "eta",
             "theta", "la\u00a0mbda", "mu\u2003nu", "xi", "pi", "rho"]
    seps = [" ", "  ", "\t", "\n", " \r\n "]

    def join(toks):
        return "".join(t + seps[rng.integers(len(seps))] for t in toks)

    texts: list[str | None] = [None, "", "   ", "one", "One  two", "a b a b a b a b"]
    for _ in range(12):
        toks = [vocab[i] for i in rng.integers(len(vocab), size=rng.integers(3, 30))]
        texts.append(join(toks))
        for _ in range(rng.integers(1, 4)):
            near = list(toks)
            for j in rng.integers(len(near), size=rng.integers(0, 3)):
                near[j] = vocab[rng.integers(len(vocab))]
            texts.append(join(near).upper() if rng.random() < 0.3 else join(near))
    big = [f"w{i}" for i in range(70_000)]
    texts.append(" ".join(big))
    texts.append(" ".join(f"v{i}" if i % 97 == 0 else w for i, w in enumerate(big)))
    return texts


@pytest.mark.parametrize(
    "n,id_kind,chunk",
    [(1, "long", None), (3, "long", 7), (1, "string", 7), (3, "string", None)],
)
def test_minhash_kernel_equals_reference(spark, monkeypatch, n, id_kind, chunk):
    """The Arrow document kernel and the JVM reference pipeline (exploded
    shingles, 64 min aggregates, shingle join) give the same signatures,
    the same unverified candidates and the same verified rows, jaccard
    bit for bit, at a threshold equal to an attained Jaccard value. A
    small fold chunk makes slices straddle documents."""
    from petk_spark.operators import dedup
    from tests.oracle_harness import (
        minhash_lsh_reference,
        minhash_signatures_reference,
    )

    if chunk:
        monkeypatch.setattr(dedup, "_SIG_CHUNK", chunk)
    texts = _minhash_corpus(seed=n * 10 + len(id_kind))
    ids = np.random.default_rng(n).permutation(10_000)[: len(texts)].tolist()
    if id_kind == "string":
        ids = [f"d{i}" for i in ids]
    df = spark.createDataFrame(
        list(zip(ids, texts)), f"id {id_kind}, text string"
    ).repartition(3)

    def sigs(frame):
        return sorted((r.id, list(r.sig)) for r in frame.collect())

    assert sigs(dedup.minhash_signatures(df, "id", "text", n=n)) == sigs(
        minhash_signatures_reference(df, "id", "text", n=n)
    )

    def rows(frame):
        return sorted(
            (r.id_a, r.id_b) + tuple(v.hex() for v in r[2:]) for r in frame.collect()
        )

    attained = sorted(
        r.jaccard
        for r in minhash_lsh_reference(df, "id", "text", n=n, threshold=0.0).collect()
    )
    assert len(set(attained)) > 2, attained
    for verify, th in [(False, 0.8), (True, 0.0), (True, attained[len(attained) // 2])]:
        got = rows(dedup.minhash_lsh_near_dup(
            df, "id", "text", n=n, threshold=th, verify_exact=verify))
        want = rows(minhash_lsh_reference(
            df, "id", "text", n=n, threshold=th, verify_exact=verify))
        assert got == want and got, (verify, th)


# ---------------------------------------------------------------------------
# Repetition signals (round 5 — Gopher-style quality filters)
# ---------------------------------------------------------------------------

def test_repetition_signals_known_values(spark):
    from petk_spark.operators.text import repetition_frame

    docs = [
        # 4 non-empty lines, "spam" repeated 3x: dup_line_frac = 2/4;
        # line chars = 4+4+4+11 = 23, distinct = 4+11 = 15 -> dup_char
        # = 8/23; max rep mass = 3*4 = 12 -> 12/23
        (1, "spam\nspam\n\nspam\nreal line x"),
        # no repetition at all
        (2, "alpha beta\ngamma delta"),
        # single line
        (3, "only one line"),
        # bigrams: tokens [a b a b a] -> bigrams [a b, b a, a b, b a]
        # -> top 'a b' = 2/4
        (4, "a b a b a"),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["id"]: r.asDict()
        for r in repetition_frame(df, "doc_id", "text").collect()
    }

    assert out[1]["n_lines"] == 4
    assert abs(out[1]["dup_line_frac"] - 2 / 4) < 1e-12
    assert abs(out[1]["dup_line_char_frac"] - 8 / 23) < 1e-12
    assert abs(out[1]["max_line_frac"] - 12 / 23) < 1e-12

    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["dup_line_char_frac"] == 0.0

    assert abs(out[4]["top_ngram_frac"] - 0.5) < 1e-12
    # doc 3 has 3 tokens -> 2 bigrams, both distinct
    assert abs(out[3]["top_ngram_frac"] - 0.5) < 1e-12

    # empty doc: all fractions NULL, zero lines
    assert out[5]["n_lines"] == 0
    assert out[5]["dup_line_frac"] is None
    assert out[5]["top_ngram_frac"] is None


def test_repetition_signals_row_local_plan(spark):
    """The WHOLE repetition frame — line signals AND the n-gram mode —
    is one row-local projection on the scan: zero shuffles, zero
    joins (round 6: the former (doc, gram) count shuffle + join back
    was replaced by a sorted run-length pass over the gram array)."""
    from petk_spark.operators.text import repetition_frame
    from petk_spark.plans.inspect import exchange_count

    df = spark.createDataFrame(
        [(i, f"line a\nline b {i}") for i in range(100)],
        "doc_id long, text string",
    )
    out = repetition_frame(df, "doc_id", "text")
    out.collect()
    assert exchange_count(out) == 0


def test_repetition_signals_bounded_on_many_distinct_lines(spark):
    """50k mostly-distinct lines in ONE document: the sorted
    run-length ``max_line_frac`` is O(L log L) row-local; the previous
    transform-over-distinct × filter-over-lines form was
    O(distinct·total) (~2.5e9 comparisons on this fixture) and stalled
    the task (round-6 advisory). Values pinned exactly."""
    import time

    from petk_spark.operators.text import repetition_frame

    n = 50_000
    lines = [f"unique line {i:06d}" for i in range(n)] + (
        ["boilerplate banner"] * 5
    )
    df = spark.createDataFrame(
        [(1, "\n".join(lines))], "doc_id long, text string"
    )
    t0 = time.monotonic()
    row = repetition_frame(df, "doc_id", "text").collect()[0]
    elapsed = time.monotonic() - t0

    total = n + 5
    chars = sum(len(ln) for ln in lines)
    dchars = sum(len(ln) for ln in set(lines))
    assert row["n_lines"] == total
    assert abs(row["dup_line_frac"] - 4 / total) < 1e-12
    assert abs(row["dup_line_char_frac"] - (chars - dchars) / chars) < 1e-12
    assert abs(row["max_line_frac"] - 5 * 18 / chars) < 1e-12
    assert elapsed < 60, f"{elapsed:.1f}s — quadratic regression?"


def test_document_signals_frame_fused_one_scan(spark):
    """The fused production path equals the three composed frames
    column-for-column (quality ∘ lang ∘ repetition joined on id) and
    is ONE scan with zero shuffles — the plan a 100 TB corpus sweep
    should pay instead of three."""
    import math

    from petk_spark.operators.text import (
        document_signals_frame,
        language_id_frame,
        repetition_frame,
        text_quality_frame,
    )
    from petk_spark.plans.inspect import exchange_count, scan_count

    df = spark.read.parquet(f"{SF}/documents.parquet")
    fused = document_signals_frame(df, "doc_id", "text")
    fused.collect()
    assert scan_count(fused) == 1
    assert exchange_count(fused) == 0

    composed = (
        text_quality_frame(df, "doc_id", "text")
        .join(language_id_frame(df, "doc_id", "text"), "id")
        .join(repetition_frame(df, "doc_id", "text"), "id")
    )
    assert set(fused.columns) == set(composed.columns)
    got = {r["id"]: r.asDict() for r in fused.collect()}
    want = {r["id"]: r.asDict() for r in composed.collect()}
    assert set(got) == set(want) and len(got) >= 100
    for i, row in want.items():
        for k, v in row.items():
            g = got[i][k]
            if isinstance(v, float):
                assert g == v or math.isclose(g, v, rel_tol=1e-12), (i, k)
            else:
                assert g == v, (i, k)


# ---------------------------------------------------------------------------
# F39 — SemDeDup-style semantic dedup over embedding cells
# ---------------------------------------------------------------------------

def _sem_fixture(spark):
    """Two well-separated clusters along axes 0 and 1 (dim 4), plus
    malformed rows. Within cluster 0: ids 1,2,3 are near-identical
    (cosine ≈ 1) and id 4 is orthogonal-ish; cluster 1: ids 10,11
    near-identical."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),
        (3, [0.98, 0.02, 0.0, 0.0]),
        (4, [0.7, 0.0, 0.7, 0.1]),     # same cell, not a dup
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.99, 0.01, 0.0]),
        (90, None),                     # malformed: NULL
        (91, [1.0, 0.0]),               # malformed: ragged
        (92, [0.0, 0.0, 0.0, 0.0]),     # malformed: zero norm
        (93, [float("nan"), 1.0, 0.0, 0.0]),  # malformed: NaN
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_SEM_CENTROIDS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
]


def test_semantic_dedup_pairs_and_keep(spark):
    from petk_spark.operators.dedup import semantic_dedup, semantic_dedup_pairs

    df = _sem_fixture(spark)
    pairs = semantic_dedup_pairs(
        df, "vec_id", "embedding", centroids=_SEM_CENTROIDS, threshold=0.95
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # only same-cell high-cosine pairs; cross-cluster and the
    # orthogonal-ish id 4 never pair; malformed ids never appear
    assert got == {(1, 2), (1, 3), (2, 3), (10, 11)}
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS, threshold=0.95
        ).collect()
    )
    # lowest id per duplicate group survives; non-dups and ALL
    # malformed rows are kept
    assert kept == [1, 4, 10, 90, 91, 92, 93]


def test_semantic_dedup_trained_centroids_deterministic(spark):
    from petk_spark.operators.dedup import semantic_dedup

    df = _sem_fixture(spark)
    a = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_centroids=2, threshold=0.95
        ).collect()
    )
    b = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_centroids=2, threshold=0.95
        ).collect()
    )
    assert a == b  # seeded sample_centroids -> same result every run
    assert 1 in a and 90 in a  # group minima and malformed rows kept


def test_semantic_dedup_plan_no_cartesian(spark):
    from petk_spark.operators.dedup import semantic_dedup_pairs

    df = _sem_fixture(spark)
    plan = semantic_dedup_pairs(
        df, "vec_id", "embedding", centroids=_SEM_CENTROIDS
    )._jdf.queryExecution().executedPlan().toString()
    # the whole point: a CELL-keyed equi-join, never an all-pairs product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _fold_join_pairs(df, threshold, centroids=_SEM_CENTROIDS) -> dict:
    """Reference pair set {(cell, id_a, id_b): cosine}: the production
    cells (``ivf_assign``) self-joined on the cell and scored by the
    test-side reference fold ``cosine_expr``."""
    from pyspark.sql import functions as F

    from petk_spark.operators.similarity import ivf_assign
    from tests.oracle_harness import cosine_expr

    cells = ivf_assign(df, centroids).filter(F.col("centroid_id").isNotNull())
    x, y = cells.alias("x"), cells.alias("y")
    return {
        (r["cell"], r["id_a"], r["id_b"]): r["cosine"]
        for r in x.join(y, "centroid_id")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("centroid_id").alias("cell"),
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            cosine_expr(F.col("x.vec"), F.col("y.vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .collect()
    }


def _sem_pairs(df, threshold, **kw) -> dict:
    from petk_spark.operators.dedup import semantic_dedup_pairs

    return {
        (r["cell"], r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=threshold, **kw,
        ).collect()
    }


def test_semantic_pairs_arrow_equals_expr(spark):
    """The production path (ivf_assign cells, BLAS filter, fold
    refine) returns the reference fold join's pairs and cosines
    exactly."""
    df = _sem_fixture(spark)
    got = _sem_pairs(df, 0.95)
    assert got == _fold_join_pairs(df, 0.95)
    assert {k[1:] for k in got} == {(1, 2), (1, 3), (2, 3), (10, 11)}


def test_semantic_pairs_arrow_plan_is_grouped_arrow(spark):
    from petk_spark.operators.dedup import semantic_dedup_pairs

    df = _sem_fixture(spark)
    plan = semantic_dedup_pairs(
        df, "vec_id", "embedding", centroids=_SEM_CENTROIDS
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_hot_cell_fallback(spark):
    """An artificially hot cell (> max_cell_rows) warns and is routed
    through the distributed cell-keyed join; the pairs and cosines are
    identical to the unguarded Arrow path and to the reference fold
    join. Cold cells keep riding the Arrow kernel."""
    import warnings as _w

    # hot cell 0: 60 near-identical vectors; cold cell 1: 3 vectors
    rows = [
        (i, [1.0, i * 1e-6, 0.0, 0.0]) for i in range(60)
    ] + [
        (100, [0.0, 1.0, 0.0, 0.0]),
        (101, [0.0, 0.999, 0.001, 0.0]),
        (102, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        guarded = _sem_pairs(df, 0.99, max_cell_rows=50)
    assert any(
        "max_cell_rows" in str(c.message) for c in caught
    ), "hot-cell routing must warn"
    unguarded = _sem_pairs(df, 0.99, max_cell_rows=1000)
    assert guarded == unguarded == _fold_join_pairs(df, 0.99)
    assert (1, 100, 101) in guarded  # the cold cell's pair survived
    # and no warning when every cell is under the threshold
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        _sem_pairs(df, 0.99, max_cell_rows=1000)
    assert not any("max_cell_rows" in str(c.message) for c in caught)


def test_semantic_pairs_string_ids(spark):
    """Non-integer id columns flow through the Arrow path (the output
    schema is derived from the input id type) and agree with the
    reference fold join."""
    from petk_spark.operators.dedup import semantic_dedup

    rows = [
        ("doc-a", [1.0, 0.0, 0.0, 0.0]),
        ("doc-b", [0.99, 0.01, 0.0, 0.0]),
        ("doc-c", [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = _sem_pairs(df, 0.95)
    assert got == _fold_join_pairs(df, 0.95)
    assert {k[1:] for k in got} == {("doc-a", "doc-b")}
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=0.95,
        ).collect()
    )
    assert kept == ["doc-a", "doc-c"]


def test_semantic_pairs_chunked_matmul_equiv(spark, monkeypatch):
    """A cell spanning many filter blocks: the blocked scorer's pairs
    and cosines equal the reference fold join's exactly (the memory
    guard can't change results), and so do the production path's."""
    from petk_spark.operators import dedup as _d

    rows = [(i, [1.0, (i % 7) * 0.002, 0.0, 0.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = _fold_join_pairs(df, 0.9999)
    assert len(want) > 10 and {k[0] for k in want} == {0}
    assert _sem_pairs(df, 0.9999, max_cell_rows=1000) == want
    monkeypatch.setattr(_d, "_MATMUL_BLOCK", 4)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array([r[1] for r in rows])
    i, j, c = _d._cosine_pairs(ids, X, ids, X, 0.9999)
    assert {
        (0, int(ids[a]), int(ids[b])): v for a, b, v in zip(i, j, c)
    } == want


def test_filter_previously_seen(spark):
    """F45 incremental dedup against an existing fingerprint store:
    normalized-text identity (case/whitespace fold), NULL texts kept
    (no comparison basis), within-batch duplicates kept (batch-local
    dedup is a separate, composable pass), duplicate store rows
    harmless."""
    from petk_spark.operators.dedup import filter_previously_seen
    from petk_spark.operators.text import fingerprint_frame

    old = spark.createDataFrame(
        [(1, "Hello   World"), (2, "seen before"), (3, None)],
        "id long, text string",
    )
    seen = fingerprint_frame(old, "id", "text")
    new = spark.createDataFrame(
        [
            (10, "hello world"),        # matches 1 after normalization
            (11, "SEEN  BEFORE"),       # matches 2
            (12, "genuinely new"),
            (13, "genuinely new"),      # within-batch dup: KEPT
            (14, None),                 # NULL: KEPT
        ],
        "id long, text string",
    )
    kept = sorted(
        r["id"]
        for r in filter_previously_seen(
            new, "id", "text", seen.unionAll(seen)
        ).collect()
    )
    assert kept == [12, 13, 14]
    # schema passthrough: original columns, no helper columns
    out = filter_previously_seen(new, "id", "text", seen)
    assert out.columns == ["id", "text"]

"""The one exact cosine kernel: ``similarity.cosine_col`` (the Arrow
left fold every pair-scoring path runs) against the reference fold
``oracle_harness.cosine_expr``, the block filter-and-refine
(``dedup._cosine_pairs``) against the full fold, the NULL contract
for non-finite vectors on every tier, and the one vector reader
(``similarity._vectors``) every embedding kernel reads through."""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from pyspark.sql import functions as F

from petk_spark.operators.dedup import _cosine_pairs, embedding_near_dup
from petk_spark.operators.similarity import (
    _fold_cosine,
    _vectors,
    cosine_col,
    cosine_topk,
)
from tests.oracle_harness import cosine_expr

INF, NAN = float("inf"), float("nan")


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _adversarial_vec(rng, d: int):
    """One vector of a random kind: well-formed, NULL, NULL element,
    ragged, empty, zero-norm, subnormal, tiny-norm, huge, ±Inf, NaN."""
    kind = int(rng.integers(0, 14))
    base = [float(x) for x in rng.standard_normal(d)]
    if kind == 0:
        return None
    if kind == 1:
        return base[:2] + [None] + base[3:]
    if kind == 2:
        return base[: d - 1]
    if kind == 3:
        return []
    if kind == 4:
        return [0.0] * d
    if kind == 5:
        return [x * 5e-324 for x in base]
    if kind == 6:
        return [x * 1e-160 for x in base]
    if kind == 7:
        return [x * 1e154 for x in base]
    if kind == 8:
        return [INF] + base[1:]
    if kind == 9:
        return [NAN] + base[1:]
    return base


def test_kernel_matches_reference_fold_bitwise(spark):
    """Wherever the reference's denominator is finite and non-zero the
    kernel equals the reference fold bit for bit; everywhere else
    (NULL array or element, ragged, empty, zero-norm, non-finite, a
    norm product that under- or overflows) the kernel is NULL."""
    rng = np.random.default_rng(20261019)
    rows = [
        (i, _adversarial_vec(rng, 6), _adversarial_vec(rng, 6))
        for i in range(3000)
    ]
    df = spark.createDataFrame(
        rows, "i long, a array<double>, b array<double>"
    )

    def norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v))

    out = df.select(
        "i",
        cosine_expr(F.col("a"), F.col("b")).alias("ref"),
        cosine_col(F.col("a"), F.col("b")).alias("got"),
        (norm(F.col("a")) * norm(F.col("b"))).alias("den"),
    ).collect()
    scored = 0
    for r in out:
        den = r["den"]
        if (
            r["ref"] is not None
            and den is not None
            and np.isfinite(den)
            and den != 0.0
        ):
            assert r["got"] is not None and _bits(r["got"]) == _bits(r["ref"]), r
            scored += 1
        else:
            assert r["got"] is None, r
    assert scored > 300  # the well-formed share is really exercised


def test_kernel_reads_float_arrays_exactly(spark):
    """array<float> input is widened element by element, as the
    reference fold's casts do."""
    df = spark.createDataFrame(
        [([0.1, 0.7, -0.3], [0.2, 0.5, 0.9])],
        "a array<float>, b array<float>",
    )
    r = df.select(
        cosine_expr(F.col("a"), F.col("b")).alias("ref"),
        cosine_col(F.col("a"), F.col("b")).alias("got"),
    ).first()
    assert _bits(r["got"]) == _bits(r["ref"])


_LISTS = [
    [9.0, 9.0, 9.0],          # ragged (sliced away below)
    [1.0, 2.0],
    None,                     # NULL list
    [3.0, None],              # NULL element
    [4.0],                    # ragged
    [],                       # empty
    [5.0, 6.0],
]


def _reader_cases():
    arr = pa.array(_LISTS, pa.list_(pa.float64()))
    sliced = arr.slice(1)
    assert sliced.offset == 1
    chunked = pa.chunked_array([arr.slice(1, 3), arr.slice(4)])
    return sliced, chunked


def test_vector_reader_honours_slices_and_chunks():
    """The reader gathers length-``dim`` rows by their position in the
    (sliced or chunked) array, leaves NULL, ragged and empty lists out
    and reads a NULL element as NaN."""
    want_rows = [0, 2, 5]
    want = np.array([[1.0, 2.0], [3.0, np.nan], [5.0, 6.0]])
    for arr in _reader_cases():
        rows, X = _vectors(arr, 2)
        assert rows.tolist() == want_rows
        assert X.dtype == np.float64
        np.testing.assert_array_equal(X, want)
        rows, X = _vectors(arr, 1)
        assert rows.tolist() == [3] and X.tolist() == [[4.0]]


def test_vector_reader_all_malformed_batch():
    """A batch with no row of the asked length reads as an empty
    ``(0, dim)`` matrix, also when every list is NULL or empty."""
    for arr in (
        *_reader_cases(),
        pa.array([None, None], pa.list_(pa.float64())),
        pa.array([[], []], pa.list_(pa.float64())),
        pa.chunked_array([], pa.list_(pa.float64())),
    ):
        rows, X = _vectors(arr, 4)
        assert rows.size == 0 and X.shape == (0, 4)


def _planted(rng, t: float, n_pairs: int, d: int):
    """Pairs whose exact cosine is ``t``: (Qe₀, Q(t·e₀ + √(1−t²)·e₁))
    for a random rotation Q per pair, scaled at random — so their fold
    cosines land within a few ulps of ``t`` on both sides."""
    s = np.sqrt(1.0 - t * t)
    out = []
    for _ in range(n_pairs):
        Q, _ = np.linalg.qr(rng.standard_normal((d, d)))
        scale = 10.0 ** rng.uniform(-3, 3, size=2)
        out.append(Q[:, 0] * scale[0])
        out.append((t * Q[:, 0] + s * Q[:, 1]) * scale[1])
    return np.array(out)


def test_filter_refine_equals_full_fold(monkeypatch):
    """Vectors planted within a few ulps of t: the BLAS filter plus
    fold refine returns exactly the full fold's pair set and values,
    also when the rows span many filter blocks."""
    from petk_spark.operators import dedup

    rng = np.random.default_rng(7)
    t = 0.9
    X = np.vstack([_planted(rng, t, 120, 32), rng.standard_normal((40, 32))])
    # a tiny-norm row is refined against every row, never filtered
    X[-1] = X[0] / np.linalg.norm(X[0]) * 1e-155
    ids = np.arange(len(X), dtype=np.int64)
    I, J = np.triu_indices(len(X), k=1)
    full = _fold_cosine(X[I], X[J])
    want = {(int(i), int(j)): _bits(c) for i, j, c in zip(I, J, full) if c >= t}
    near = np.abs(full - t) <= 4 * np.spacing(t)
    assert (near & (full >= t)).any() and (near & (full < t)).any()
    for block in (dedup._MATMUL_BLOCK, 7):
        monkeypatch.setattr(dedup, "_MATMUL_BLOCK", block)
        i, j, c = _cosine_pairs(ids, X, ids, X, t)
        got = {(int(a), int(b)): _bits(v) for a, b, v in zip(i, j, c)}
        assert got == want


_NONFINITE_ROWS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.99, 0.01, 0.0, 0.0]),
    (3, [INF, 0.0, 0.0, 0.0]),
    (4, [INF, 0.0, 0.0, 0.0]),
    (5, [NAN, 1.0, 0.0, 0.0]),
]


def _pairs(df, **kw):
    return sorted(
        (r["id_a"], r["id_b"], _bits(r["cosine"]))
        for r in embedding_near_dup(
            df, "vec_id", "embedding", threshold=0.95, **kw
        ).collect()
    )


def test_near_dup_tiers_agree_on_non_finite_vectors(spark):
    """±Inf and NaN vectors pair with nothing on the broadcast block
    tier and on the LSH tier alike: their cosine is NULL, which never
    clears the threshold (Spark orders a NaN cosine above it)."""
    df = spark.createDataFrame(
        _NONFINITE_ROWS, "vec_id long, embedding array<double>"
    )
    block = _pairs(df)
    lsh = _pairs(df, max_broadcast_rows=2)
    assert [p[:2] for p in block] == [(1, 2)]
    assert lsh == block


def test_cosine_topk_ranks_inf_neighbour_last(spark):
    """An Inf neighbour's cosine is NULL and ranks after every scored
    neighbour, not first."""
    df = spark.createDataFrame(
        _NONFINITE_ROWS, "vec_id long, embedding array<double>"
    )
    got = [
        (r["neighbor_id"], r["cosine"])
        for r in cosine_topk(df, df.filter("vec_id = 1"), k=4)
        .orderBy("rank")
        .collect()
    ]
    assert got[0][0] == 2 and got[0][1] is not None
    assert all(c is None for _, c in got[1:])

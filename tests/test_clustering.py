"""F49 full-corpus Lloyd k-means (operators/clustering.py) — the
round-9 verdict's legitimization suite: deterministic-init
replayability, fixed-iteration determinism, empty-cluster hold,
malformed-vector exclusion, kmeans_assign ≡ ivf_assign, the
posexplode update plan staying O(1) in dim, and the Python-round ≡
DuckDB-round_even seam the km_* oracle families depend on."""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from petk_spark.operators import clustering
from petk_spark.operators.clustering import (
    _centroid_stats,
    _modal_dim,
    deterministic_init,
    kmeans_assign,
    kmeans_fit,
)
from petk_spark.operators.similarity import ivf_assign

SCHEMA = "vec_id long, embedding array<float>"


def _vecs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _fixture(spark):
    """12 well-formed dim-4 vectors in two tight groups around
    (1,0,0,0) and (0,1,0,0), plus malformed rows: NULL, ragged,
    all-zero, NaN component."""
    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0]))
    for i in range(6, 12):
        rows.append((i, [0.01 * (i - 6), 1.0, 0.0, 0.0]))
    rows += [
        (100, None),
        (101, [1.0, 2.0]),                       # ragged
        (102, [0.0, 0.0, 0.0, 0.0]),             # zero-norm
        (103, [float("nan"), 1.0, 0.0, 0.0]),    # NaN
    ]
    return _vecs(spark, rows)


def test_deterministic_init_is_md5_order(spark):
    df = _fixture(spark)
    init = deterministic_init(df, 3, "vec_id", "embedding", dim=4)
    # expected: first 3 WELL-FORMED ids in (md5(str(id)), id) order,
    # recomputed independently here
    ids = list(range(12))  # the well-formed rows
    ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    want = ids[:3]
    got_ids = []
    vec_by_id = {i: [1.0, 0.01 * i, 0.0, 0.0] if i < 6
                 else [0.01 * (i - 6), 1.0, 0.0, 0.0] for i in range(12)}
    for v in init:
        matches = [i for i in range(12)
                   if all(abs(a - b) < 1e-6 for a, b in zip(v, vec_by_id[i]))]
        assert len(matches) == 1
        got_ids.append(matches[0])
    assert got_ids == want


def test_fit_deterministic_across_runs(spark):
    df = _fixture(spark).repartition(5)
    c1, i1 = kmeans_fit(df, 2, "vec_id", "embedding", iterations=3)
    c2, i2 = kmeans_fit(df, 2, "vec_id", "embedding", iterations=3)
    assert c1 == c2  # bit-equality, not approx — the rounding contract
    assert i1 == i2


def test_fit_matches_numpy_reference(spark):
    """Two Lloyd iterations from explicit init, cross-checked against
    an independent numpy implementation of the same contract (cosine
    argmax tie→lower id, mean update, round 6)."""
    df = _fixture(spark)
    init = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    cents, info = kmeans_fit(
        df, 2, "vec_id", "embedding", iterations=2, init=init
    )
    X = np.array(
        [[1.0, 0.01 * i, 0.0, 0.0] for i in range(6)]
        + [[0.01 * (i - 6), 1.0, 0.0, 0.0] for i in range(6, 12)]
    )
    C = np.array(init, dtype=np.float64)
    for _ in range(2):
        sim = (X @ C.T) / (
            np.linalg.norm(X, axis=1, keepdims=True)
            * np.linalg.norm(C, axis=1)
        )
        asg = sim.argmax(axis=1)  # argmax ties → lower index, like Spark
        C = np.array([
            np.round(X[asg == j].mean(axis=0), 6) if (asg == j).any()
            else C[j]
            for j in range(2)
        ])
    assert np.allclose(np.array(cents), C, atol=1e-9)
    assert info["sizes"] == [6, 6]
    assert info["n_assigned"] == 12


def test_empty_cluster_keeps_previous_centroid(spark):
    df = _fixture(spark)
    # third centroid is far from everything (negative orthant) and
    # captures no rows: it must survive both iterations unchanged
    init = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [-1.0, -1.0, -1.0, -1.0],
    ]
    cents, info = kmeans_fit(
        df, 3, "vec_id", "embedding", iterations=2, init=init
    )
    assert cents[2] == [-1.0, -1.0, -1.0, -1.0]
    assert info["sizes"][2] == 0


def test_malformed_vectors_excluded(spark):
    df = _fixture(spark)
    init = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    cents, info = kmeans_fit(
        df, 2, "vec_id", "embedding", iterations=1, init=init
    )
    # only the 12 well-formed rows contribute
    assert info["n_assigned"] == 12
    for c in cents:
        assert all(math.isfinite(x) for x in c)
    out = {
        r["id"]: r["centroid_id"]
        for r in kmeans_assign(df, cents, "vec_id", "embedding").collect()
    }
    for bad in (100, 101, 102, 103):
        assert out[bad] is None
    for good in range(12):
        assert out[good] is not None


def test_assign_is_ivf_assign_contract(spark):
    df = _fixture(spark)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    a = sorted(
        kmeans_assign(df, cents, "vec_id", "embedding").collect(),
        key=lambda r: r["id"],
    )
    b = sorted(
        ivf_assign(df, cents, "vec_id", "embedding")
        .select("id", "centroid_id")
        .collect(),
        key=lambda r: r["id"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_init_validation():
    # driver-side validation — no spark needed
    with pytest.raises(ValueError, match="init has 2"):
        kmeans_fit(None, 3, init=[[1.0], [2.0]])
    with pytest.raises(ValueError, match="disagrees"):
        kmeans_fit(None, 1, init=[[1.0, 2.0]], dim=3)
    with pytest.raises(ValueError, match="k must be positive"):
        deterministic_init(None, 0, dim=4)


def test_modal_dim_deterministic_on_mixed_corpus(spark):
    # majority dim 3, minority dim 5 — modal must win regardless of
    # partition layout, and repeat runs must agree (ordered sample)
    rows = [(i, [1.0] * (3 if i % 4 else 5)) for i in range(200)]
    df = _vecs(spark, [(i, [float(x) for x in v]) for i, v in rows])
    dims = {_modal_dim(df.repartition(p), "vec_id", "embedding")
            for p in (1, 3, 7)}
    assert dims == {3}


def test_update_plan_constant_in_dim(spark):
    """The round-9 verdict's O(dim) plan-width fix: the update stage at
    dim=1024 must NOT expand per-dimension expressions (the old
    element_at+sum draft emitted ~2050 aggregate columns). posexplode
    keeps the aggregate at exactly 2 expressions and the plan string
    flat in dim."""
    big = _vecs(spark, [(0, [float(i) for i in range(1024)])])
    asg = ivf_assign(big, [[1.0] * 1024], "vec_id", "embedding")
    stats = _centroid_stats(asg)
    assert stats.columns == ["centroid_id", "pos", "s", "n"]
    plan = stats._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" not in plan
    # exactly ONE sum and ONE count aggregate regardless of dim (the
    # old draft emitted 1024 of each); the only dim-linear plan text is
    # the centroid literal itself, which is data, not expressions
    assert plan.count("sum(") == 1, plan.count("sum(")
    assert plan.count("count(") == 1
    # and the numbers still come out right
    rows = {(r["centroid_id"], r["pos"]): (r["s"], r["n"])
            for r in stats.collect()}
    assert rows[(0, 0)] == (0.0, 1)
    assert rows[(0, 1023)] == (1023.0, 1)
    assert len(rows) == 1024


def _near_scaled_tie(x: float, decimals: int = 6, slack_ulps: float = 4.0) -> bool:
    """True when x*10^decimals lies within a few ulps of a .5 tie.

    DuckDB's round_even computes the scaled value in DOUBLE, so when
    the exact product is within ~1 ulp of a half-integer the double
    multiply can land on the other side of the tie than Python's
    correctly-rounded decimal round() — in EITHER direction (observed
    both 54975.939945499995 → duck .946 / py .945 and 1.0000005 →
    duck 1.0 / py 1.000001). Parity only holds away from that
    measure-~1e-11 neighborhood; the km_* twin's deterministic means
    never land in it (pinned by the hash-green km_* oracle rows)."""
    from decimal import Decimal

    # the tie neighborhood is symmetric in sign; measure on |x| so a
    # negative tie (frac near -0.5 under truncation) is caught too
    scaled_exact = abs(Decimal(x)) * (Decimal(10) ** decimals)
    frac = scaled_exact - int(scaled_exact)
    dist = abs(float(frac) - 0.5)
    return dist <= slack_ulps * math.ulp(abs(x) * 10.0 ** decimals)


@settings(max_examples=300, deadline=None)
@given(
    st.floats(
        min_value=-1e6, max_value=1e6,
        allow_nan=False, allow_infinity=False,
    )
)
def test_round_parity(x):
    """Python round(x, 6) ≡ DuckDB round_even(x, 6) away from scaled
    half-ulp ties — the determinism seam the km_* twin depends on
    (plain DuckDB ROUND is half-away-from-zero and diverges on dyadic
    ties; round_even itself diverges only inside the tie-ulp
    neighborhood excluded by _near_scaled_tie, see its docstring)."""
    import duckdb
    from hypothesis import assume

    assume(not _near_scaled_tie(x))
    got = duckdb.sql(
        "SELECT round_even(?::DOUBLE, 6)", params=[x]
    ).fetchone()[0]
    want = round(x, 6)
    assert got == want or (math.isnan(got) and math.isnan(want)), (x, got, want)


def test_round_parity_divergence_is_tie_bounded():
    """The known counterexamples to universal parity all sit inside the
    scaled tie-ulp neighborhood, and even there the two roundings agree
    to within one unit in the 6th decimal — so a divergence can only
    occur on exact-tie-adjacent data, never as a gross rounding bug."""
    import duckdb

    con = duckdb.connect()
    for x in (54975.939945499995, 1.0000005, 2.0000005, 123456.1234565,
              -439804.96685850003):
        assert _near_scaled_tie(x), x
        got = con.sql(f"SELECT round_even({x!r}::DOUBLE, 6)").fetchone()[0]
        assert abs(got - round(x, 6)) <= 1e-6 + 1e-12, (x, got, round(x, 6))


def test_round_parity_dyadic_ties():
    import duckdb

    con = duckdb.connect()
    for x in (0.0078125, -0.0078125, 0.0234375, 2 ** -10, 3 + 2 ** -7):
        got = con.sql(f"SELECT round_even({x!r}::DOUBLE, 6)").fetchone()[0]
        assert got == round(x, 6), x


def test_fit_arrow_path_beyond_literal_cap(spark):
    """k > 64 routes assignment through the broadcast-numpy Arrow
    kernel (plan O(1) in k); the posexplode update must compose with
    that path identically. numpy cross-check on one iteration."""
    rng = np.random.default_rng(11)
    X = rng.normal(size=(120, 4))
    df = _vecs(
        spark,
        [(i, [float(x) for x in X[i]]) for i in range(120)],
    )
    init = [[float(x) for x in X[i]] for i in range(70)]
    cents, info = kmeans_fit(
        df, 70, "vec_id", "embedding", iterations=1, init=init
    )
    C = np.array(init)
    sim = (X @ C.T) / (
        np.linalg.norm(X, axis=1, keepdims=True) * np.linalg.norm(C, axis=1)
    )
    asg = sim.argmax(axis=1)
    want = np.array([
        np.round(X[asg == j].mean(axis=0), 6) if (asg == j).any() else C[j]
        for j in range(70)
    ])
    assert np.allclose(np.array(cents), want, atol=1e-9)
    assert info["n_assigned"] == 120

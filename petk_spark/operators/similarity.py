"""Similarity search over embedding columns (SURVEY §2.F3).

Exact brute-force cosine top-k as the correctness baseline, plus two
scale paths: random-hyperplane LSH bucketing and IVF (inverted file)
with sampled k-means centroids.

Scale design: brute-force is a broadcast join (queries are small by
assumption) — the corpus side streams, never shuffles, and the top-k is
a per-query partial aggregate (no global sort). The LSH/IVF variants cut
the candidate set per query from N to N/buckets before scoring. At
100 TB the corpus stays partitioned; only (query × bucket) candidates
are scored.
"""

from __future__ import annotations

# Module scope: the arrow_udf type-hint resolver evaluates annotations
# in the function's global namespace (see _cosine_udf, _rank_udf,
# _cell_score_col).
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


# ---------------------------------------------------------------------------
# The one exact cosine kernel
# ---------------------------------------------------------------------------

def _lfold(terms):
    """Sum ``terms`` in order starting at 0.0 — the reference left fold
    (Spark's ``aggregate`` over ``zip_with``, DuckDB's ``list_reduce``)
    replayed elementwise, so every intermediate and the result equal
    the fold's bit for bit."""
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def _fold_cosine(X, Y):
    """Row-wise cosine of row-aligned ``(n, d)`` float64 arrays in the
    reference left-fold arithmetic (:func:`_lfold` for the dot and each
    Σv², one sqrt per side, dot / (‖a‖·‖b‖)). NaN (NULL to Spark) where
    that denominator is 0 or not finite: a zero-norm, NaN or ±Inf side
    (:func:`_well_formed`'s contract) or an under/overflowing product."""
    with np.errstate(all="ignore"):  # ill-formed rows are gated below
        dot = _lfold(x * y for x, y in zip(X.T, Y.T))
        na = np.sqrt(_lfold(x * x for x in X.T))
        denom = na * np.sqrt(_lfold(y * y for y in Y.T))
        return np.where(np.isfinite(denom) & (denom != 0), dot / denom, np.nan)


def _lengths(arr) -> np.ndarray:
    """Per-row list length of ``arr``, -1 for a NULL list."""
    return pc.list_value_length(arr).fill_null(-1).to_numpy(zero_copy_only=False)


def _vectors(arr, dim: int):
    """``(rows, X)``: the positions of the length-``dim`` rows of a
    ``list<double>`` Array or ChunkedArray and their values as one
    ``(len(rows), dim)`` float64 matrix, gathered straight from the
    offset and value buffers — the one reader every embedding kernel
    turns a vector column into a matrix with. Offsets are absolute into
    the values buffer, so slices read right; NULL lists and rows of
    another length are left out, and a NULL element reads as NaN."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    rows = np.flatnonzero(_lengths(arr) == dim)
    start = np.asarray(arr.offsets)[rows][:, None]
    return rows, arr.values.to_numpy(zero_copy_only=False)[start + np.arange(dim)]


@F.arrow_udf(DoubleType())
def _cosine_udf(a: pa.Array, b: pa.Array) -> pa.Array:
    """:func:`_fold_cosine` over two ``list<double>`` arrays, one
    :func:`_vectors` matrix per side and row length; NULL for NULL,
    ragged or empty rows and wherever the kernel is NaN."""
    la = _lengths(a)
    out = np.full(len(a), np.nan)
    for width in np.unique(la[la > 0]):
        ra, XA = _vectors(a, width)
        rb, XB = _vectors(b, width)
        # both row lists ascend, so the shared rows line up
        ka, kb = np.isin(ra, rb), np.isin(rb, ra)
        out[ra[ka]] = _fold_cosine(XA[ka], XB[kb])
    return pa.array(out, mask=np.isnan(out))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two numeric-array columns: the one exact
    kernel every pair-scoring path runs (:func:`_cosine_udf`, inputs
    cast to ``array<double>``, exact for float input). NULL for a NULL
    array or element, ragged or empty input, and a side whose Σv² is 0
    or not finite — a NULL cosine never clears a threshold and ranks
    last in a descending order."""
    return _cosine_udf(a.cast("array<double>"), b.cast("array<double>"))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ``(query_id, neighbor_id, cosine)`` rows per query
    with their ``rank``: a window per query ordered by (cosine desc,
    neighbor_id asc) — the id tiebreak makes the result deterministic
    and oracle-hashable — shared by every top-k search."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, neighbor_id, cosine, rank). The query side is
    broadcast; ranking is :func:`_top_k`.
    """
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", cosine_col(F.col("qv"), F.col("cv"))
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    return _top_k(scored, k)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH bucketing (scale path)
# ---------------------------------------------------------------------------

def embedding_profile(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension embedding QA profile: ``(dim, n, mean, std, vmin,
    vmax)``, dim 1-based. Collapsed dimensions (std ≈ 0), dead
    dimensions (mean = min = max = 0), and scale outliers fall straight
    out of this table — the standard health check before trusting
    cosine distances.

    Scale: ``posexplode`` fans each row into D value rows, then ONE hash
    aggregation on the dimension index — D groups (64…4096), perfectly
    balanced by construction, map-side partials absorb the fan-out.
    Values cast to double BEFORE aggregation so both engines sum the
    same operands (the profile, like DuckDB, widens float32 inputs)."""
    v = F.explode(
        F.arrays_zip(
            F.sequence(F.lit(1), F.size(F.col(vec_col))).alias("dim"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    long = df.select(v.alias("e")).select("e.dim", "e.v")
    return long.groupBy("dim").agg(
        F.count("v").alias("n"),
        F.avg("v").alias("mean"),
        F.stddev_samp("v").alias("std"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )


def _sql_double(v: float) -> str:
    """SQL text for an exact double literal: ``repr`` round-trips the
    value and Spark's string→double cast is correctly rounded, so the
    parsed (and constant-folded) literal is bit-identical to
    ``F.lit(float(v))`` — at one py4j call for a whole array instead of
    one per element."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"CAST('{v!r}' AS DOUBLE)"


def hyperplane_signature(vec: str, planes: list[list[float]]) -> Column:
    """Sign-bit signature of the array column named ``vec`` against
    fixed hyperplanes → BIGINT bucket id. Planes are literals folded
    into the plan (deterministic, no model state).

    The whole signature is ONE parsed SQL expression — a per-element
    ``F.lit`` build cost n_planes × dim py4j round trips (~0.7 s per
    call at 6×64, measured r16: most of cosine_topk_lsh's wall was plan
    construction). The parsed text constant-folds to the same literals
    (repr round-trip + correctly-rounded string→double cast) and
    fold/compare expressions, so bucket ids are bit-identical to the
    Column-built form — pinned by test_lsh_signature_text_equals_column."""
    vec_sql = f"`{vec}`"
    sig = "CAST(0 AS BIGINT)"
    for i, plane in enumerate(planes):
        arr = "array(" + ", ".join(_sql_double(x) for x in plane) + ")"
        dot = (
            f"aggregate(zip_with({vec_sql}, {arr},"
            f" (a, b) -> CAST(a AS DOUBLE) * b),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        sig = (
            f"({sig} + (CASE WHEN {dot} >= 0"
            f" THEN CAST({1 << i} AS BIGINT) ELSE 0 END))"
        )
    return F.expr(sig)


def deterministic_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Pseudo-random unit-ish hyperplanes from a fixed LCG (no numpy RNG
    state; reproducible across sessions for stable bucketing)."""
    state = seed & 0x7FFFFFFF or 1
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    n_planes: int = 8,
    n_probes: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only candidates whose hyperplane bucket
    matches the query's (multi-probe = flip each of the lowest
    ``n_probes-1`` bits). ~N/2^planes of the corpus scored per query."""
    planes = deterministic_planes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        hyperplane_signature(vec_col, planes).alias("bucket"),
    )
    qsig = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        hyperplane_signature(vec_col, planes).alias("b0"),
    )
    probes = [F.col("b0")] + [
        F.col("b0").bitwiseXOR(F.lit(1 << i)) for i in range(max(n_probes - 1, 0))
    ]
    q = qsig.select(
        "query_id", "qv", F.explode(F.array(*probes)).alias("bucket")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_col(F.col("qv"), F.col("cv")))
    )
    return _top_k(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) bucketing (scale path #2)
# ---------------------------------------------------------------------------

#: Centroid count up to which centroid ranking runs the fold tier
#: (:func:`_fold_rank`): the cosine kernel's float64 left folds
#: (:func:`_fold_cosine`) replayed bit for bit, so assignment and
#: probing agree with the DuckDB oracle's replay at k·d numpy passes
#: per batch. Beyond it the matmul tier (:func:`_matmul_rank`) keeps
#: per-batch CPU to one BLAS product at 512–4096 centroids. Plan size
#: is O(1) in the centroid count on both tiers: the centroids travel
#: as one broadcast, not as literals.
_IVF_FOLD_MAX = 64

#: (SparkContext id, centroid digest) → Broadcast of the centroid
#: payload (raw matrix, left-folded norms, normalized matrix) that
#: both ranking tiers and the health cell score read. A long-lived
#: driver issuing many query batches over the same index would
#: otherwise leak one broadcast per call (round-7 advisory); the cache
#: reuses one broadcast per distinct centroid list and unpersists
#: evicted entries (unpersist, not destroy — a still-referenced lazy
#: plan re-fetches on demand). Eviction is FIFO (insertion order), NOT
#: LRU: a hit does not refresh position. With one centroid list per
#: index and max=8 the distinction is moot, and FIFO is what the
#: eviction test pins (round-7 verdict #7: docs now match the code).
_CENTROID_BC_CACHE: dict = {}
_CENTROID_BC_CACHE_MAX = 8


def _centroid_broadcast(spark, centroids: list[list[float]]):
    import hashlib
    import json

    sc = spark.sparkContext
    digest = hashlib.md5(
        json.dumps(centroids).encode("utf-8")
    ).hexdigest()
    key = (id(sc), digest)
    bc = _CENTROID_BC_CACHE.get(key)
    if bc is None:
        C = np.asarray(centroids, dtype=np.float64)
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = 1.0
        bc = sc.broadcast(
            (C, np.sqrt(_lfold(c * c for c in C.T)), C / cn[:, None])
        )
        while len(_CENTROID_BC_CACHE) >= _CENTROID_BC_CACHE_MAX:
            oldest = next(iter(_CENTROID_BC_CACHE))
            old = _CENTROID_BC_CACHE.pop(oldest)
            try:
                old.unpersist()
            except Exception:
                pass  # stopped context — nothing to release
        _CENTROID_BC_CACHE[key] = bc
    return bc


def _fold_rank(X, payload, n_best: int):
    """Fold tier: ``(ok, order)`` — per row of ``X`` the top-``n_best``
    centroid ids under the cosine kernel's exact arithmetic (dot and
    Σv² as left folds in element order, as in :func:`_fold_cosine`;
    NULL score on a zero denominator), ranked in Spark's descending
    struct order over ``(score, -id)``: a NaN score first, numbers high to low, a NULL
    score last, exact ties to the LOWER id. ``ok`` is the
    ``_well_formed`` gate from the same Σv² fold (> 0 and finite; a
    NULL element arrives as NaN and poisons it)."""
    C, nbs, _ = payload
    with np.errstate(all="ignore"):  # ill-formed rows are gated below
        sumsq = _lfold(x * x for x in X.T)
        dot = _lfold(x[:, None] * c for x, c in zip(X.T, C.T))
        denom = np.sqrt(sumsq)[:, None] * nbs
        score = dot / denom
    lev = np.where(denom == 0.0, 0, np.where(np.isnan(score), 2, 1))
    # lexsort keys run last-first and the sort is stable, so equal
    # (level, score) pairs keep ascending id order
    order = np.lexsort((-np.where(lev == 1, score, 0.0), -lev))
    return (sumsq > 0) & np.isfinite(sumsq), order[:, :n_best]


def _matmul_rank(X, payload, n_best: int):
    """Matmul tier: ``(ok, order)`` from one BLAS product of the
    row-normalized vectors against the normalized centroid matrix
    (cosine argmax for well-formed rows; a zero-norm centroid scores
    0), stable argsort so ties go to the LOWER id. ``ok`` mirrors
    ``_well_formed`` on the vector norm: positive and finite."""
    xn = np.linalg.norm(X, axis=1)
    with np.errstate(all="ignore"):  # ill-formed rows are gated below
        S = (X / xn[:, None]) @ payload[2].T
    ok = (xn > 0) & np.isfinite(xn)
    return ok, np.argsort(-S, axis=1, kind="stable")[:, :n_best]


def _rank_udf(spark, centroids: list[list[float]], n_best: int, rank):
    """Arrow-batched ``array<int>`` UDF: each vector's top-``n_best``
    centroid ids from ``rank`` (:func:`_fold_rank` or
    :func:`_matmul_rank`) over the :func:`_vectors` matrix, built as
    one list array from the order matrix and a validity mask; NULL for
    a NULL, ragged or ill-formed vector. Map-side, no shuffle; the
    payload ships once per distinct centroid list through
    :func:`_centroid_broadcast`.

    Deliberately NOT a broadcast join + min_by: that shape multiplies
    every row by n_centroids through the join and drags the fan-out
    into an aggregation — a ×K volume amplification the map-side
    kernel never pays."""
    bc = _centroid_broadcast(spark, centroids)
    dim = len(centroids[0])

    @F.arrow_udf("array<int>")
    def ranked(vs: pa.Array) -> pa.Array:
        rows, X = _vectors(vs, dim)
        ok, order = rank(X, bc.value, n_best)
        keep = rows[ok]
        valid = np.zeros(len(vs), dtype=bool)
        valid[keep] = True
        width = order.shape[1]
        ids = np.zeros((len(vs), width), dtype=np.int32)
        ids[keep] = order[ok]
        return pa.ListArray.from_arrays(
            pa.array(np.arange(len(vs) + 1, dtype=np.int32) * width),
            pa.array(ids.ravel()),
            mask=pa.array(~valid),
        )

    return ranked


def _ranked_centroids(
    spark, vec: Column, centroids: list[list[float]], n: int
) -> Column:
    """``array<int>``: the ``n`` nearest centroid ids of ``vec`` in
    rank order, NULL for a malformed vector — the one nearest-centroid
    kernel behind :func:`ivf_assign` and :func:`_probe_frame`. The tier
    is chosen by centroid count (``_IVF_FOLD_MAX``); both share one
    contract: malformed vectors (NULL, wrong dimension, zero-norm, NaN,
    ±Inf) rank NULL and exact ties go to the LOWER centroid id."""
    rank = _fold_rank if len(centroids) <= _IVF_FOLD_MAX else _matmul_rank
    return _rank_udf(spark, centroids, n, rank)(vec.cast("array<double>"))


def _well_formed(vec: Column, dim: int) -> Column:
    """True iff ``vec`` can be assigned a centroid: non-NULL, the
    index's dimension, positive FINITE norm. The NaN check is explicit
    because Spark orders NaN ABOVE every number, so ``sumsq > 0``
    alone would admit NaN vectors the ranking kernels reject; the
    ``< inf`` check closes the same seam for ±Inf components (round-7
    verdict #4: squares of ±Inf give sumsq = +Inf, which is > 0 and
    not NaN, so an Inf vector used to slip through to a
    garbage-score path whose two physical strategies could bucket it
    differently)."""
    sumsq = F.aggregate(
        vec.cast("array<double>"),
        F.lit(0.0),
        lambda acc, v: acc + v * v,
    )
    return (
        vec.isNotNull()
        & (F.size(vec) == F.lit(dim))
        & (sumsq > 0)
        & ~F.isnan(sumsq)
        & (sumsq < F.lit(float("inf")))
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine): the
    top-1 of :func:`_ranked_centroids`, one map-only Arrow projection
    with no shuffle. Up to ``_IVF_FOLD_MAX`` centroids the fold tier
    scores in the cosine kernel's left-fold arithmetic bit for bit
    (the DuckDB oracle's left-fold argmax cannot diverge); beyond it the matmul tier runs one BLAS
    product per batch. Plan size is O(1) in the centroid count.

    ONE contract on both tiers (round-7 advisory): malformed vectors —
    NULL, wrong dimension, zero-norm, NaN, ±Inf — get a NULL
    ``centroid_id`` (they land in the index's default partition and are
    never probed), and exact score ties break toward the LOWER centroid
    id. Same inputs, same buckets, either tier."""
    if not centroids:
        # all-NULL/empty corpus sample — every row is unassignable
        return df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.lit(None).cast("int").alias("centroid_id"),
        ).filter(F.lit(False))
    top1 = _ranked_centroids(df.sparkSession, F.col(vec_col), centroids, 1)
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        top1[0].alias("centroid_id"),
    )


def _assigned_rows(
    df: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """:func:`ivf_assign` without its unassignable (NULL-cell) rows: the
    one-probe :func:`_probe_frame`, whose ``explode`` drops them inside
    the kernel's projection. A ``centroid_id IS NOT NULL`` filter over
    :func:`ivf_assign` instead is pushed below that projection, which
    then plans the ranking kernel twice."""
    if not centroids:
        return ivf_assign(df, centroids, id_col, vec_col)
    return _probe_frame(df, centroids, 1, id_col, vec_col).toDF(
        "id", "vec", "centroid_id"
    )


def sample_centroids(
    df: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 2,
) -> list[list[float]]:
    """K-means on a driver-side sample (numpy): sample ≤ 10k vectors,
    Lloyd iterations, return centroid list. The sample collect is the
    only driver materialization and is capped.

    NULL embeddings and vectors whose length disagrees with the
    corpus dimension are excluded from the sample instead of crashing
    the numpy stack — one malformed row in 100 TB must not kill
    centroid training (same hardening as the embedding_near_dup
    broadcast path, caught by the perturbed-embeddings fixture). The
    corpus dimension is the MODAL vector length across the sample,
    not the first row's — if the lowest-id row happens to be the
    ragged one, anchoring on it would discard every well-formed
    vector and train at the wrong dimension (round-6 advisory). Rows
    of that length whose Σv² is not positive and finite (a NULL
    element, NaN, ±Inf, all zeros) are dropped too, as
    :func:`_well_formed` drops them everywhere else — one such row
    would otherwise make its centroid NaN."""
    from collections import Counter

    sample = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).cast("array<double>"))
        .orderBy(F.col(id_col))
        .limit(10_000)
        .toArrow()
        .column(0)
    )
    if not len(sample):
        return []
    dim = Counter(_lengths(sample).tolist()).most_common(1)[0][0]
    X = _vectors(sample, dim)[1]
    with np.errstate(all="ignore"):  # ill-formed rows are dropped here
        sumsq = _lfold(x * x for x in X.T)
    X = X[np.isfinite(sumsq) & (sumsq > 0)]
    if not len(X):
        return []
    rng = np.random.default_rng(42)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iterations):
        norms = np.linalg.norm(X, axis=1, keepdims=True) * np.linalg.norm(
            cent, axis=1
        )
        sim = (X @ cent.T) / np.where(norms == 0, 1, norms)
        assign = sim.argmax(axis=1)
        for ci in range(len(cent)):
            members = X[assign == ci]
            if len(members):
                cent[ci] = members.mean(axis=0)
    return [list(map(float, c)) for c in cent]


def _probe_frame(
    queries: DataFrame,
    centroids: list[list[float]],
    n_probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qv, centroid_id) — each query exploded to its
    ``n_probes`` nearest centroids in rank order, by the same
    :func:`_ranked_centroids` kernel, tiers and contract as
    :func:`ivf_assign`. A malformed query vector ranks NULL and
    explodes to zero probe rows."""
    ranked = _ranked_centroids(
        queries.sparkSession, F.col(vec_col), centroids, n_probes
    )
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(ranked).alias("centroid_id"),
    )


def _score_buckets(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Score (neighbor_id, cv, centroid_id) corpus buckets against the
    broadcast probe frame and rank top-k per query."""
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_col(F.col("qv"), F.col("cv")))
    )
    return _top_k(scored, k)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probes: int = 2,
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed by nearest centroid; each
    query scores only its ``n_probes`` nearest centroid buckets. For
    repeated query batches over a stable corpus, build the index ONCE
    with :func:`build_ivf_index` and use :func:`query_ivf_index`
    instead — this single-shot form re-trains and re-assigns per
    call."""
    centroids = sample_centroids(corpus, n_centroids, vec_col, id_col)
    if not centroids:
        return corpus.sparkSession.createDataFrame(
            [],
            f"query_id {queries.schema[id_col].dataType.simpleString()}, "
            f"neighbor_id {corpus.schema[id_col].dataType.simpleString()}, "
            "cosine double, rank int",
        )
    c = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("cv"), "centroid_id"
    )
    q = _probe_frame(queries, centroids, n_probes, id_col, vec_col)
    return _score_buckets(c, q, k)


# ---------------------------------------------------------------------------
# Persistent IVF index (build once, query many times)
# ---------------------------------------------------------------------------

def _cell_score_col(spark, centroids: list[list[float]], vec: Column, cid: Column) -> Column:
    """Cosine of each row's vector against ITS ASSIGNED centroid — the
    per-row assignment-quality signal :func:`ivf_index_health` profiles.
    The :func:`_vectors` matrix against a gather of the cached centroid
    payload, scored by :func:`_fold_cosine` at any centroid count
    (map-only, no shuffle, plan size O(1)). NULL for a NULL or ragged
    vector, a NULL centroid id and, by the kernel's contract, for
    members of a zero-norm centroid."""
    bc = _centroid_broadcast(spark, centroids)
    dim = len(centroids[0])

    @F.arrow_udf("double")
    def cell_score(vs: pa.Array, cids: pa.Array) -> pa.Array:
        rows, X = _vectors(vs, dim)
        cid = cids.to_numpy(zero_copy_only=False)[rows]  # NULL reads NaN
        has = ~np.isnan(cid)
        out = np.full(len(vs), np.nan)
        out[rows[has]] = _fold_cosine(X[has], bc.value[0][cid[has].astype(np.int64)])
        return pa.array(out, mask=np.isnan(out))

    return cell_score(vec.cast("array<double>"), cid)


def _cell_stats(spark, index: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(centroid_id, n, mean_score) over an assigned-index frame."""
    score = _cell_score_col(
        spark, centroids, F.col("cv"), F.col("centroid_id")
    )
    return (
        index.filter(F.col("centroid_id").isNotNull())
        .select("centroid_id", score.alias("score"))
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("score").alias("mean_score"),
        )
    )


def write_ivf_health_base(spark, path: str) -> None:
    """Snapshot the freshly-built index's per-cell assignment profile
    to ``path/_ivf_health_base`` — the reference point
    :func:`ivf_index_health` compares drifted states against.
    Underscore prefix keeps it out of parquet partition discovery,
    same convention as the centroid sidecar."""
    centroids = load_ivf_centroids(spark, path)
    index = spark.read.parquet(path).drop("ingest")
    _cell_stats(spark, index, centroids).write.mode("overwrite").parquet(
        f"{path}/_ivf_health_base"
    )


def ivf_index_health(
    spark,
    path: str,
    score_drop_threshold: float = 0.05,
    share_growth_threshold: float = 2.0,
    min_flag_share: float | None = None,
) -> DataFrame:
    """Per-cell drift diagnosis of a stored IVF index — the measured
    rebuild trigger :func:`append_to_ivf_index` points at (round-6
    verdict #3: centroids trained on the base corpus silently decay as
    appended data drifts; this makes the rebuild cadence data-driven
    instead of folklore).

    One scan of the index (map-only scoring + one n_centroids-row
    aggregate) compared against the build-time snapshot: per cell,

    * ``n_base`` / ``n_now``, ``share_base`` / ``share_now`` — cell
      occupancy then and now (shares, not raw counts: a uniform 2×
      append grows every cell alike and flags nothing);
    * ``mean_score_base`` / ``mean_score_now`` and ``score_drop`` —
      mean cosine of members to their own centroid; appended vectors
      that no longer resemble any centroid pull this down;
    * ``needs_rebuild`` — true when the cell's mean assignment score
      dropped more than ``score_drop_threshold`` or its corpus share
      outgrew ``share_growth_threshold`` × its base share (an
      absorbing cell = a centroid the drifted data piles onto). The
      share condition additionally requires ``share_now ≥
      min_flag_share``: without the floor, a cell EMPTY at build time
      (share_base = 0) would flag the moment a single appended vector
      landed in it — one stray row recommending a full rebuild
      (round-7 advisory). The floor SCALES with the index (round-8
      advisory): cell shares go as ~1/n_centroids, so a fixed 1%
      would silently disable the share rule for every typical cell
      once n_centroids ≥ ~100 — the default (``min_flag_share=None``)
      is ``min(0.01, 0.5 / n_centroids)``, i.e. half the uniform
      share, which still suppresses stray single rows (a lone vector
      reaches half-uniform only in a toy corpus) while keeping
      genuine absorbing-cell drift flaggable at any index size. Pass
      an explicit float to pin an absolute floor.

    Rebuild guidance: run :func:`retrain_ivf_index` when ANY cell
    flags (round 12 — it retrains on the index's own full corpus with
    the distributed Lloyd update, reassigns, and re-snapshots this
    health base, all under one crash-safe swap), or re-run
    :func:`build_ivf_index` with an EXTERNAL full corpus when the
    index should also pick up rows it never ingested. The cheaper
    aggregate rule ``avg(score_drop) > score_drop_threshold/2``
    catches drift spread thinly across cells. Recall@k against a
    held-out probe set stays the gold check (`tests` pin recall
    floors); this frame is the always-on proxy that needs no probe
    set."""
    from petk_spark.sources import swap

    swap.recover_for_read(spark, path)
    centroids = load_ivf_centroids(spark, path)
    if min_flag_share is None:
        min_flag_share = min(0.01, 0.5 / max(len(centroids), 1))
    index = spark.read.parquet(path).drop("ingest")
    now = _cell_stats(spark, index, centroids).select(
        "centroid_id",
        F.col("n").alias("n_now"),
        F.col("mean_score").alias("mean_score_now"),
    )
    base = spark.read.parquet(f"{path}/_ivf_health_base").select(
        "centroid_id",
        F.col("n").alias("n_base"),
        F.col("mean_score").alias("mean_score_base"),
    )
    j = now.join(base, "centroid_id", "full_outer").select(
        "centroid_id",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_now", F.lit(0)).alias("n_now"),
        "mean_score_base",
        "mean_score_now",
    )
    # n_centroids rows: the unpartitioned totals window is benign
    tot_b = F.sum("n_base").over(Window.partitionBy())
    tot_n = F.sum("n_now").over(Window.partitionBy())
    shared = j.select(
        "*",
        (F.col("n_base") / F.greatest(tot_b, F.lit(1))).alias("share_base"),
        (F.col("n_now") / F.greatest(tot_n, F.lit(1))).alias("share_now"),
    )
    drop = F.col("mean_score_base") - F.col("mean_score_now")
    return shared.select(
        "*",
        drop.alias("score_drop"),
        (
            # coalesce: a cell empty at build time has NULL base score;
            # its verdict rides on the share condition alone
            F.coalesce(drop > F.lit(score_drop_threshold), F.lit(False))
            | (
                (
                    F.col("share_now")
                    > F.col("share_base") * F.lit(share_growth_threshold)
                    + F.lit(1e-9)
                )
                # floor: share growth alone can't flag a near-empty
                # cell (share_base=0 → any single row is "growth")
                & (F.col("share_now") >= F.lit(min_flag_share))
            )
        ).alias("needs_rebuild"),
    )

def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iterations: int = 2,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Materialize an IVF index: train centroids, assign every corpus
    vector to its nearest one, and write the assigned corpus
    ``partitionBy("centroid_id")`` — one parquet directory per cell.
    The trained centroids are stored alongside in an
    underscore-prefixed text sidecar (invisible to parquet partition
    discovery, same convention as the streaming store's manifest).

    This is the repeated-query production shape at 100 TB: the k-means
    sample, the full-corpus assignment pass, and the bucketed write
    happen ONCE; each later :func:`query_ivf_index` batch joins the
    index on its PARTITION column against a broadcast probe frame, so
    Catalyst's dynamic partition pruning reads only the probed cells'
    directories (~n_probes/n_centroids of the corpus) instead of
    re-scanning and re-bucketing everything per batch. Rows whose
    vector is malformed (NULL assignment) land in the default
    partition and are never probed.

    Layout: ``path/ingest=<generation>/centroid_id=<cell>/…`` — the
    extra ``ingest`` partition level gives every ingest generation
    (the base build, each batch append, each streaming micro-batch)
    its own directory, so appends are independent overwrites
    (idempotent under retries) and never rewrite existing data.
    Queries drop the ``ingest`` column; pruning happens on
    ``centroid_id`` regardless of the level above it.

    Rebuild semantics: building at a path that already holds an index
    REPLACES it with exactly ``corpus`` — every stale ``ingest=*``
    generation is purged. Without the purge, an in-place rebuild
    would overwrite only ``ingest=base`` and leave ``ingest=batch-*``
    rows sitting in ``centroid_id`` partitions assigned under the OLD
    centroids — silent recall loss on every later pruned query, and
    :func:`write_ivf_health_base` would snapshot the polluted stats as
    the new baseline (round-7 advisory). Callers rebuilding after
    appends must therefore pass the FULL corpus (base + appended),
    which is also what retraining centroids on the drifted data
    requires.

    Crash safety (round-8 advisory): the purge+write is the SAME
    write-ahead-manifest fold ``compact_ivf_index`` uses — the new
    base is staged DISTRIBUTED into the hidden temp directory, then
    one :func:`~petk_spark.sources.swap.committed_swap` deletes every
    stale generation and renames the temp into place. A crash at any
    point leaves readers on the complete OLD index or the complete
    NEW one (recovery replays the commit), never the no-index /
    partially-purged states the bare delete loop could expose; the
    fold lock turns a concurrent rebuild/compaction/append into a
    loud ``FoldInProgressError`` instead of silent pollution.
    Residual (documented): the centroid sidecar and health snapshot
    are rewritten AFTER the data swap while still under the lock — a
    crash inside that sub-second window leaves a fresh index with a
    stale sidecar, detectable by the held lock plus the sidecar's
    older mtime, and fixed by re-running the build.

    ``centroids`` (round 12) skips the driver-sample training and
    builds with the given list verbatim — the seam
    :func:`retrain_ivf_index` parity tests use to construct a fresh
    index with bit-identical centroids, and an escape hatch for
    externally trained models.

    Returns the trained centroids (also what the sidecar stores)."""
    from petk_spark.sources import swap

    if centroids is None:
        centroids = sample_centroids(
            corpus, n_centroids, vec_col, id_col, iterations
        )
    spark = corpus.sparkSession
    lock_tok = swap.acquire_lock(spark, path)
    try:
        # Complete any crashed fold so the stale-generation listing
        # sees a consistent index.
        swap.recover_pending_swap(spark, path)
        _replace_ivf_base(spark, path, corpus, centroids, id_col, vec_col)
    finally:
        swap.release_lock(spark, path, lock_tok)
    return centroids


def _replace_ivf_base(
    spark, path, corpus, centroids, id_col, vec_col, keep=()
) -> None:
    """Replace the index at ``path`` with ``corpus`` assigned by
    ``centroids`` — the shared tail of :func:`build_ivf_index` and
    :func:`retrain_ivf_index`, run under the caller's fold lock after
    recovery: stage the new base DISTRIBUTED into the swap temp
    directory, one ``committed_swap`` that purges every ``ingest=``
    generation not in ``keep`` and promotes the base, then rewrite the
    centroid sidecar and snapshot the fresh per-cell profile as the
    health baseline :func:`ivf_index_health` measures drift against."""
    import json

    from petk_spark.sources import swap

    gens = [
        g for g in swap.list_children(spark, path, "ingest=")
        if g not in keep
    ]
    tmp = swap.clear_tmp(spark, path)
    _write_ivf_generation(
        corpus, centroids, path, "base", id_col, vec_col, out_dir=tmp
    )
    swap.committed_swap(
        spark, path, sorted(set(gens) | {"ingest=base"}), "ingest=base"
    )
    spark.createDataFrame(
        [(json.dumps(centroids),)], "v string"
    ).coalesce(1).write.mode("overwrite").text(f"{path}/_ivf_centroids")
    write_ivf_health_base(spark, path)


def _write_ivf_generation(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    generation: str,
    id_col: str,
    vec_col: str,
    out_dir: str | None = None,
) -> None:
    """Assign ``corpus`` with ``centroids`` and overwrite ONE ingest
    generation directory of the index (bucketed by centroid inside).
    ``out_dir`` redirects the write (the rebuild stages the new base
    into the swap temp directory instead of the live layout)."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("cv"),
        "centroid_id",
    )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        out_dir if out_dir is not None else f"{path}/ingest={generation}"
    )


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    """The centroid list stored by :func:`build_ivf_index`."""
    import json

    return json.loads(spark.read.text(f"{path}/_ivf_centroids").collect()[0][0])


def append_to_ivf_index(
    new_corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    generation: str | None = None,
) -> str:
    """Assign NEW vectors with the index's STORED centroids and add
    them as a fresh ingest generation — the daily-ingest shape: one
    assignment pass over the new data only, no retraining, no rewrite
    of existing cells. Queries immediately see the appended vectors
    (same partition layout, same pruning). Returns the generation
    token written (auto-numbered ``batch-<n>`` under the single-writer
    contract unless ``generation`` pins one — re-running with the same
    token is an idempotent overwrite of that generation). Centroids
    drift as the corpus grows — run :func:`ivf_index_health`
    periodically and :func:`retrain_ivf_index` (round 12: full-corpus
    distributed Lloyd on the index's own rows, reassign, one
    crash-safe swap) when any cell flags ``needs_rebuild`` (mean
    assignment score down more than the threshold, or a cell's corpus
    share ballooning); the health frame is one scan, so checking every
    N appends is cheap relative to the appends themselves.
    :func:`build_ivf_index` ON THE FULL external corpus remains the
    path when rows outside the index must be picked up (the rebuild
    purges stale generations, so rows not in the rebuild corpus are
    dropped). For a stream of vectors use
    ``streaming.profile.streaming_ivf_append`` (per-micro-batch
    generations keyed by the checkpointed batch id)."""
    from petk_spark.sources import swap

    spark = new_corpus.sparkSession
    # Appends are WRITERS: they hold the fold lock for the duration
    # (round-8 advisory), so an append can no longer interleave with a
    # rebuild's purge window (its new generation would survive the
    # swap carrying OLD-centroid assignments) or a compaction, and two
    # concurrent auto-numbered appends can no longer race to the same
    # batch number and silently overwrite each other. A concurrent
    # writer now gets a loud FoldInProgressError instead.
    lock_tok = swap.acquire_lock(spark, path)
    try:
        # Complete any crashed fold first: auto-numbering scans the
        # child directories, and a half-finished fold would make it
        # (and the write below) see a partially-deleted index.
        swap.recover_pending_swap(spark, path)
        centroids = load_ivf_centroids(spark, path)
        if generation is None:
            # A caller may pin non-numeric generations (e.g.
            # batch-hotfix); they must not break later auto-numbered
            # appends (round-7 advisory) — only decimal suffixes
            # participate in numbering.
            nums = [
                int(s)
                for n in swap.list_children(spark, path, "ingest=batch-")
                if (s := n.split("batch-", 1)[1]).isdigit()
            ]
            generation = f"batch-{max(nums) + 1 if nums else 0}"
        _write_ivf_generation(
            new_corpus, centroids, path, generation, id_col, vec_col
        )
    finally:
        swap.release_lock(spark, path, lock_tok)
    return generation


def compact_ivf_index(
    spark, path: str, exclude_generations=()
) -> int:
    """Fold every ingest generation of a stored IVF index into ONE
    (``ingest=base``) — file-count hygiene for long-lived indexes fed
    by :func:`append_to_ivf_index` / streaming micro-batches (a year
    of 1-minute streaming generations is ~525k directories; queries
    stay correct but planning and listing degrade). Pure rewrite, no
    re-assignment: vectors keep their stored centroid cells.

    ``exclude_generations`` (round 13, r12 verdict #8) is the live-
    stream guard — the ``keep_recent`` of the partial store, by NAME:
    generations listed (``"ingest=stream-7"`` form) are left out of
    both the rewrite and the purge, so an at-least-once retry of the
    in-flight micro-batch can idempotently overwrite its own
    generation without double-counting rows already folded into
    base.

    Crash safety: the shared write-ahead-manifest fold protocol in
    ``sources/swap.py`` — unlike the partial store's fold, the
    replacement data here is corpus-sized, so it is written to the
    hidden temp directory DISTRIBUTED (partitionBy centroid_id), never
    collected. Returns the number of generations folded (0 = nothing
    to do). Single-writer contract (don't run concurrently with
    ingest), enforced by the fold lock — a concurrent fold raises
    ``swap.FoldInProgressError`` instead of corrupting."""
    from petk_spark.sources import swap

    lock_tok = swap.acquire_lock(spark, path)
    try:
        swap.recover_pending_swap(spark, path)
        excl = set(exclude_generations)
        gens = [
            g for g in swap.list_children(spark, path, "ingest=")
            if g not in excl
        ]
        if len(gens) <= 1:
            return 0
        vals = [g.split("=", 1)[1] for g in gens]
        tmp = swap.clear_tmp(spark, path)
        spark.read.parquet(path).filter(
            F.col("ingest").isin(vals)
        ).drop("ingest").write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(tmp)
        swap.committed_swap(spark, path, gens, "ingest=base")
        return len(gens)
    finally:
        swap.release_lock(spark, path, lock_tok)


def retrain_ivf_index(
    spark,
    path: str,
    k: int | None = None,
    iterations: int = 2,
    round_decimals: int | None = 6,
    exclude_generations=(),
) -> tuple[list[list[float]], dict]:
    """Retrain a stored IVF index's centroids on its OWN full corpus
    and reassign every vector — the action arm of
    :func:`ivf_index_health` (round 12, r11 verdict #3: health
    detected drift but nothing re-trained the stored model). The
    missing engine was F49's distributed Lloyd update
    (:func:`~petk_spark.operators.clustering.kmeans_fit`): unlike the
    build's ≤10k driver-sample training, the retrain runs full-corpus
    iterations — plan O(1) in k and dim (map-only assignment +
    ``posexplode`` → one hash aggregation per pass), driver holds only
    the k×dim centroid grid. Warm-started from the STORED centroids,
    so it converges in few passes on drifted-but-related data and is
    a no-op-shaped update on an undrifted index.

    ``k`` defaults to the stored model's cell count; pass a larger
    one to split hot cells as the corpus grows (extra centroids
    deterministically seeded by :func:`kmeans_fit`'s init contract is
    NOT used here — growing k re-inits from scratch via
    ``deterministic_init`` because warm-starting a k-change is
    ill-posed). Returns ``(centroids, info)`` from the fit.

    Crash safety: the same write-ahead-manifest fold as
    :func:`build_ivf_index` — the reassigned corpus is staged
    DISTRIBUTED into the hidden temp directory, one
    ``committed_swap`` purges every stale generation (base + every
    appended batch: their rows were all read into the retrain corpus)
    and promotes the new base; the sidecar and health baseline are
    rewritten after the swap under the same lock, so a later
    :func:`ivf_index_health` measures drift against the RETRAINED
    profile. Readers see the complete old index or the complete new
    one; concurrent writers get ``FoldInProgressError``."""
    from petk_spark.operators.clustering import kmeans_fit
    from petk_spark.sources import swap

    lock_tok = swap.acquire_lock(spark, path)
    try:
        swap.recover_pending_swap(spark, path)
        stored = load_ivf_centroids(spark, path)
        if not stored:
            raise ValueError(f"no stored centroids at {path}")
        excl = set(exclude_generations)
        corpus = spark.read.parquet(path)
        if excl:
            vals = [g.split("=", 1)[1] for g in excl]
            corpus = corpus.filter(~F.col("ingest").isin(vals))
        corpus = corpus.select("neighbor_id", "cv")
        if k is None or (stored and k == len(stored)):
            cents, info = kmeans_fit(
                corpus, len(stored), id_col="neighbor_id", vec_col="cv",
                iterations=iterations, init=stored,
                round_decimals=round_decimals,
            )
        else:
            cents, info = kmeans_fit(
                corpus, k, id_col="neighbor_id", vec_col="cv",
                iterations=iterations, round_decimals=round_decimals,
            )
        _replace_ivf_base(
            spark, path, corpus, cents, "neighbor_id", "cv", keep=excl
        )
    finally:
        swap.release_lock(spark, path, lock_tok)
    return cents, info


def maybe_retrain_ivf_index(
    spark,
    path: str,
    score_drop_threshold: float = 0.05,
    share_growth_threshold: float = 2.0,
    max_generations: int | None = 64,
    iterations: int = 2,
    exclude_generations=(),
) -> dict:
    """The scheduled-maintenance entry point tying the IVF lifecycle
    together (round 12): run :func:`ivf_index_health`; if ANY cell
    flags ``needs_rebuild`` (or the cheaper thin-drift aggregate
    ``avg(score_drop) > score_drop_threshold / 2`` trips), run
    :func:`retrain_ivf_index`; otherwise, if the index has accumulated
    more than ``max_generations`` ingest directories, run the pure
    rewrite :func:`compact_ivf_index` (file-count hygiene without
    touching assignments). One call per maintenance tick — the same
    run-it-every-N-appends cadence ``append_to_ivf_index`` documents,
    now with the decision logic in one audited place instead of
    caller folklore.

    Returns a summary dict: ``action`` (``"retrained"`` /
    ``"compacted"`` / ``"none"``), ``flagged`` (cell ids that tripped
    needs_rebuild), ``avg_score_drop``, and ``generations`` (count
    BEFORE the action). Read-only when nothing trips — one health
    scan and a directory listing."""
    from petk_spark.sources import swap

    health = ivf_index_health(
        spark, path,
        score_drop_threshold=score_drop_threshold,
        share_growth_threshold=share_growth_threshold,
    ).collect()
    flagged = [r["centroid_id"] for r in health if r["needs_rebuild"]]
    drops = [
        r["score_drop"] for r in health if r["score_drop"] is not None
    ]
    avg_drop = sum(drops) / len(drops) if drops else 0.0
    gens = swap.list_children(spark, path, "ingest=")
    out = {
        "action": "none",
        "flagged": sorted(flagged),
        "avg_score_drop": avg_drop,
        "generations": len(gens),
    }
    if flagged or avg_drop > score_drop_threshold / 2:
        retrain_ivf_index(
            spark, path, iterations=iterations,
            exclude_generations=exclude_generations,
        )
        out["action"] = "retrained"
    elif max_generations is not None and len(gens) > max_generations:
        compact_ivf_index(
            spark, path, exclude_generations=exclude_generations
        )
        out["action"] = "compacted"
    return out


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probes: int = 2,
) -> DataFrame:
    """Approximate top-k against a stored :func:`build_ivf_index`
    directory. Identical results to :func:`cosine_topk_ivf` over the
    same corpus and centroid count (pinned by test) — but the corpus
    side is a partition-pruned read of only the probed cells (the
    probe frame is broadcast and the join key IS the partition
    column, so dynamic partition pruning applies), not a full scan +
    re-assignment."""
    from petk_spark.sources import swap

    # Complete any crashed compaction before reading — without this a
    # query between a dead fold's child deletes and its rename would
    # silently miss the folded cells (round-7 advisory). One exists()
    # check when nothing is pending.
    swap.recover_for_read(spark, path)
    centroids = load_ivf_centroids(spark, path)
    if not centroids:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    index = spark.read.parquet(path).drop("ingest").filter(
        F.col("centroid_id").isNotNull()
    )
    q = _probe_frame(queries, centroids, n_probes, id_col, vec_col)
    return _score_buckets(index, q, k)

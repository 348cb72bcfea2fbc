"""F49 — distributed Lloyd k-means over an embedding column.

Beyond-reference operator (the 365-LoC reference has no vector ops at
all); the natural companion to the IVF index and SemDeDup surfaces,
which both consume a centroid list: ``sample_centroids``
(similarity.py) trains on a capped 10k driver sample, which is the
right cost/quality point for IVF bucketing, but curation-grade
clustering (DataComp/SemDeDup-style cluster-then-prune) wants
centroids trained on the FULL corpus. This module is that full-corpus
path, built for the 100 TB shape:

* **Per iteration: one scan, (k x dim)-row shuffle, O(1) plan.**
  Assignment reuses :func:`petk_spark.operators.similarity.ivf_assign`
  — a map-only Arrow projection (the fold-exact kernel for k ≤ 64,
  the BLAS matmul kernel beyond). The centroid update is
  ``posexplode(vec)`` → ``groupBy(centroid_id, pos)`` — Spark's hash
  aggregate computes map-side partial sums, so the shuffle carries at
  most ``k × dim × n_partitions`` pre-aggregated (sum, count) rows,
  never data rows, and the PLAN is O(1) in both k and dim (an earlier
  draft built one ``element_at`` + one ``sum`` column per dimension:
  ~2050 aggregate expressions at dim 1024, past the measured
  ``spark.sql.codegen.maxFields`` cliff — pinned against regression by
  ``test_clustering.test_update_plan_constant_in_dim``). The driver
  collects exactly ``k × dim`` pre-aggregated rows per iteration (the
  same order of driver state as MLlib's KMeans, which also holds the
  centroid matrix on the driver).
* **Deterministic and engine-replayable.** Init is the first ``k``
  well-formed vectors in ``(md5(id), id)`` order — a pure function of
  the data that any SQL engine can replay (same md5-keyed-order trick
  as operators/sampling.py). Updated centroids are rounded to
  ``round_decimals`` between iterations: double summation is
  merge-order-dependent at the last ulp, and an unrounded centroid
  would let that noise flip a downstream argmax; rounding at 1e-6
  absorbs ~1e-12 relative sum noise on both engines, making a fixed
  iteration count bit-replayable (the ``km_cent`` / ``km_asg`` /
  ``km_size`` families of the ``embedding_near_dup`` registry twin
  replay two full iterations in DuckDB CTEs — literal init centroids,
  per-dimension mean via ``round_even``, argmax re-assignment — see
  ``extensions_registry._km_families_sql``; Python ``round`` ≡ DuckDB
  ``round_even`` is pinned by ``test_clustering.test_round_parity``).
* **Semantics match the sampled trainer**: cosine assignment
  (tie → lower centroid id, malformed vectors → NULL cell, excluded
  from updates), arithmetic-mean update, empty cluster keeps its
  previous centroid.

Scale note: iterations are sequential by nature (Lloyd is a
fixed-point loop); the per-iteration cost is the floor for any
distributed k-means. For k > 64 the assignment switches to the
matmul kernel automatically — plan size stays O(1) in k on both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petk_spark.operators.similarity import (
    _assigned_rows,
    _well_formed,
    ivf_assign,
)

__all__ = ["kmeans_fit", "kmeans_assign", "deterministic_init"]


def _modal_dim(df: DataFrame, id_col: str, vec_col: str) -> int:
    """Modal vector length over a capped DETERMINISTIC sample (same
    robustness rule as similarity.sample_centroids: one ragged row in
    100 TB must not anchor the dimension). The sample is the first 10k
    rows in ``(md5(id), id)`` order — a bare ``limit`` is
    partition-order-nondeterministic, which would let the inferred dim
    (and therefore the init set and the entire fit) vary run-to-run on
    a mixed-dimension corpus (round-9 advisory #2)."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.size(F.col(vec_col)).alias("d"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(id_col).alias("i"),
        )
        .orderBy("h", "i")
        .limit(10_000)
        .groupBy("d")
        .count()
        .orderBy(F.col("count").desc(), F.col("d"))
        .limit(1)
        .collect()
    )
    if not rows:
        raise ValueError("no non-NULL vectors to infer dimension from")
    return rows[0]["d"]


def deterministic_init(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[float]]:
    """First ``k`` well-formed vectors in ``(md5(str(id)), id)`` order.

    A global sort-limit over a projected 2-column frame: Spark runs it
    as a TakeOrdered (per-partition top-k, then a k-row merge on the
    driver) — no full sort materializes. md5-keyed order is the repo's
    standard engine-portable pseudo-shuffle, so a DuckDB twin selects
    the identical seed rows.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if dim is None:
        dim = _modal_dim(df, id_col, vec_col)
    rows = (
        df.filter(_well_formed(F.col(vec_col), dim))
        .select(F.col(vec_col).cast("array<double>").alias("v"), F.col(id_col).alias("i"))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def _centroid_stats(asg: DataFrame) -> DataFrame:
    """Per-(centroid, dimension) running sums for one update step:
    ``(centroid_id, pos, s, n)``. posexplode keeps the plan O(1) in
    dim — the hash aggregate does map-side partial (sum, count), so
    the exchange carries ≤ k × dim × n_partitions pre-aggregated rows.
    Factored out so the plan-shape test can ``explain`` exactly the
    stage the fit loop runs."""
    return (
        asg.filter(F.col("centroid_id").isNotNull())
        .select(
            "centroid_id",
            F.posexplode(F.col("vec").cast("array<double>")).alias("pos", "val"),
        )
        .groupBy("centroid_id", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    init: list[list[float]] | None = None,
    round_decimals: int | None = 6,
    dim: int | None = None,
) -> tuple[list[list[float]], dict]:
    """Full-corpus Lloyd k-means; returns ``(centroids, info)``.

    ``info`` carries ``sizes`` (cluster populations from the LAST
    update step) and ``n_assigned``. Malformed vectors (NULL / ragged
    / zero-norm / non-finite) get NULL assignments and never touch the
    update — one bad row must not poison a centroid.

    ``init`` must have exactly ``k`` rows when given (a silent
    len(init) ≠ k would train a different model than asked for), and an
    explicit ``dim`` must agree with ``len(init[0])`` — ``ivf_assign``
    only assigns vectors of the centroids' own length, so a divergent
    dim would misindex the update stage (round-9 advisory #3).

    Rounding contract: every updated coordinate is
    ``round(sum/count, round_decimals)`` — the determinism seam that
    makes the fixed-iteration run replayable across engines and across
    Spark's own nondeterministic partial-sum merge order (module
    docstring). Pass ``round_decimals=None`` to disable (single-engine
    use where last-ulp drift is acceptable).
    """
    if init is not None:
        if len(init) != k:
            raise ValueError(
                f"init has {len(init)} centroids but k={k}; pass k=len(init)"
            )
        if dim is not None and init and dim != len(init[0]):
            raise ValueError(
                f"dim={dim} disagrees with len(init[0])={len(init[0])}"
            )
    if dim is None:
        dim = len(init[0]) if init else _modal_dim(df, id_col, vec_col)
    cents = (
        [list(map(float, c)) for c in init]
        if init is not None
        else deterministic_init(df, k, id_col, vec_col, dim=dim)
    )
    if not cents:
        return [], {"sizes": [], "n_assigned": 0}
    sizes: list[int] = [0] * len(cents)
    n_assigned = 0
    for _ in range(max(0, iterations)):
        asg = _assigned_rows(df, cents, id_col, vec_col)
        stats = _centroid_stats(asg).collect()
        sums: dict[tuple[int, int], float] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums[(r["centroid_id"], r["pos"])] = r["s"]
            counts[r["centroid_id"]] = r["n"]  # n is constant across pos
        new_cents: list[list[float]] = []
        sizes = []
        n_assigned = 0
        for ci, old in enumerate(cents):
            n = counts.get(ci, 0)
            if n == 0:
                new_cents.append(old)  # empty cluster keeps its centroid
                sizes.append(0)
                continue
            sizes.append(n)
            n_assigned += n
            coord = [sums[(ci, i)] / n for i in range(dim)]
            if round_decimals is not None:
                coord = [round(x, round_decimals) for x in coord]
            new_cents.append(coord)
        cents = new_cents
    return cents, {"sizes": sizes, "n_assigned": n_assigned}


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final cluster assignment ``(id, centroid_id)`` — one map-only
    scan via the shared :func:`ivf_assign` contract (tie → lower id,
    malformed → NULL)."""
    return ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col).select(
        "id", "centroid_id"
    )

"""Structured Streaming profiling & validation (beyond-reference: the
reference — petk/exploration.py — is strictly batch; SURVEY §1.1 row
'Streams' declares this as a Spark-native extension).

Design notes for scale:

* ``streaming_profile`` is a watermarked tumbling-window aggregation —
  all statistics are mergeable (count/sum/avg/min/max/stddev), so the
  state store holds one compact row per (window, group); late data past
  the watermark is dropped, bounding state.
* ``streaming_validate`` reuses the exact batch rule registry: every
  rule is a stateless filter+project (petk_spark/operators/validate.py),
  which Structured Streaming runs unchanged, row-at-a-time, with no
  state at all.
* ``streaming_dedup_exact`` uses Spark's watermarked dropDuplicates —
  state holds one entry per key within the watermark horizon.
* ``streaming_completeness`` is the streaming twin of
  ``drift.completeness_over_time`` (F29): count/sum-only windowed
  aggregation, one state row per (window, monitored column).
* ``streaming_psi`` is the streaming twin of ``drift.psi_drift``
  (F21): fixed baseline bin grid broadcast into the stream, ONE
  windowed aggregation of n_bins conditional counters (fixed-width
  state row per window), per-window PSI folded JVM-side.
* ``streaming_dedup_normalized`` drops shingle-SET-identical clones
  (whitespace/ordering-insensitive): row-local sorted-shingle md5 key,
  one watermarked dropDuplicates — 16 bytes of state per distinct
  normalized doc in the horizon.
* ``running_profile`` is the custom stateful operator path
  (applyInPandasWithState): per-key Welford accumulators
  (count, mean, M2) merged batch-by-batch — numerically stable at
  unbounded stream length, constant state per key.

Every function accepts a *streaming* DataFrame and returns a lazy
streaming DataFrame; callers attach their own ``writeStream`` sink.
All of them equally accept a batch DataFrame (same plan, no watermark
semantics) — handy for backfill parity tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petk_spark.operators.grouped import _group_stats


def streaming_profile(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window numeric profile of a stream.

    Output: (window_start, window_end, group…, count, mean, std, min,
    max, sum) — the mergeable subset of describe()'s statistics (exact
    quantiles are not incrementally mergeable; use approx summaries or
    batch describe on the landed data).
    """
    wm = sdf.withWatermark(ts_col, watermark) if sdf.isStreaming else sdf
    keys = [F.window(F.col(ts_col), window).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    out = wm.groupBy(*keys).agg(*_group_stats(F.col(value_col)))
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *[c for c in out.columns if c != "win"],
    )


def streaming_validate(
    sdf: DataFrame, schema: dict, key, columns=None
) -> DataFrame:
    """Row-level quality audit of a stream: the batch rule registry
    applied as stateless streaming filters. Violations flow out with
    zero state; attach any sink (kafka/parquet/memory)."""
    from petk_spark.operators.validate import validate_frame

    return validate_frame(sdf, schema, key, columns)


def streaming_dedup_exact(
    sdf: DataFrame,
    subset: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact streaming dedup on a key subset. With a ts_col, state is
    bounded by the watermark horizon via
    ``dropDuplicatesWithinWatermark`` — a duplicate KEY arriving within
    the watermark is dropped regardless of its event time, and the
    key's state is evicted once the watermark passes (duplicates
    arriving later than that are NOT caught — the documented at-scale
    contract). Plain ``dropDuplicates`` with a watermark would only
    evict state if the event-time column were part of the dedup keys,
    which changes the semantics to (key, ts) equality AND — without it
    — grows state with every distinct key ever seen. Without a ts_col,
    state does grow with distinct keys (only for bounded key
    domains)."""
    if ts_col is not None and sdf.isStreaming:
        return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            subset
        )
    return sdf.dropDuplicates(subset)


def streaming_sessions(
    sdf: DataFrame,
    user_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the batch gap-based sessionization (SURVEY
    F19): Spark's native ``session_window`` merges a user's events
    whose inter-arrival gap stays under ``gap``; the state store holds
    one open session per active user, closed and emitted once the
    watermark passes the session end — bounded state, mergeable.

    ``ts_col`` must be (castable to) a timestamp. Works identically on
    a batch frame (no watermark), which is how the parity test compares
    it against ``operators/sessions.sessionize``. Boundary note: an
    inter-arrival gap of EXACTLY ``gap`` closes the session here
    (session windows are half-open ``[t, t+gap)``) but not in the batch
    lag-compare (strict ``>``) — indistinguishable on continuous
    timestamps."""
    t = F.col(ts_col).cast("timestamp")
    base = sdf.withColumn("__ts", t)
    wm = base.withWatermark("__ts", watermark) if sdf.isStreaming else base
    out = wm.groupBy(
        F.col(user_col).alias("user_id"),
        F.session_window(F.col("__ts"), gap).alias("sw"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("__ts").alias("first_event"),
        F.max("__ts").alias("last_event"),
    )
    return out.select(
        "user_id",
        F.col("sw.start").alias("session_open"),
        F.col("sw.end").alias("session_close"),
        "n_events",
        "first_event",
        "last_event",
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: running per-key profile (Welford)
# ---------------------------------------------------------------------------

_RUNNING_SCHEMA = (
    "group_key string, count long, mean double, m2 double, "
    "min double, max double"
)
_STATE_SCHEMA = "count long, mean double, m2 double, min double, max double"


def running_profile(
    sdf: DataFrame,
    group_col: str,
    value_col: str,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Continuously-updated per-key numeric profile via
    ``applyInPandasWithState``: state is a constant-size Welford
    accumulator (count, mean, M2, min, max) per key; each micro-batch
    merges its local moments into state and emits the updated row.

    variance = m2 / (count - 1) — sample variance, matching describe()'s
    ddof=1 contract (petk/tools.py:56-57 parity).
    """
    import pandas as pd  # noqa: F401 (documented dependency of the UDF)

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import numpy as np

        if state.exists:
            cnt, mean, m2, mn, mx = state.get
        else:
            cnt, mean, m2, mn, mx = 0, 0.0, 0.0, None, None

        for pdf in pdfs:
            vals = pdf[value_col].dropna().to_numpy(dtype=np.float64)
            if len(vals) == 0:
                continue
            b_cnt = len(vals)
            b_mean = float(vals.mean())
            b_m2 = float(((vals - b_mean) ** 2).sum())
            b_mn, b_mx = float(vals.min()), float(vals.max())
            # Chan et al. parallel merge of (count, mean, M2)
            delta = b_mean - mean
            tot = cnt + b_cnt
            m2 = m2 + b_m2 + delta * delta * cnt * b_cnt / tot
            mean = mean + delta * b_cnt / tot
            cnt = tot
            mn = b_mn if mn is None else min(mn, b_mn)
            mx = b_mx if mx is None else max(mx, b_mx)

        state.update((cnt, mean, m2, mn, mx))
        import pandas as pd

        yield pd.DataFrame(
            {
                "group_key": [str(key[0])],
                "count": [cnt],
                "mean": [mean],
                "m2": [m2],
                "min": [mn],
                "max": [mx],
            }
        )

    timeout = GroupStateTimeout.NoTimeout
    return (
        sdf.select(F.col(group_col).cast("string").alias("__g"), value_col)
        .groupBy("__g")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def streaming_completeness(
    sdf: DataFrame,
    ts_col: str,
    columns: list[str],
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``drift.completeness_over_time`` (F29): per
    tumbling window and column, row count / null count / null rate —
    the feed-went-dark monitor running ON the feed instead of over
    landed data.

    Output ``(window_start, window_end, col_name, n_rows, n_null,
    p_null)``. The per-column fan-out is the same inline explode of
    constant-size structs as the batch operator (no join), and the
    aggregate is count/sum only — fully mergeable, so the state store
    holds ONE compact row per (window, column); the watermark closes
    windows and bounds state exactly as in ``streaming_profile``.
    ``ts_col`` must be (castable to) a timestamp; the batch operator's
    epoch-seconds ``floor`` bucketing and this ``window()`` bucketing
    agree whenever ``bucket_seconds`` equals the window duration and
    buckets align to the epoch (tumbling windows do) — pinned by the
    parity test."""
    t = F.col(ts_col).cast("timestamp")
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(c).isNull().cast("long").alias("is_null"),
        )
        for c in columns
    ]
    base = sdf.select(t.alias("__ts"), F.explode(F.array(*structs)).alias("e")).select(
        "__ts", "e.*"
    )
    wm = base.withWatermark("__ts", watermark) if sdf.isStreaming else base
    out = wm.groupBy(
        F.window(F.col("__ts"), window).alias("win"), F.col("col_name")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("is_null").alias("n_null"),
        F.try_divide(F.sum("is_null"), F.count(F.lit(1))).alias("p_null"),
    )
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "col_name", "n_rows", "n_null", "p_null",
    )


def streaming_psi(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    baseline: DataFrame,
    n_bins: int = 10,
    window: str = "1 hour",
    watermark: str = "1 hour",
    eps: float = 1e-6,
) -> DataFrame:
    """Streaming twin of ``drift.psi_drift``: Population Stability
    Index of each tumbling window of the stream against a FIXED batch
    baseline (the standard feed-drift monitor: the baseline defines
    the bin grid once; every closed window scores against it).

    Output ``(window_start, window_end, psi)`` — one row per window.

    Scale shape: the baseline is reduced ONCE to an ``n_bins``-row
    probability frame (grid min/max + per-bin p_a) and broadcast into
    the stream; the stream side is a windowed count per (window, bin) —
    mergeable, one state row per (window, bin), watermark-bounded. The
    per-window PSI reduction folds the ≤ ``n_bins`` bin terms with the
    same eps floor as the batch operator. NULL/NaN values are filtered
    before binning exactly as in the batch twin (Spark's ``greatest``
    skips NULLs — see drift.psi_drift).
    """
    # binning convention (grid, clamp, NULL/NaN pre-filter) is SHARED
    # with batch psi_drift via drift.psi_grid/psi_bin_rows — one place
    # to change, or the documented batch/stream parity silently breaks
    from petk_spark.operators.drift import psi_bin_rows, psi_grid

    grid = psi_grid(baseline, value_col)
    base_binned = (
        psi_bin_rows(baseline, value_col, grid, n_bins)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    spark = baseline.sparkSession
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    p_a = (
        bins.join(base_binned, "bin", "left")
        .crossJoin(base_binned.agg(F.sum("n_a").alias("tot_a")))
        .selectExpr(
            "bin",
            f"greatest(CAST(coalesce(n_a, 0) AS DOUBLE) / tot_a, {eps!r}) AS p_a",
        )
    )

    t = F.col(ts_col).cast("timestamp")
    stream_binned = psi_bin_rows(
        sdf.select(t.alias("__ts"), F.col(value_col)),
        value_col, grid, n_bins, keep=("__ts",),
    )
    wm = (
        stream_binned.withWatermark("__ts", watermark)
        if sdf.isStreaming
        else stream_binned
    )
    # ONE stateful aggregation (chained stateful aggs are disallowed on
    # streams): per window, n_bins conditional counters — state is one
    # fixed-width row per window regardless of input volume. Bins
    # absent from a window count 0 and take the eps floor in the fold.
    counters = [
        F.sum(F.when(F.col("bin") == i, 1).otherwise(0)).alias(f"n_{i}")
        for i in range(n_bins)
    ]
    per_win = wm.groupBy(F.window(F.col("__ts"), window).alias("win")).agg(
        *counters
    )
    grid_arr = F.broadcast(
        p_a.agg(
            F.array_sort(F.collect_list(F.struct("bin", "p_a"))).alias("ga")
        )
    )
    nb = "array(" + ", ".join(f"`n_{i}`" for i in range(n_bins)) + ")"
    # hoist the window total and per-bin p_b ONCE — inlining the
    # aggregate() fold inside the psi fold would re-evaluate the
    # O(n_bins) sum for every bin term
    psi = (
        per_win.crossJoin(grid_arr)
        .selectExpr(
            "win", "ga", f"{nb} AS nb",
            f"CAST(aggregate({nb}, 0L, (a, x) -> a + x) AS DOUBLE) AS tot_b",
        )
        .selectExpr(
            "win",
            f"""
            aggregate(
              sequence(0, {n_bins - 1}),
              CAST(0.0 AS DOUBLE),
              (acc, i) -> acc + (
                (element_at(ga, i + 1).p_a
                 - greatest(CAST(element_at(nb, i + 1) AS DOUBLE)
                            / tot_b, {eps!r}))
                * ln(element_at(ga, i + 1).p_a
                     / greatest(CAST(element_at(nb, i + 1) AS DOUBLE)
                                / tot_b, {eps!r}))
              )
            ) AS psi
            """,
        )
    )
    return psi.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "psi",
    )


def streaming_dedup_normalized(
    sdf: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str | None = None,
    n: int = 3,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming NORMALIZED text dedup: drops documents whose word
    n-gram shingle SET is identical to one already seen (within the
    watermark horizon) — whitespace-, line-break- and
    paragraph-order-insensitive, i.e. the re-crawl/boilerplate clone
    case exact byte dedup misses.

    The key is row-local and stateless: md5 over the sorted distinct
    shingle array (``dedup._shingles``, the same Arrow-batched
    tokenizer every batch dedup operator uses), so the only stateful
    operator is one watermarked ``dropDuplicates`` — state is one
    16-byte key per distinct normalized document in the horizon.

    Banded MinHash-LSH semantics (drop on ANY band collision) need
    either chained stateful operators (disallowed) or a join against
    accumulated state; run the batch ``minhash_lsh_near_dup`` over the
    landed data for below-1.0 similarity thresholds. This operator is
    the honest streaming-native subset: similarity == 1.0 on the
    shingle-set metric.

    Documents shorter than ``n`` tokens shingle to the empty set and
    would all collide on one key; they are passed through UNFILTERED
    (tagged by a distinct per-row key) — a too-short doc is not a
    duplicate of another too-short doc under this metric.
    """
    from petk_spark.operators.dedup import _shingles

    sh = F.array_sort(_shingles(F.col(text_col), n))
    key = F.when(
        F.size(sh) > 0, F.md5(F.concat_ws("\x1f", sh))
    ).otherwise(F.concat(F.lit("__short__"), F.col(id_col).cast("string")))
    keyed = sdf.withColumn("__nkey", key)
    if ts_col is not None and sdf.isStreaming:
        # dropDuplicatesWithinWatermark, NOT dropDuplicates: with plain
        # dropDuplicates the watermark only evicts state when the
        # event-time column is among the dedup keys — keyed on __nkey
        # alone it would accumulate one state entry per distinct
        # normalized doc EVER seen (unbounded), not per doc in the
        # horizon.
        out = keyed.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(["__nkey"])
    else:
        out = keyed.dropDuplicates(["__nkey"])
    return out.drop("__nkey")


# ---------------------------------------------------------------------------
# Streaming → incremental-profile store (the production re-profiling loop)
# ---------------------------------------------------------------------------

def streaming_partial_store(
    sdf: DataFrame,
    store_path: str,
    columns: list[str] | None = None,
    group_cols: list[str] | None = None,
    compact_every: int | None = None,
    keep_recent: int = 1,
):
    """Maintain an incremental-profile PARTIAL STORE from a stream:
    each micro-batch is profiled with ``incremental.partial_profile``
    (one scan of the batch → a few compact mergeable rows per column)
    and written to ``store_path/batch_id=<id>``. ``overwrite`` per
    batch directory makes the sink idempotent under foreachBatch's
    at-least-once retries — the standard exactly-once file recipe.

    This closes the loop between the streaming and incremental paths:
    the store is exactly the mergeable-partial format
    ``merge_partials``/``finalize_profile`` consume, so a full-fidelity
    profile of EVERYTHING ever streamed (true min/max/moments/HLL
    distinct/KLL quantiles — statistics a bounded-state windowed
    aggregation cannot give you) is available at any time for the cost
    of folding the tiny store (:func:`profile_from_store`), with no
    replay of the stream and no unbounded operator state: profile
    state lives in the store as O(batches × columns) compact rows, not
    in the streaming state store at all. The store grows one partial
    per micro-batch (a year of 1-minute batches ≈ 525k rows per
    column); run :func:`compact_store` periodically to fold it back to
    O(columns) — the fold is lossless for every statistic the store
    carries (sketches merge, moments use the centered Chan identity).

    ``compact_every`` (round 12, r11 verdict #7) wires that cadence
    in: every N-th micro-batch, AFTER its own partial commits, folds
    the store with ``compact_store(keep_recent=keep_recent)`` — the
    live-stream-safe mode (the newest ``keep_recent ≥ 1`` batch
    directories stay untouched, so an at-least-once retry of the
    in-flight batch remains an idempotent overwrite). The directory
    count is then bounded end-to-end at
    ``1 + compact_every + keep_recent`` no matter how long the stream
    runs, instead of growing per batch until an out-of-band
    maintenance job fires. The fold runs on the DRIVER inside
    foreachBatch — the store is the single-writer resource and
    foreachBatch is its only writer, so the fold lock never contends
    with anything but a crashed predecessor (which it recovers).

    Returns the ``DataStreamWriter`` (caller sets checkpoint/trigger
    and calls ``start()``)."""
    from petk_spark.operators.incremental import partial_profile

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = partial_profile(batch_df, columns, group_cols)
        part.write.mode("overwrite").parquet(
            f"{store_path}/batch_id={batch_id}"
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_store(
                batch_df.sparkSession, store_path, keep_recent=keep_recent
            )

    return sdf.writeStream.foreachBatch(write_batch)


def streaming_ivf_append(
    sdf: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Stream NEW vectors into a stored IVF index
    (``operators.similarity.build_ivf_index``): each micro-batch is
    assigned with the index's stored centroids (loaded ONCE at wiring
    time — no retraining, no per-batch sidecar read) and written as
    its own ingest generation ``stream-<batch_id>``. The overwrite of
    a per-batch-id directory makes the sink idempotent under
    foreachBatch's at-least-once retries — the same exactly-once file
    recipe as :func:`streaming_partial_store` — and
    ``query_ivf_index`` sees appended vectors as soon as the batch
    commits, with partition pruning intact. Single ingest pipeline per
    index (don't mix with concurrent batch appends).

    ``maintain_every`` (round 13, r12 verdict #8 — the
    ``compact_every`` cadence for the index): every N-th micro-batch,
    AFTER its own generation commits, runs
    ``similarity.maybe_retrain_ivf_index`` (health check → retrain /
    compact / no-op) with the in-flight generation EXCLUDED from any
    fold — foreachBatch is at-least-once, and a retry of batch N must
    remain an idempotent overwrite of ``ingest=stream-N`` (the exact
    keep_recent reasoning of :func:`compact_store`, by name). The
    tick runs on the driver inside foreachBatch, the index's single
    writer, so the fold lock never contends with anything but a
    crashed predecessor. When the tick retrained, the wiring-time
    centroid snapshot is RELOADED so later batches assign against the
    new model instead of silently degrading every future cell
    assignment. ``maintain_kwargs`` forwards thresholds (e.g.
    ``max_generations``) to the tick.

    Returns the ``DataStreamWriter`` (caller sets checkpoint/trigger
    and calls ``start()``)."""
    from petk_spark.operators.similarity import (
        _write_ivf_generation,
        load_ivf_centroids,
        maybe_retrain_ivf_index,
    )

    state = {"centroids": load_ivf_centroids(sdf.sparkSession, index_path)}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_ivf_generation(
            batch_df, state["centroids"], index_path,
            f"stream-{batch_id}", id_col, vec_col,
        )
        if maintain_every and batch_id > 0 and batch_id % maintain_every == 0:
            out = maybe_retrain_ivf_index(
                batch_df.sparkSession,
                index_path,
                exclude_generations=(f"ingest=stream-{batch_id}",),
                **(maintain_kwargs or {}),
            )
            if out["action"] == "retrained":
                state["centroids"] = load_ivf_centroids(
                    batch_df.sparkSession, index_path
                )

    return sdf.writeStream.foreachBatch(write_batch)


def profile_from_store(spark, store_path: str) -> DataFrame:
    """Finalized profile over every partial in a
    :func:`streaming_partial_store` directory: read the (tiny) store,
    drop the batch partition key, merge, finalize. Never touches the
    original data."""
    from petk_spark.operators.incremental import (
        finalize_profile,
        merge_partials,
    )

    from petk_spark.sources import swap

    # A crashed fold between its commit point and completion leaves the
    # store partially deleted; finish it before reading (cheap exists()
    # check when nothing is pending).
    swap.recover_for_read(spark, store_path)
    stored = spark.read.parquet(store_path)
    return finalize_profile(merge_partials(stored.drop("batch_id")))


def compact_store(spark, store_path: str, keep_recent: int = 0) -> int:
    """Fold batch partials in a :func:`streaming_partial_store`
    directory into ONE batch directory (the lowest folded id), keeping
    the store O(columns × groups) no matter how many micro-batches
    have run. Returns the number of batch directories folded
    (0 = nothing to do). The fold is lossless for everything the store
    carries: counts/sums/min/max add or fold exactly, moments merge
    via the centered Chan identity, HLL/KLL sketches union — so
    :func:`profile_from_store` before and after compaction agree
    (equality pinned by the soak test in tests/test_streaming.py).

    ``keep_recent`` (round 11) leaves the newest N batch directories
    untouched and folds only the OLDER ones — the correct mode while
    the stream is LIVE: ``foreachBatch`` is at-least-once, and its
    retry of batch ``N`` re-overwrites ``batch_id=N`` assuming the
    directory is the only place that batch's rows live; if a compaction
    had already folded attempt 1 of batch ``N`` into the merged
    directory, the retry's overwrite would DOUBLE-COUNT that batch.
    Any ``keep_recent`` at or above the engine's possible replay depth
    (in practice: 1 — Structured Streaming only ever re-runs the batch
    that was in flight at failure) makes periodic compaction safe to
    interleave with the running stream; the default 0 (fold
    everything) remains the right call for a stopped stream. Either
    way the store stays O(columns × groups + keep_recent × columns)
    instead of growing one partial per micro-batch forever (a year of
    1-minute batches ≈ 525k directories without compaction — a real
    file-count ceiling on object stores).

    Crash safety: the shared write-ahead-manifest fold protocol in
    ``sources/swap.py`` (a crash at any point either leaves the store
    untouched or is completed by the recovery sweep at the next call —
    the store never double-counts and never loses a committed fold;
    Hadoop FS API, so the protocol holds on HDFS/S3A). The
    single-writer contract is enforced by the fold lock: a concurrent
    fold raises ``swap.FoldInProgressError`` instead of corrupting.

    The merged replacement is written DISTRIBUTED into the hidden temp
    directory (same shape as ``compact_ivf_index``) — there is no
    driver materialization, so a store with high-cardinality
    ``group_cols`` (millions of groups) compacts without collecting
    every group to the driver (round-6 verdict finding)."""
    from petk_spark.operators.incremental import merge_partials
    from petk_spark.sources import swap

    lock_tok = swap.acquire_lock(spark, store_path)
    try:
        swap.recover_pending_swap(spark, store_path)

        stored = spark.read.parquet(store_path)
        ids = sorted(
            r[0] for r in stored.select("batch_id").distinct().collect()
        )
        # max(0, ...) guards the young-store case: keep_recent larger
        # than the batch count must fold NOTHING (a negative slice index
        # would wrap around and fold kept-window batches, re-creating
        # the double-count-on-retry hazard keep_recent exists to stop).
        if keep_recent < 0:
            raise ValueError(f"keep_recent must be >= 0, got {keep_recent}")
        fold = ids[: max(0, len(ids) - keep_recent)] if keep_recent > 0 else ids
        if len(fold) <= 1:
            return 0
        tmp = swap.clear_tmp(spark, store_path)
        # Distributed write of the merged partials: the merge ends in a
        # hash aggregation, AQE coalesces its output to a handful of
        # files for the typical tiny store while a huge grouped store
        # streams through executors, never the driver.
        merge_partials(
            stored.filter(F.col("batch_id").isin(fold)).drop("batch_id")
        ).write.mode("overwrite").parquet(tmp)
        swap.committed_swap(
            spark,
            store_path,
            [f"batch_id={i}" for i in fold],
            f"batch_id={fold[0]}",
        )
        return len(fold)
    finally:
        swap.release_lock(spark, store_path, lock_tok)


# ---------------------------------------------------------------------------
# Streaming → seen-store ingest (round 16: the crawl-ingest loop, live)
# ---------------------------------------------------------------------------

def _dir_committed(spark, path: str) -> bool:
    """True when a parquet directory carries its _SUCCESS marker —
    the committed-output test the exactly-once recipes key on."""
    from petk_spark.sources.swap import _fs

    fs, hadoop_path = _fs(spark, path)
    return bool(fs.exists(hadoop_path(f"{path}/_SUCCESS")))


def streaming_seen_store_ingest(
    sdf: DataFrame,
    id_col: str,
    text_col: str,
    store_table: str,
    out_path: str,
    n_buckets: int = 128,
    compact_every: int | None = None,
    compact_kwargs: dict | None = None,
):
    """The incremental-dedup crawl-ingest loop (F45), LIVE: each
    micro-batch is (1) deduped within the batch (normalized-text
    fingerprint, keep-first by ``id_col``), (2) anti-joined against
    the bucketed seen store (``dedup.filter_previously_seen`` store
    tier — co-located bucket scan, no store-side shuffle), (3) the
    surviving documents land under ``out_path/batch_id=<id>``, and
    (4) their fingerprints are appended to the store
    (``dedup.append_seen`` — anti-join keeps the uniqueness
    invariant). Optionally every ``compact_every``-th batch runs the
    ``maybe_compact_seen_store`` hygiene tick AFTER its own append —
    foreachBatch is the store's single writer, which is exactly the
    tick's documented single-scheduler contract.

    Exactly-once under foreachBatch's at-least-once retries — the
    ordering is load-bearing:

    * the docs directory is written FIRST and only when its
      ``_SUCCESS`` marker is absent. A retry after the docs committed
      but before the append must NOT rewrite the directory: the
      store-filter would now (or after a partial append) return a
      subset, and a blind ``overwrite`` would replace good output
      with fewer rows.
    * ``append_seen`` runs unconditionally AFTER: it is idempotent by
      construction (its anti-join drops fingerprints already in the
      store), so the crash-between-write-and-append retry completes
      the append, and the crash-after-everything retry appends an
      empty set.

    Returns the ``DataStreamWriter`` (caller sets checkpoint/trigger
    and calls ``start()``)."""
    from petk_spark.operators.dedup import (
        append_seen,
        dedup_first_by,
        filter_previously_seen,
        maybe_compact_seen_store,
    )
    from petk_spark.operators.text import fingerprint

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_unique = dedup_first_by(
            batch_df.withColumn("__bfp", fingerprint(F.col(text_col))),
            ["__bfp"],
            id_col,
        ).drop("__bfp")
        fresh = filter_previously_seen(
            batch_unique, id_col, text_col, store_table=store_table
        )
        target = f"{out_path}/batch_id={batch_id}"
        if not _dir_committed(spark, target):
            fresh.write.mode("overwrite").parquet(target)
        # append from the COMMITTED directory, not the in-memory
        # frame: on a retry after a partial append the recomputed
        # filter would under-count, and the landed docs are the set
        # whose fingerprints must be registered
        append_seen(
            spark.read.parquet(target), id_col, text_col,
            store_table, n_buckets=n_buckets,
        )
        if (
            compact_every
            and batch_id > 0
            and batch_id % compact_every == 0
        ):
            maybe_compact_seen_store(
                spark, store_table, n_buckets=n_buckets,
                **(compact_kwargs or {}),
            )

    return sdf.writeStream.foreachBatch(write_batch)

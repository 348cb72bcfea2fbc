"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is the full declared driver query (same code path as the
correctness gate), timed end-to-end including result collection —
results are small post-aggregation frames, so collection cost is
negligible and the number reflects scan+agg throughput.

Protocol (round 3): every query runs $SPARK_GRAFT_BENCH_RUNS times
(default 3) back-to-back and reports the per-query MEDIAN — a single
pass per query proved too load-sensitive to adjudicate regressions
(round-2 postmortem: the same engine measured 3.2 s and 18.3 s on the
same query under the two protocols). The first sample still carries
the cold plan/codegen cost; the median of three therefore reflects a
mostly-warm steady state, and the raw samples are emitted alongside so
cold-start cost stays visible.

Self-adjudication (round 8): three consecutive rounds burned a
flag-and-adjudicate cycle on host noise (r5 sessionize_events, r6
correlation_lineitem, r7's 24-query uniform drift), so the run now
measures the HOST alongside the engine. A fixed CONTROL query —
frozen engine-independent pure-CPU Spark (range → avg(xxhash64), 150M
rows per configured core), never to be edited — runs after warmup and
again after every
$SPARK_GRAFT_BENCH_CONTROL_EVERY (default 10) registry entries; its
samples, median, and spread land in the result header as `control`,
and `queries_min` reports per-query min-of-n beside the medians
(min-of-n is far less load-sensitive than the median when the host is
intermittently busy). Decision rule (SCALE.md Round 8): per-query
regressions between two bench records are only ADMISSIBLE evidence
when both records report control drift_pct < 25 and their control
medians agree within 25%; otherwise the run has flagged itself as
host-loaded and per-query deltas must be settled by the interleaved
A/B protocol instead.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

# Module scope: the pandas_udf type-hint resolver evaluates annotations
# in the function's global namespace, so a function-local import alias
# breaks signature resolution (UNSUPPORTED_SIGNATURE).
import pandas as pd

from pyspark.sql import SparkSession

from petk_spark.session import recommended_builder


def build_spark(cpus: str) -> SparkSession:
    # The engine's recommended session (petk_spark/session.py: shuffle
    # partitions, AQE, UTC, Arrow, DataFrame debugging off) plus the
    # bench-only overrides below.
    b = (
        recommended_builder(f"local[{cpus}]", int(cpus))
        .appName("petk-spark-bench")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # ~160 collects share this session; broadcast/shuffle blocks are
        # only reclaimed by the ContextCleaner AFTER a driver GC, and the
        # default periodicGC interval (30 min) never fires within a bench
        # run — accumulated blocks inflated late queries ~2x in the r3
        # record (validate family; adjudicated round 4).
        .config("spark.cleaner.periodicGC.interval", "45s")
        # codegen.maxFields stays at the DEFAULT (100): raising it to
        # 300 compiles the wide describe bundles and wins ~30% on
        # describe_lineitem/events in an ISOLATED interleaved A/B
        # (8.8→6.3 s / 4.9→3.4 s), but in the full 54-query bench the
        # total went 117→121/127 s across two runs — the array-heavy
        # docs+embeddings bundle's large generated class churns the
        # codegen cache and re-pays multi-second Janino compiles, and
        # its compiled form is also ~15% slower warm than interpreted.
        # Measured, reverted; a deployment profiling ONE narrow table
        # repeatedly can still set it per-session.
    )
    # Optimization-round A/B hook: extra confs as "k=v;k2=v2", applied
    # last so a candidate setting can be probed in the exact bench
    # session shape without editing this file. Unset (the default, and
    # in every record/driver run) this is a no-op.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    return b.getOrCreate()


def build_registry(spark: SparkSession, sf_dir: str):
    """Build the full bench registry (driver queries + bench-only
    timing entries), run the untimed twin pre-warms and the JVM
    warmup, and return ``(registry, warm_state)``. Extracted from
    main() in round 13 so tools/ab_probe.py can replay the EXACT
    bench context (same entries, same pre-warm state) when
    adjudicating regressions in isolation."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    registry = dict(entrymod.queries())

    # Bench-only timing entry (NOT part of the driver contract): the
    # pure single-scan sketch profile without the banded self-check
    # harness that describe_lineitem_approx carries for correctness —
    # this is the number the 100 TB approx path actually costs.
    def _pure_approx(s, d):
        from pyspark.sql import functions as BF

        from petk_spark.operators.describe import describe_frame
        from petk_spark.sources.tables import read_table

        long = describe_frame(
            read_table(s, d, "lineitem"), None, exact=False, include_mad=False
        )
        return long.filter(BF.col("statistic") != "memory_usage")

    registry["describe_lineitem_approx_pure"] = _pure_approx

    # Bench-only timing entry: the fused one-scan document sweep
    # (text.document_signals_frame) — the production path whose
    # correctness is pinned by equality to the three composed frames
    # the text_quality_lang twin pays 3 scans for.
    def _fused_signals(s, d):
        from petk_spark.operators.describe import ensure_parallelism
        from petk_spark.operators.text import document_signals_frame
        from petk_spark.sources.tables import read_table

        # Round 17: the local fixture is ONE parquet split, so the
        # fused projection ran as a single serial task (1.7 s while 31
        # cores idled — job_probe). The guarded fan-out spreads it and
        # is a no-op at real scale; the OPERATOR keeps its zero-shuffle
        # one-pass contract (pinned by test_dedup) — the repartition is
        # bench-harness input shaping, the same class as the sf dir.
        return document_signals_frame(
            ensure_parallelism(
                read_table(s, d, "documents").select("doc_id", "text")
            ),
            "doc_id", "text",
        )

    registry["document_signals_fused"] = _fused_signals

    # Bench-only timing entries (round 8): price the F36/F37 pipeline
    # passes at corpus scale. pii_scrub = detection + full redaction
    # chain over every document text (one scan, pure JVM regex — the
    # number a 100 TB scrub pass extrapolates from). boilerplate_rewrite
    # = the TWO-scan frequency+rewrite shape on the synthesized
    # multi-paragraph corpus (the twin's families pin correctness; this
    # prices the operator alone, reduced to a checksum aggregate).
    def _pii_scrub(s, d):
        from pyspark.sql import functions as BF

        from petk_spark.operators.describe import ensure_parallelism
        from petk_spark.operators.pii import pii_signals_frame, redact_pii
        from petk_spark.sources.tables import read_table

        # round 17: single-split local scan fed serial regex chains;
        # guarded fan-out (no-op at scale), row-local values unchanged
        docs = ensure_parallelism(
            read_table(s, d, "documents").select("doc_id", "text")
        )
        sig = pii_signals_frame(docs, "doc_id", "text")
        red = redact_pii(docs, "text", out_col="red").select(
            BF.sum(BF.length("red")).alias("red_chars")
        )
        return sig.agg(
            BF.sum("n_pii").alias("n_pii"),
            BF.sum("n_email").alias("n_email"),
        ).crossJoin(red)  # 1-row × 1-row combine

    registry["pii_scrub"] = _pii_scrub

    def _boiler_rewrite(s, d):
        from pyspark.sql import functions as BF

        from petk_spark.operators.extensions_registry import (
            _boiler_synth_frame,
        )
        from petk_spark.operators.paragraphs import remove_boilerplate

        # round 17: the _pii_scrub-style fan-out was MEASURED AND
        # REVERTED here — remove_boilerplate's two passes each re-pay
        # the repartition exchange (med 0.86 -> 1.58 s, control-anchored)
        out = remove_boilerplate(
            _boiler_synth_frame(s, d), "id", "text", min_docs=5
        )
        return out.agg(
            BF.count(BF.lit(1)).alias("n_docs"),
            BF.sum("n_paragraphs").alias("n_paras"),
            BF.sum("n_paragraphs_kept").alias("n_kept"),
            BF.sum(BF.length("text")).alias("chars"),
        )

    registry["boilerplate_rewrite"] = _boiler_rewrite

    # Bench-only timing entry (round 9): F41 span-level
    # exact-substring dedup at production shape — window fingerprints
    # (Arrow rolling hash), doc-frequency agg, hot-fp join, id-grouped
    # hit starts, and the Arrow removal kernel — reduced to a checksum
    # aggregate (the twin's `spans` family pins correctness).
    def _span_scrub(s, d):
        from pyspark.sql import functions as BF

        from petk_spark.operators.describe import ensure_parallelism
        from petk_spark.operators.spans import remove_repeated_spans
        from petk_spark.sources.tables import read_table

        # round 17: same guarded single-split fan-out as _pii_scrub
        docs = ensure_parallelism(
            read_table(s, d, "documents").select("doc_id", "text")
        )
        out = remove_repeated_spans(
            docs, "doc_id", "text", window=8, min_docs=2
        )
        return out.agg(
            BF.count(BF.lit(1)).alias("n_docs"),
            BF.sum("n_tokens").alias("n_tokens"),
            BF.sum("n_tokens_kept").alias("n_kept"),
            BF.sum(BF.length("text")).alias("chars"),
        )

    registry["span_scrub"] = _span_scrub

    # Bench-only timing entry (round 8): the F39 SemDeDup pass with
    # trained centroids at production shape — assignment projection +
    # one cell-keyed equi-join + id anti-join, reduced to a count.
    def _semantic_dedup(s, d):
        from pyspark.sql import functions as BF

        from petk_spark.operators.dedup import semantic_dedup
        from petk_spark.sources.tables import read_table

        kept = semantic_dedup(
            read_table(s, d, "embeddings"), "vec_id", "embedding",
            n_centroids=16, threshold=0.4,
        )
        return kept.agg(BF.count(BF.lit(1)).alias("n_kept"))

    registry["semantic_dedup"] = _semantic_dedup

    # Bench-only timing entry (round 11, r10 verdict #2): the F49
    # full-corpus Lloyd k-means at production shape — fixed k=8,
    # modal dim, 2 iterations on the embeddings table. Its cost was
    # previously visible only inside the widened embedding_near_dup
    # twin (which replays the same two iterations in DuckDB), the
    # masking this file already unbundles for IVF (_index/_single)
    # and approx describe (_pure). Correctness is pinned by the twin's
    # km_cent/km_asg/km_size families; this entry prices the fit
    # alone, reduced to a k-row sizes frame.
    def _kmeans_fit(s, d):
        from petk_spark.operators.clustering import kmeans_fit
        from petk_spark.sources.tables import read_table

        cents, info = kmeans_fit(
            read_table(s, d, "embeddings"), k=8, iterations=2
        )
        return s.createDataFrame(
            [(i, int(n)) for i, n in enumerate(info["sizes"])],
            "centroid_id int, size long",
        )

    registry["kmeans_fit"] = _kmeans_fit

    # Bench-only timing entries (round-6 verdict #6): price the
    # persistent-index query path against the single-shot form. The
    # driver's cosine_topk_ivf entry is the RECALL-VERDICT contract
    # (exact brute-force + IVF + verdict joins), so neither of these
    # replaces it; they isolate the two production shapes:
    #   * cosine_topk_ivf_single — train + assign + probe per call
    #     (what a one-off batch pays);
    #   * cosine_topk_ivf_index — query a PRE-BUILT index (built once,
    #     untimed, below): broadcast probe join on the partition
    #     column, dynamic partition pruning reads only probed cells.
    def _ivf_single(s, d):
        from pyspark.sql import functions as BF

        from petk_spark.operators.similarity import cosine_topk_ivf
        from petk_spark.sources.tables import read_table

        emb = read_table(s, d, "embeddings")
        qs = emb.filter(BF.col("vec_id") < 10)
        return cosine_topk_ivf(
            emb, qs, "vec_id", "embedding", k=10, n_centroids=16, n_probes=2
        )

    registry["cosine_topk_ivf_single"] = _ivf_single

    import atexit
    import shutil
    import tempfile

    # cleanup at interpreter exit: this temp index is a build_registry
    # local since the round-13 extraction, so main() can't rmtree it
    _ivf_root = tempfile.mkdtemp(prefix="bench_ivf_")
    atexit.register(shutil.rmtree, _ivf_root, ignore_errors=True)
    _ivf_path = os.path.join(_ivf_root, "idx")
    try:
        from pyspark.sql import functions as _BF

        from petk_spark.operators.similarity import build_ivf_index
        from petk_spark.sources.tables import read_table as _rt

        build_ivf_index(
            _rt(spark, sf_dir, "embeddings"), _ivf_path, n_centroids=16
        )

        def _ivf_index_query(s, d):
            from petk_spark.operators.similarity import query_ivf_index

            qs = _rt(s, d, "embeddings").filter(_BF.col("vec_id") < 10)
            return query_ivf_index(s, _ivf_path, qs, k=10, n_probes=2)

        registry["cosine_topk_ivf_index"] = _ivf_index_query
    except Exception as exc:  # pragma: no cover - index build best-effort
        print(f"# bench ivf index build skipped: {exc}", file=sys.stderr)

    # Round 11 (r10 verdict #4): pre-warm the cosine_topk_ivf twin's
    # per-session fresh-index cache here, untimed — the same
    # built-once pattern as the _index fixture above — so every
    # sample of the twin measures the cached shape instead of the
    # first one paying the build (measured 25.3 s cold vs 9.3/7.9
    # cached in the first r11 record). Own try (round-11 advisory):
    # a warm failure must be distinguishable from an index-fixture
    # failure, and the outcome is recorded in the result under
    # warm_state so a record where the first timed sample silently
    # paid the build is mechanically detectable.
    ivf_twin_prewarmed = False
    try:
        from petk_spark.operators.extensions_registry import (
            _ivf_twin_fresh_index,
        )

        _ivf_twin_fresh_index(spark, sf_dir)
        ivf_twin_prewarmed = True
    except Exception as exc:  # pragma: no cover - prewarm best-effort
        print(f"# bench ivf twin pre-warm skipped: {exc}", file=sys.stderr)

    # Round 12 (r11 verdict #1): pre-warm the media twin's fixture
    # payload cache, untimed — synthesis (4 JPEG encodes + PNG/AVI/WAV
    # writes per doc) is harness cost; the timed samples measure the
    # DECODE kernels, which are the production surface. Deterministic
    # payloads → identical hashes either way. Own try + warm_state
    # entry, same protocol as the IVF pre-warm above.
    media_twin_prewarmed = False
    try:
        from petk_spark.operators.extensions_registry import (
            _media_twin_payloads,
        )

        _media_twin_payloads(spark, sf_dir)
        media_twin_prewarmed = True
    except Exception as exc:  # pragma: no cover - prewarm best-effort
        print(f"# bench media twin pre-warm skipped: {exc}", file=sys.stderr)

    # Round 12 (second half): pre-warm the describe_lineitem_approx
    # twin's exact-validator band cache, untimed — the validator is a
    # deterministic exact-reference pass (harness cost); the timed
    # samples measure the single-scan approx bundle UNDER TEST joined
    # against the cached bands. Identical values either way. Own try +
    # warm_state entry, same protocol as the two pre-warms above.
    approx_twin_prewarmed = False
    try:
        from petk_spark.operators.extensions_registry import (
            _approx_validator_bands,
        )

        _approx_validator_bands(spark, sf_dir)
        approx_twin_prewarmed = True
    except Exception as exc:  # pragma: no cover - prewarm best-effort
        print(f"# bench approx twin pre-warm skipped: {exc}", file=sys.stderr)

    # Warm the JVM once (codegen compiler, parquet reader, shuffle, Arrow
    # python-worker pool) so the alphabetically-first query doesn't absorb
    # ~4 s of session spin-up that no steady-state deployment would pay.
    # Engine code paths are NOT pre-run per query — each query below is
    # still a cold plan against cold data.
    try:
        from pyspark.sql import functions as _F

        warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        warm.groupBy(warm.columns[0]).count().collect()

        @_F.pandas_udf("long")
        def _warm_udf(s: pd.Series) -> pd.Series:
            return s.astype("int64")

        spark.range(1000).select(_warm_udf(_F.col("id"))).collect()
    except Exception as exc:  # pragma: no cover - warmup is best-effort
        print(f"# bench warmup skipped: {exc}", file=sys.stderr)

    warm_state = {
        "cosine_topk_ivf_fresh_index_prewarmed": ivf_twin_prewarmed,
        "media_twin_payloads_prewarmed": media_twin_prewarmed,
        "approx_validator_bands_prewarmed": approx_twin_prewarmed,
    }
    return registry, warm_state


def control_once(spark: SparkSession, cpus: int) -> float:
    """One run of the frozen r8 control: 150M xxhash64 rows per
    configured core — pure-CPU, sf-independent, load-proportional.
    Module-level since round 15 so tools/ab_probe.py can anchor
    family-level probes to the SAME instrument the record gates on
    (SCALE.md R15 §1)."""
    from pyspark.sql import functions as _CF

    t0 = time.perf_counter()
    (
        spark.range(0, 150_000_000 * cpus, 1, cpus * 2)
        .agg(_CF.avg(_CF.xxhash64(_CF.col("id")).cast("double")))
        .collect()
    )
    return time.perf_counter() - t0


def control_point(spark: SparkSession, cpus: int) -> float:
    """One recorded control point = MIN of 3 back-to-back runs: min is
    robust to one-off scheduler/GC spikes but cannot hide SUSTAINED
    host load, which is exactly what the drift gate must detect (a
    transient spike is not evidence the whole run is inadmissible; a
    loaded host shifts every sample)."""
    return min(control_once(spark, cpus) for _ in range(3))


def _resolve_out_path(argv: list, env) -> str:
    """Result-file path policy (round 15, r14 verdict #7): the default
    is NON-destructive — smokes land in ``bench_result.latest.json``
    (gitignored scratch); only an explicit opt-in (``--record`` argv or
    ``SPARK_GRAFT_BENCH_RECORD=1``) writes the committed record name,
    so a smoke run can never clobber the committed record again.
    ``SPARK_GRAFT_BENCH_OUT`` still overrides everything."""
    explicit = env.get("SPARK_GRAFT_BENCH_OUT")
    if explicit:
        return explicit
    here = os.path.dirname(os.path.abspath(__file__))
    recording = (
        "--record" in argv or env.get("SPARK_GRAFT_BENCH_RECORD") == "1"
    )
    return os.path.join(
        here,
        "bench_result.json" if recording else "bench_result.latest.json",
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = build_spark(cpus)
    registry, warm_state = build_registry(spark, sf_dir)

    # CONTROL query (round 8, self-adjudication): engine-independent,
    # frozen Spark — edits here would break cross-round comparability
    # of the control series, so DON'T touch it. It is deliberately not
    # an engine query and not a table scan: the r5-r7 noise episodes
    # were CPU contention (parquet at these sizes is OS-page-cached
    # after warmup, so even "scans" are memory+CPU), and a pure
    # codegen range-hash is the most load-proportional, sf-independent
    # instrument — 150M xxhash64 rows PER CONFIGURED CORE, so the
    # point duration (~0.5 s) and its sensitivity are comparable
    # across cpu settings and across rounds.
    control_rows = 150_000_000 * int(cpus)

    def _control_point() -> float:
        return control_point(spark, int(cpus))

    # every 5 entries (R11 §1): ≥14 points per full run, so the
    # single-stall trim below removes ≤7% of the evidence
    control_every = max(
        1, int(os.environ.get("SPARK_GRAFT_BENCH_CONTROL_EVERY", "5"))
    )
    control_samples: list[float] = []

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    # untimed control warmup: the first executions pay plan codegen,
    # parquet footer reads, and C2 JIT compilation that no later
    # sample pays — a single warm run still left a monotone ~40%
    # decline over the first points (measured at sf0.001), which would
    # read as false "drift"; five untimed runs reach steady state
    for _ in range(5):
        control_once(spark, int(cpus))
    control_samples.append(round(_control_point(), 4))
    # Adjudication knob (round 13): run the EXACT bench protocol
    # (ordering, runs, control points, settle) but stop after the
    # named query — lets a regression whose debt source is protocol
    # state (not plan) be reproduced in half a run. Not set in
    # driver/record runs; a record produced with it set is partial by
    # construction and says so via the truncated query map.
    stop_after = os.environ.get("SPARK_GRAFT_BENCH_STOP_AFTER")
    # Adaptive sample count (round 14 — r13 verdict #4, declared in
    # SCALE.md R14 §1 BEFORE any record run): a single hypervisor
    # stall inside a 3-sample median still lands in the record
    # (r13's describe_events carried a 27 s stall that way). When the
    # base samples spread beyond 1.5× min, take up to
    # SPARK_GRAFT_BENCH_MAX_EXTRA more (default 2 → n=5 worst case):
    # the median over 5 absorbs one stall entirely. Quiet queries pay
    # nothing.
    max_extra = max(
        0, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", "2"))
    )
    for qi, name in enumerate(sorted(registry)):
        if qi and qi % control_every == 0:
            control_samples.append(round(_control_point(), 4))
        fn = registry[name]
        ts: list[float] = []
        extra_left = max_extra
        want = runs
        while len(ts) < want:
            t0 = time.perf_counter()
            try:
                rows = fn(spark, sf_dir).collect()
                _ = len(rows)
                ts.append(time.perf_counter() - t0)
            except Exception as exc:  # pragma: no cover - bench robustness
                ts = []
                print(f"# bench error in {name}: {exc}", file=sys.stderr)
                break
            # Untimed: drop persisted blocks (describe histograms,
            # validation memos) so the next sample measures the full
            # standalone query, and 135 runs in one session don't
            # accumulate dead cached blocks — the ContextCleaner's lazy
            # reclamation let storage/GC pressure inflate the
            # alphabetically-late queries by 2x in a pile-up run.
            spark.catalog.clearCache()
            if (
                len(ts) == want
                and extra_left > 0
                and len(ts) >= 2
                and min(ts) > 0
                and max(ts) / min(ts) > 1.5
                # absolute floor: sub-second relative jitter (JIT,
                # first-sample cache effects on short queries) is not
                # a stall — only extend when the spread is material
                and max(ts) - min(ts) > 0.5
            ):
                want += 1
                extra_left -= 1
        # Untimed SETTLE step: force a driver GC so the ContextCleaner
        # reclaims this query's dead broadcast/shuffle blocks NOW, not
        # minutes later — clearCache alone leaves broadcasts behind,
        # and their pile-up (not engine code) was the r3
        # validate-family "regression". Round 8 hardened this into
        # gc → drain pause → gc → pause: the ContextCleaner is ASYNC
        # (System.gc only enqueues the references; the cleaner thread
        # processes them while the NEXT query already runs), and the
        # round-8 heavy twins (a real IVF index built per sample, the
        # six-family corpus_clean union) left enough deferred cleanup
        # that the next query's first sample absorbed it — measured
        # 38 s on describe_lineitem straight after the IVF twin vs
        # 8.5 s with this settle step (SCALE.md R8 §6); the roving
        # multi-second spikes in the first two r8 records were exactly
        # this debt landing on whoever ran next.
        # Round 14 (r13 verdict #4, SCALE.md R14 §1): the fixed
        # gc/pause pair converts MOST cleanup debt but a heavy twin
        # can leave more than 1.5 s of cleaner work, which then lands
        # in the SUCCESSOR's first sample (the r13
        # describe_lineitem_approx_pure watch item: elevated in-run in
        # both records, clean in isolation). Settle-until-quiet: after
        # the gc pair, run a ~30 ms micro-probe until two consecutive
        # readings agree within 20%, capped at 6 s — ordering debt is
        # paid as (untimed) settle time, not by whoever runs next.
        try:
            # Round 16 measurement-protocol fix (declared in
            # OPTIMIZATION_r16.md): `_CF` was only imported inside
            # control_once, so this whole settle block raised NameError
            # into the blanket except on every query since round 14 —
            # the settle-until-quiet probe silently never ran. Only the
            # UNTIMED inter-query settle changes; the timed methodology
            # is untouched.
            from pyspark.sql import functions as _SF

            jvm = spark.sparkContext._jvm
            jvm.System.gc()
            time.sleep(1.0)
            jvm.System.gc()
            time.sleep(0.5)

            def _micro_probe() -> float:
                t0 = time.perf_counter()
                (
                    spark.range(0, 4_000_000 * int(cpus), 1, int(cpus))
                    .agg(_SF.avg(_SF.xxhash64(_SF.col("id")).cast("double")))
                    .collect()
                )
                return time.perf_counter() - t0

            deadline = time.perf_counter() + 6.0
            prev = _micro_probe()
            while time.perf_counter() < deadline:
                cur = _micro_probe()
                if abs(cur - prev) <= 0.2 * max(prev, 1e-9):
                    break
                prev = cur
        except Exception:  # pragma: no cover - bench robustness
            pass
        if ts:
            timings[name] = round(statistics.median(ts), 4)
            samples[name] = [round(t, 4) for t in ts]
        else:
            timings[name] = -1.0
        if stop_after and name == stop_after:
            break

    control_samples.append(round(_control_point(), 4))
    c_min, c_max = min(control_samples), max(control_samples)
    drift_pct = round((c_max - c_min) / c_min * 100.0, 1) if c_min > 0 else -1.0
    # 1-trimmed drift, HEADLINE GATE since R11 §1 (SCALE.md — rule
    # committed BEFORE any round-11 run): the raw max-min gate over
    # ~7 points is blown by a SINGLE hypervisor stall (all three
    # round-10 failures were one outlier point each), so with >=10
    # interleaved points the rule discards exactly the one
    # farthest-from-median point (declared single-stall allowance —
    # a second stall still fails) and applies the same <25% bar to
    # the remainder. The raw spread stays in the record
    # (drift_pct / admissible_raw) for cross-round telemetry.
    if len(control_samples) > 2:
        med = statistics.median(control_samples)
        trimmed = sorted(control_samples, key=lambda s: abs(s - med))[:-1]
        t_min, t_max = min(trimmed), max(trimmed)
        drift_trimmed_pct = (
            round((t_max - t_min) / t_min * 100.0, 1) if t_min > 0 else -1.0
        )
    else:
        drift_trimmed_pct = drift_pct
    admissible_raw = bool(0 <= drift_pct < 25.0)
    if len(control_samples) >= 10:
        admissible = bool(0 <= drift_trimmed_pct < 25.0)
        rule = "R11 §1: trim-1 over >=10 interleaved points, <25%"
    else:
        admissible = admissible_raw
        rule = "R8 §1 raw (<10 control points: no trim on thin evidence)"
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    result = {
        "metric": "headline_queries_total",
        # record_schema 2 (round 12, r11 advisory): the meaning of
        # control.admissible changed in r11 (raw gate → trim-1 gate
        # when >=10 points); cross-round comparators should branch on
        # this field instead of guessing from key presence.
        # record_schema 3 (round 15): additive — queries_n /
        # queries_median3 (fixed-n adjudication, r14 ADVICE) and the
        # non-destructive default output path (r14 verdict #7).
        "record_schema": 3,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": {
            n: (min(samples[n]) if samples.get(n) else -1.0)
            for n in timings
        },
        # round 15 (r14 ADVICE low): adaptive sampling (n 3→5 on high
        # spread) means cross-round medians can be computed over a
        # different n; record the per-query n AND the median over the
        # FIRST 3 samples so adjudication near a gate can compare
        # fixed-n medians without re-running anything.
        "queries_n": {
            n: (len(samples[n]) if samples.get(n) else 0)
            for n in timings
        },
        "queries_median3": {
            n: (
                round(statistics.median(samples[n][:3]), 4)
                if samples.get(n) else -1.0
            )
            for n in timings
        },
        "sf": sf,
        "protocol": (
            "per-query median of n back-to-back runs, shared warm session; "
            "fixed control query interleaved every "
            f"{control_every} entries (SCALE.md R11 §1 decision rule)"
        ),
        "n": runs,
        "control": {
            "query": "range(150M x cpus) avg(xxhash64) pure-CPU [frozen r8]",
            "rows": control_rows,
            "cpus": int(cpus),
            "every": control_every,
            "samples": control_samples,
            "median": round(statistics.median(control_samples), 4),
            "drift_pct": drift_pct,
            "drift_trimmed_pct": drift_trimmed_pct,
            # a loaded host flags ITSELF: per-query regressions vs
            # another record are only admissible when both records
            # have admissible=true and control medians within 25%.
            # Headline gate per R11 §1 (SCALE.md): single-stall trim
            # over >=10 interleaved points, same <25% bar; the raw
            # verdict is kept beside it.
            "admissible": admissible,
            "admissible_raw": admissible_raw,
            # alias kept for cross-round tooling that compared the
            # r10-era key (round-11 advisory): trimmed verdict under
            # its own name regardless of which rule headline binds.
            "admissible_trimmed": bool(0 <= drift_trimmed_pct < 25.0),
            "rule": rule,
        },
        # Per-entry protocol notes (round-11 advisory): the
        # cosine_topk_ivf twin's fresh-index build is pre-warmed
        # untimed at session setup since r11; if the warm failed, the
        # first timed sample paid the build and per-query comparison
        # against a warmed record is apples-to-oranges.
        "warm_state": warm_state,
        "samples": samples,
    }
    # The driver captures stdout's tail, which truncated BENCH_r03.json
    # ("parsed": null) and lost the describe-family numbers from the
    # record — persist the full object to a file as well, atomically.
    # Round 15 (r14 verdict #7): the default path is NON-destructive —
    # smokes land in bench_result.latest.json (gitignored scratch);
    # only an explicit opt-in (--record argv or
    # SPARK_GRAFT_BENCH_RECORD=1) writes the committed record name, so
    # a smoke run can never clobber the committed record again.
    out_path = _resolve_out_path(sys.argv[1:], os.environ)
    try:
        tmp = out_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
        os.replace(tmp, out_path)
    except OSError as exc:  # pragma: no cover - bench robustness
        print(f"# bench result file not written: {exc}", file=sys.stderr)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()

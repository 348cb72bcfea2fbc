"""Recommended SparkSession configuration for this engine.

The operators themselves never mutate session config (a deliberate
contract — see operators/describe.py's codegen note); this module is
where the recommended settings live, applied once at session build.
``recommended_builder`` is the one builder for every session this repo
owns; each caller adds only its own overrides on top:

- ``bench.build_spark``: appName, driver memory, UI off,
  ``periodicGC``, and the ``SPARK_GRAFT_EXTRA_CONF`` A/B hook;
- ``tests/conftest.py`` (the ``spark`` fixture): appName, 4g, UI off
  on ``local[4]``, so the tests run the same Arrow
  ``toPandas``/``createDataFrame`` path as the bench;
- ``tools/job_probe.py``: the bench overrides with the UI (and its
  REST API) enabled;
- ``perfbench/worker.py``: UI off, scratch dirs, optional event log.

The one session this repo builds without it is the external driver's
replica (``tests/driver_replica.driver_builder``, also used by
``tools/plan_audit.py`` and ``tools/plan_dump.py``). The driver builds
its own bare session (local[8], 8 shuffle partitions, UTC, UI off, no
Arrow guarantee), so the replica stays bare on purpose: every twin must
hold under the session the driver actually uses, not the one we
recommend.

Rationale per setting, at the 100 TB design point:

- ``spark.sql.adaptive.enabled``: AQE re-plans shuffles at runtime —
  coalesces small partitions, splits skewed ones. Every bucketed join
  in the dedup/similarity suite (shingles, LSH bands, SimHash blocks)
  names AQE skew-splitting as its hot-key mitigation (SCALE.md).
- ``spark.sql.shuffle.partitions``: sized ~2× core count locally; on a
  real cluster leave AQE's coalescing to right-size from an
  intentionally high initial number.
- ``spark.sql.execution.arrow.pyspark.enabled``: all Python-side
  kernels (geometry WKT, shingling, SimHash) are Arrow-batched pandas
  UDFs — this is the 10-100× lever over row-at-a-time Python.
- ``spark.sql.session.timeZone=UTC``: date/timestamp statistics must be
  engine- and host-independent for oracle parity.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark 4's
  DataFrame debugging wraps EVERY DataFrame/Column API call with a
  Python stack walk plus ~4 py4j round trips (conf.get +
  PySparkCurrentOrigin.set/clear) to enrich error messages with user
  call sites. On the 25-branch media_metadata union this was 11.3k→3.7k
  py4j round trips and 2.0→1.0 s of plan build per run when disabled
  (profiled). Pure driver-side overhead, independent of core count and
  data size; the standard setting for latency-sensitive drivers.
- ``spark.sql.files.maxPartitionBytes`` is LEFT AT DEFAULT (128 MiB):
  describe's `ensure_parallelism` handles the few-split local case
  explicitly, and at cluster scale the default split size is right.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def recommended_builder(
    master: str = "local[*]", cores: int | None = None
) -> SparkSession.Builder:
    """A SparkSession builder with the engine's recommended config.
    Callers may add/override settings before ``getOrCreate()``."""
    import os

    if cores is None:
        cores = os.cpu_count() or 8
    return (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # NOTE on spark.sql.codegen.maxFields: raising it past the
        # >100-field fused describe bundle wins ~30% on narrow-table
        # profiles in isolation but regressed the full mixed workload
        # (codegen-cache churn + slower compiled form for array-heavy
        # bundles) — measured and reverted round 4; see bench.py.
    )

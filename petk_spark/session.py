"""Recommended SparkSession configuration for this engine.

The operators themselves never mutate session config (a deliberate
contract — see operators/describe.py's codegen note); this module is
where the recommended settings live, applied once at session build.
Its caller in this repo is the benchmark worker (`perfbench/worker.py`);
`bench.py` and `tests/conftest.py` build their own sessions (the test
session leaves ``spark.sql.execution.arrow.pyspark.enabled`` off).

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
        # NOTE on spark.sql.codegen.maxFields: raising it past the
        # >100-field fused describe bundle wins ~30% on narrow-table
        # profiles in isolation but regressed the full mixed workload
        # (codegen-cache churn + slower compiled form for array-heavy
        # bundles) — measured and reverted round 4; see bench.py.
    )

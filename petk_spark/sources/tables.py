"""Fixture-table reader shared by the driver contract, extensions and
bench.

events.ts is a parquet timestamp column profiled as epoch SECONDS
(double) at microsecond resolution — the same double DuckDB produces
from ``epoch_us(ts)/1e6``, keeping every events oracle bit-comparable.
The conversion is timezone-independent (``timestampdiff`` against the
NTZ epoch), so a driver session with a non-UTC session timezone cannot
shift the profile. Spark 4.1+ reads the TIMESTAMP(NANOS) column as
``timestamp_ntz``; an instant-typed (LTZ) column is also handled. The
reader never sets session config: the caller's session is left exactly
as it was.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: DuckDB expression producing the identical events.ts epoch-seconds double.
EVENTS_TS_SQL = "(CAST(epoch_us(ts) AS DOUBLE) / 1e6)"

#: Session-keyed DataFrame handles per (applicationId, sf_dir, table).
#: ``spark.read.parquet`` pays ~50-75 ms of driver work PER CALL (file
#: listing, footer schema read, source resolution over py4j) for the
#: same immutable file set — a cost a production deployment amortizes
#: through the catalog/metastore and Spark's own per-session
#: file-listing cache (``filesourcePartitionFileCacheSize``, guide §6).
#: The memo caches the lazy PLAN HANDLE only: no rows, no results, no
#: materialized state — every action against it re-reads the parquet
#: from disk. Keyed by applicationId so a new session (new JVM,
#: regenerated testdata) never sees a stale handle; each call evicts
#: the handles of every other applicationId, so a dead session's plans
#: are not kept alive. Guarded by ``_READ_LOCK``: read_table is called
#: from pool threads. (Round 17.)
_READ_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_READ_LOCK = threading.Lock()


def read_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, table)
    with _READ_LOCK:
        for stale in [k for k in _READ_CACHE if k[0] != app_id]:
            del _READ_CACHE[stale]
        got = _READ_CACHE.get(key)
        if got is None:
            got = _READ_CACHE[key] = _read_table(spark, sf_dir, table)
    return got


def _read_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "events":
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        dtype = dict(df.dtypes).get("ts")
        if dtype == "timestamp_ntz":  # naive micros — diff vs NTZ epoch
            ts = (
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                ).cast("double")
                / F.lit(1e6)
            )
        else:  # instant (LTZ) micros — absolute offset from UTC epoch
            ts = F.expr("unix_micros(ts)").cast("double") / F.lit(1e6)
        return df.withColumn("ts", ts)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")

"""Environment-drift smoke test — runs FIRST in the suite (filename
sorts before every other test module).

The driver regenerates /root/testdata between rounds and has bumped
pyspark before; both times the symptom was the SAME two hash-red
correctness rows on the most events.ts-derived queries while everything
reproduced green locally (VERDICT r3 §What's wrong #1). This test
codifies the drift check: Spark's read_table('events').ts (epoch-seconds
double) must be bit-equal to DuckDB's epoch_us(ts)/1e6 on sampled rows.
If the parquet timestamp encoding drifts again (nanos vs micros, NTZ vs
LTZ), this fails as ONE obvious assertion instead of two opaque
hash-red monitor rows.
"""

import os

import duckdb
import pytest

from petk_spark.sources import tables
from petk_spark.sources.tables import EVENTS_TS_SQL, read_table

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="no testdata"
)
def test_events_ts_matches_duckdb_epoch(spark):
    sdf = read_table(spark, SF_DIR, "events")
    assert dict(sdf.dtypes)["ts"] == "double"
    srows = {
        r["event_id"]: r["ts"]
        for r in sdf.select("event_id", "ts").orderBy("event_id").limit(5).collect()
    }

    con = duckdb.connect()
    drows = dict(
        con.execute(
            f"SELECT event_id, {EVENTS_TS_SQL} FROM "
            f"read_parquet('{SF_DIR}/events.parquet') ORDER BY event_id LIMIT 5"
        ).fetchall()
    )
    assert srows == drows, (
        f"events.ts drift: spark={srows} duckdb={drows} — "
        "testdata or pyspark changed encoding; fix sources/tables.py branches"
    )


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="no testdata"
)
def test_events_ts_has_no_nulls_assumption(spark):
    """The declared sessionize query drops NULL-ts rows (engine null-sort
    divergence); record how many the current snapshot has so a drifted
    snapshot with nulls shows up here, visibly, not as a hash flap."""
    n = read_table(spark, SF_DIR, "events").filter("ts IS NULL").count()
    assert n == 0, f"events.ts now has {n} NULLs — sessionize drops them by design"


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="no testdata"
)
def test_read_table_leaves_session_conf_alone(spark):
    """Operators never mutate the caller's session config: reading
    events must not flip ``nanosAsLong`` (or anything else). A child
    session starts from the default conf, and the memo is cleared so
    the read really happens."""
    session = spark.newSession()
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = session.conf.get(key)
    with tables._READ_LOCK:
        tables._READ_CACHE.clear()
    sdf = read_table(session, SF_DIR, "events")
    assert session.conf.get(key) == before
    assert dict(sdf.dtypes)["ts"] == "double"


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="no testdata"
)
def test_read_table_evicts_dead_sessions(spark):
    """Memoized handles of other applicationIds (dead sessions) are
    dropped on the next read instead of being kept forever."""
    stale = ("app-dead-session", SF_DIR, "events")
    handle = read_table(spark, SF_DIR, "events")
    with tables._READ_LOCK:
        tables._READ_CACHE[stale] = handle
    read_table(spark, SF_DIR, "events")
    assert stale not in tables._READ_CACHE
    assert (spark.sparkContext.applicationId, SF_DIR, "events") in tables._READ_CACHE


def test_bench_out_path_defaults_are_non_destructive():
    """Round 15 (r14 verdict #7): a bench smoke must never clobber the
    committed bench_result.json by default — only --record /
    SPARK_GRAFT_BENCH_RECORD=1 / an explicit SPARK_GRAFT_BENCH_OUT
    reaches the record name."""
    import bench

    assert bench._resolve_out_path([], {}).endswith(
        "bench_result.latest.json"
    )
    assert bench._resolve_out_path(["--record"], {}).endswith(
        "bench_result.json"
    )
    assert bench._resolve_out_path(
        [], {"SPARK_GRAFT_BENCH_RECORD": "1"}
    ).endswith("bench_result.json")
    assert not bench._resolve_out_path(
        [], {"SPARK_GRAFT_BENCH_RECORD": "0"}
    ).endswith("/bench_result.json")
    assert bench._resolve_out_path(
        ["--record"], {"SPARK_GRAFT_BENCH_OUT": "/tmp/x.json"}
    ) == "/tmp/x.json"

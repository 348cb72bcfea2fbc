"""Round-17 value-tiebreak fast path (describe._value_tiebreak_sql):
the exact-describe histogram elides the per-row string render for
types whose double projection is provably injective, and keeps it
EXACTLY for the values that can collide in double — longs beyond
2^53 and far-future timestamps. These tests pin the boundary: the
fast path must never collapse genuinely distinct values."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from petk_spark.operators.describe import (
    _MAX_EXACT_EPOCH_S,
    _MAX_EXACT_LONG,
    _WINDOWED_MAX_BYTES,
    describe_frame,
    source_bytes,
)


def _stat(df, column, statistic):
    rows = describe_frame(df, exact=True, include_mad=False).collect()
    vals = {
        (r["column"], r["statistic"]): (r["value_num"], r["value_str"])
        for r in rows
    }
    return vals[(column, statistic)][0]


def test_longs_beyond_2_53_stay_distinct(spark):
    # 2^53 and 2^53+1 collapse to the same double; the gated render
    # must keep them distinct (petk nunique counts exact values).
    big = _MAX_EXACT_LONG
    assert float(big) == float(big + 1)  # the collision being guarded
    df = spark.createDataFrame(
        [(big,), (big + 1,), (big + 2,), (-big - 1,), (None,)], "v long"
    )
    assert _stat(df, "v", "distinct_count") == 4
    assert _stat(df, "v", "count") == 4


def test_small_longs_use_empty_tiebreak_but_count_exactly(spark):
    df = spark.createDataFrame(
        [(1,), (2,), (2,), (3,), (None,)], "v long"
    )
    assert _stat(df, "v", "distinct_count") == 3
    assert _stat(df, "v", "50%") == 2.0


def test_far_future_timestamps_stay_distinct(spark):
    # Find micros m beyond the injective window where m/1e6 and
    # (m+1)/1e6 round to the same double — the collision the gate's
    # render branch exists for.
    m = int(_MAX_EXACT_EPOCH_S * 1e6) + 10_000_000
    while (m / 1e6) != ((m + 1) / 1e6):
        m += 1
    ts0 = datetime.datetime.utcfromtimestamp(0)
    a = ts0 + datetime.timedelta(microseconds=m)
    b = ts0 + datetime.timedelta(microseconds=m + 1)
    df = spark.createDataFrame([(a,), (b,)], "t timestamp")
    assert _stat(df, "t", "distinct_count") == 2


def test_double_fast_path_nan_null_zero(spark):
    # Doubles group on the normalized double itself: one NaN class,
    # nulls excluded, zeros counted; quantiles/min/max unchanged.
    df = spark.createDataFrame(
        [(0.0,), (1.5,), (1.5,), (float("nan"),), (float("nan"),), (None,)],
        "v double",
    )
    assert _stat(df, "v", "distinct_count") == 3  # 0.0, 1.5, NaN
    assert _stat(df, "v", "count") == 5
    assert _stat(df, "v", "n_zeros") == 1


def test_rank_strategies_agree_on_gated_types(spark, tmp_path):
    # The windowed and bucketed rank paths must agree on a frame that
    # exercises both tiebreak branches (gated longs + empty strings).
    # The size gate picks the path: a small parquet source takes the
    # windowed one, an in-memory frame (size unknown) the bucketed one.
    big = _MAX_EXACT_LONG
    df = spark.createDataFrame(
        [(big,), (big + 1,), (7,), (7,), (None,)], "v long"
    )
    df.write.parquet(str(tmp_path / "v"))
    small = spark.read.parquet(str(tmp_path / "v"))
    assert source_bytes(small) < _WINDOWED_MAX_BYTES
    assert source_bytes(df) is None
    rows = {}
    for strat, frame in (("windowed", small), ("bucketed", df)):
        out = describe_frame(frame, exact=True, include_mad=False).collect()
        rows[strat] = sorted(
            (r["column"], r["statistic"], r["value_num"], r["value_str"])
            for r in out
        )
    assert rows["windowed"] == rows["bucketed"]

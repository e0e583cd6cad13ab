"""Time/window kernel tests (SURVEY.md §5.1): boundary cases from the
reference's behavior — day-boundary clamp, day-span rejection,
floor/ceil/round, spine invariants (self-verified by our own W1/W2
detectors — the property-test pair from SURVEY §5.4)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_pipeline_001_spark.functions import time_fns as T
from data_pipeline_001_spark.operators.windows import check_continuity, detect_overlaps


def test_parse_duration_composite():
    assert T.parse_duration_seconds("1d2h30m45s") == 86400 + 7200 + 1800 + 45
    assert T.parse_duration_seconds("45m") == 2700
    with pytest.raises(ValueError):
        T.parse_duration_seconds("nonsense")
    with pytest.raises(ValueError):
        T.parse_duration_seconds("1h30")  # trailing garbage


def test_granularity_rejects_day_span():
    # reference rejects >= 1 day windows (time_utils.py:191-192)
    with pytest.raises(ValueError):
        T.parse_granularity_minutes("1d")
    with pytest.raises(ValueError):
        T.parse_granularity_minutes("24h")
    assert T.parse_granularity_minutes("2h30m") == 150


def test_spine_covers_range_without_gaps_or_overlaps(spark):
    spine = T.window_spine(spark, "2024-03-01 00:00:00", "2024-03-03 00:00:00", "1h")
    rows = spine.orderBy("window_start").collect()
    assert len(rows) == 48
    assert rows[0]["window_start"] == datetime(2024, 3, 1, 0, 0)
    assert rows[-1]["window_end"] == datetime(2024, 3, 3, 0, 0)
    # self-verifying pair: our own detectors find nothing wrong
    assert check_continuity(spine).count() == 0
    assert detect_overlaps(spine).count() == 0


def test_spine_clamps_final_window(spark):
    # 90-minute windows over 4 hours: last window clamped to range end
    spine = T.window_spine(spark, "2024-03-01 00:00:00", "2024-03-01 04:00:00", "1h30m")
    rows = spine.orderBy("window_start").collect()
    assert [r["duration_minutes"] for r in rows] == [90, 90, 60]
    assert rows[-1]["window_end"] == datetime(2024, 3, 1, 4, 0)


def test_spine_drop_partial_trailing_matches_reference(spark):
    """Strict reference parity (time_utils.py:207 drops the incomplete
    final window): 90-minute windows over 4 hours yield only the two
    full windows."""
    spine = T.window_spine(
        spark,
        "2024-03-01 00:00:00",
        "2024-03-01 04:00:00",
        "1h30m",
        drop_partial_trailing=True,
    )
    rows = spine.orderBy("window_start").collect()
    assert [r["duration_minutes"] for r in rows] == [90, 90]
    assert rows[-1]["window_end"] == datetime(2024, 3, 1, 3, 0)


def test_floor_ceil_round(spark):
    df = spark.createDataFrame(
        [("2024-01-01 10:29:59",), ("2024-01-01 10:30:00",), ("2024-01-01 10:00:00",)],
        "ts string",
    ).select(F.to_timestamp("ts").alias("ts"))
    out = df.select(
        T.floor_timestamp(F.col("ts"), "hour").alias("f"),
        T.ceil_timestamp(F.col("ts"), "hour").alias("c"),
        T.round_timestamp(F.col("ts"), "hour").alias("r"),
    ).collect()
    assert out[0]["f"] == datetime(2024, 1, 1, 10)
    assert out[0]["c"] == datetime(2024, 1, 1, 11)
    assert out[0]["r"] == datetime(2024, 1, 1, 10)  # 29:59 rounds down
    assert out[1]["r"] == datetime(2024, 1, 1, 11)  # 30:00 rounds up (midpoint)
    assert out[2]["c"] == datetime(2024, 1, 1, 10)  # exact boundary: ceil = identity


def test_time_fns_resolve_on_timestamp_ntz(spark):
    """Regression (CORRECTNESS_r02 `time_floor_ceil_round` crash): the
    kernel must resolve when the input column is TIMESTAMP_NTZ — a
    caller's session may have parquet NTZ inference on, and epoch-double
    casts are illegal on NTZ. Interval arithmetic works for both types."""
    df = spark.sql(
        "select timestamp_ntz'2024-01-01 10:29:59' as a,"
        "       timestamp_ntz'2024-01-01 10:30:00' as b"
    )
    out = df.select(
        T.round_timestamp(F.col("a"), "hour").alias("ra"),
        T.round_timestamp(F.col("b"), "hour").alias("rb"),
        T.ceil_timestamp(F.col("a"), "hour").alias("ca"),
        T.diff_in_minutes(F.col("a"), F.col("b")).alias("dm"),
    ).collect()[0]
    assert out["ra"] == datetime(2024, 1, 1, 10)
    assert out["rb"] == datetime(2024, 1, 1, 11)
    assert out["ca"] == datetime(2024, 1, 1, 11)
    assert out["dm"] == pytest.approx(1 / 60)


def test_load_tables_pins_ntz_inference(spark):
    """load_tables must yield one timestamp type (TIMESTAMP, not NTZ)
    even when the caller's session left parquet NTZ inference on."""
    from pyspark.sql import types as ST

    from data_pipeline_001_spark import session as S

    prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        S._TABLE_CACHE.clear()
        t = S.load_tables(spark, "/root/testdata/sf0.001")
        assert isinstance(t["events"].schema["ts"].dataType, ST.TimestampType)
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)
        S._TABLE_CACHE.clear()


def test_diff_in_minutes_fractional(spark):
    df = spark.sql(
        "select timestamp'2024-01-01 10:00:00' as s,"
        "       timestamp'2024-01-01 10:02:30.6' as e"
    )
    out = df.select(T.diff_in_minutes(F.col("s"), F.col("e")).alias("m")).collect()
    assert out[0]["m"] == pytest.approx(2.51)


def test_rounded_past_timestamp():
    now = datetime(2024, 6, 15, 13, 47, 22)
    # '1d' → floor to day minus 1 day (state_manager.py:333-363)
    assert T.rounded_past_timestamp("1d", now) == datetime(2024, 6, 14)
    # '2h' → floor to hour minus 2h
    assert T.rounded_past_timestamp("2h", now) == datetime(2024, 6, 15, 11)
    assert T.rounded_past_timestamp("1d2h", now) == datetime(2024, 6, 13, 22)


def test_day_spine(spark):
    days = T.day_spine(spark, "2024-01-30", "2024-02-02").collect()
    assert len(days) == 4

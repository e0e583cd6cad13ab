"""The run's control plane on the driver, checked against the Spark
forms it replaced: the window spine, the F9 ids ``append_records``
computes, pending selection, and ``FileSource``'s Parquet count; and
the times and windows it stores: transition times, ``fill_gaps`` and a
``run_batch`` day, read back raw from the Parquet file. Every check
runs in this process and again under ``TZ=America/New_York``, where
Spark takes a naive datetime as New York time."""

import os
import random
import subprocess
import sys
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from data_pipeline_001_spark.functions import time_fns
from data_pipeline_001_spark.functions.hash_fns import composite_md5_id
from data_pipeline_001_spark.plans.control_table import (
    CONTROL_SCHEMA,
    ControlTable,
    default_record,
)
from data_pipeline_001_spark.plans.pipeline import PipelineConfig, WindowPipeline
from data_pipeline_001_spark.sources.file_connectors import (
    DayPartitionedTableSink,
    FileSource,
    PartitionedParquetSink,
    _lit_micros,
    window_dir_name,
    window_predicate,
)

DAY = datetime(2024, 1, 2)
DAY_END = datetime(2024, 1, 3)


def _pipe(spark, tmp_path, name="plan", granularity="6h", runs=4, target=PartitionedParquetSink):
    return WindowPipeline(
        spark,
        PipelineConfig(pipeline_name=name, granularity=granularity, max_pipeline_runs=runs),
        FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts"),
        PartitionedParquetSink(spark, str(tmp_path / f"{name}_stage")),
        target(spark, str(tmp_path / f"{name}_target")),
        ControlTable(spark, str(tmp_path / f"{name}_control")),
    )


def _spark_ids(df):
    """The Spark form of ``append_records``' F9 ids."""
    df = df.withColumn(
        "unique_source_id",
        composite_md5_id(
            {
                "pipeline_name": F.col("pipeline_name"),
                "source_name": F.col("source_name"),
                "window_start": F.col("source_query_window_start_time"),
                "window_end": F.col("source_query_window_end_time"),
            }
        ),
    )
    return df.withColumn(
        "unique_run_id",
        composite_md5_id(
            {"source_id": F.col("unique_source_id"), "inserted": F.col("record_first_inserted_time")}
        ),
    )


# --------------------------------------------------------------------------
# planning
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "start,end,granularity,tz",
    [
        (DAY, DAY_END, "6h", "UTC"),
        (datetime(2024, 1, 2, 0, 20), datetime(2024, 1, 2, 5, 10, 30), "1h", "UTC"),  # clamped
        (datetime(2024, 1, 2, 0, 0, 0, 250), datetime(2024, 1, 2, 2), "45m", "UTC"),
        (DAY, DAY + timedelta(minutes=30), "1h", "UTC"),  # one clamped window
        (datetime(2024, 3, 10), datetime(2024, 3, 11), "1h", "America/Los_Angeles"),  # 23 h
        (datetime(2024, 11, 3), datetime(2024, 11, 4), "1h", "America/Los_Angeles"),  # 25 h
        (
            datetime(2024, 1, 2, tzinfo=timezone(timedelta(hours=-5))),
            datetime(2024, 1, 2, 12, tzinfo=timezone.utc),
            "2h",
            "UTC",
        ),
    ],
)
def test_window_bounds_equal_window_spine(spark, start, end, granularity, tz):
    with time_fns.session_timezone(spark, tz):
        spine = time_fns.window_spine(spark, start, end, granularity).collect()
        bounds = time_fns.window_bounds(
            start, end, granularity, time_fns.session_tzinfo(spark)
        )
    # window_spine's rows come back as local time; compare instants
    expected = [
        (r["window_start"].astimezone(timezone.utc), r["window_end"].astimezone(timezone.utc))
        for r in spine
    ]
    got = [(s.replace(tzinfo=timezone.utc), e.replace(tzinfo=timezone.utc)) for s, e in bounds]
    assert got == expected


def test_append_ids_equal_composite_md5_id(spark, tmp_path):
    """``append_records`` hashes on the driver what ``composite_md5_id``
    hashes in Spark, for whole-second and microsecond insert times and
    window bounds."""
    rows = []
    for i, inserted in enumerate(
        [datetime(2024, 5, 1, 12, 0, 0), datetime(2024, 5, 1, 12, 0, 0, 500000),
         datetime(2024, 5, 1, 12, 0, 1, 123456), datetime(2024, 5, 1, 12, 0, 2, 120)]
    ):
        start = DAY + timedelta(hours=i, microseconds=7 * i)
        rec = default_record(
            "ids", ("events", "file", "parquet"), ("target", "file", "parquet"),
            start, start + timedelta(hours=1), stage_path=window_dir_name(start),
        )
        rec["record_first_inserted_time"] = inserted
        rows.append(rec)
    table = ControlTable(spark, str(tmp_path / "control"))
    table.append_records(rows)
    got = [
        (r["unique_source_id"], r["unique_run_id"])
        for r in table.read().orderBy("source_query_window_start_time").collect()
    ]
    expected = [
        (r["unique_source_id"], r["unique_run_id"])
        for r in _spark_ids(spark.createDataFrame(rows, CONTROL_SCHEMA))
        .orderBy("source_query_window_start_time")
        .collect()
    ]
    assert got == expected
    assert len(set(got)) == len(rows)


def test_populate_over_a_spark_planned_table_adds_nothing(spark, tmp_path):
    """A table planned by the Spark path (``window_spine`` + Spark ids)
    holds the same windows and ids the driver plans, so re-running
    ``populate`` over it inserts no duplicate."""
    pipe = _pipe(spark, tmp_path)
    spine = time_fns.window_spine(spark, DAY, DAY_END, "6h").collect()
    records = [
        default_record(
            "plan", ("events", "file", "parquet"), ("target", "file", "parquet"),
            r["window_start"], r["window_end"], stage_path=window_dir_name(r["window_start"]),
        )
        for r in spine
    ]
    _spark_ids(spark.createDataFrame(records, CONTROL_SCHEMA)).write.parquet(pipe.control.path)
    spark_planned = pipe.control.read().collect()

    assert pipe.populate(DAY, DAY_END) == 0
    assert pipe.populate(DAY, DAY_END + timedelta(hours=6)) == 1

    fresh = _pipe(spark, tmp_path / "fresh")
    assert fresh.populate(DAY, DAY_END) == len(spine)

    def plan(rows):
        return sorted(
            (r["unique_source_id"], r["source_query_window_start_time"],
             r["source_query_window_end_time"], r["stage_name"])
            for r in rows
        )

    assert plan(fresh.control.read().collect()) == plan(spark_planned)


@pytest.mark.slow
def test_run_matches_every_window_in_spark_pending_order(spark, tmp_path):
    """``run()`` completes and matches every window, and
    ``pending_records()`` returns the ids and bounds the Spark path
    (``read()`` + ``orderBy`` + ``limit``) selects, in its order."""
    pipe = _pipe(spark, tmp_path, granularity="3h", runs=5)
    pipe.populate(DAY, DAY_END)
    boundary = time_fns.rounded_past_timestamp(pipe.config.x_time_back)
    spark_path = (
        pipe.control.read()
        .where(
            (F.col("pipeline_name") == "plan")
            & (F.col("pipeline_status") == "pending")
            & (F.col("source_query_window_start_time") <= F.lit(boundary))
        )
        .orderBy(
            F.col("source_query_window_start_time").asc(),
            F.col("pipeline_retry_count").desc(),
            F.col("pipeline_priority").asc(),
        )
        .limit(5)
        .collect()
    )

    def keys(rows):
        return [
            (r["unique_source_id"], r["source_query_window_start_time"],
             r["source_query_window_end_time"])
            for r in rows
        ]

    assert keys(pipe.pending_records()) == keys(spark_path)
    assert len(spark_path) == 5

    pipe.config.max_pipeline_runs = 8
    result = pipe.run(DAY, DAY_END)
    assert (result.processed, result.completed) == (8, 8)
    rows = pipe.control.read().collect()
    assert len(rows) == 8
    for r in rows:
        assert r["count_match_status"] == "matched"
        assert r["source_count"] == r["target_count"]
    first = min(r["source_query_window_start_time"] for r in rows)
    last = max(r["source_query_window_end_time"] for r in rows)
    assert sum(r["source_count"] for r in rows) == _spark_count(pipe.source, first, last) > 0


# --------------------------------------------------------------------------
# stored times and windows, in any local time zone
# --------------------------------------------------------------------------

UTC_DAY = DAY.replace(tzinfo=timezone.utc)


def _stored(control):
    """The control rows as the Parquet file holds them (naive UTC),
    ordered by window start."""
    table = pq.read_table(control.path, coerce_int96_timestamp_unit="us")
    return sorted(table.to_pylist(), key=lambda r: r["source_query_window_start_time"])


def _tiled(rows, hours):
    """The stored windows start at ``hours`` on DAY (UTC) and each ends
    where the next starts."""
    assert [r["source_query_window_start_time"] for r in rows] == [
        DAY + timedelta(hours=h) for h in hours
    ]
    for r, nxt in zip(rows, rows[1:]):
        assert r["source_query_window_end_time"] == nxt["source_query_window_start_time"]


def test_transition_times_are_stored_in_utc(spark, tmp_path):
    """A claim stores the real UTC time; a fresh claim counts as a
    running window and one two hours old is reaped."""
    pipe = _pipe(spark, tmp_path)
    pipe.populate(DAY, DAY_END)
    sid = _stored(pipe.control)[0]["unique_source_id"]
    pipe.control.claim([sid])
    started = [r for r in _stored(pipe.control) if r["unique_source_id"] == sid][0][
        "pipeline_start_time"
    ]
    now = datetime.now(timezone.utc)
    assert abs(started - now.replace(tzinfo=None)) < timedelta(minutes=1)
    assert pipe.validate_in_progress() == (1, 0)
    assert pipe.validate_in_progress(now + timedelta(hours=2)) == (0, 1)


def test_fill_gaps_restores_the_window_at_its_instant(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.populate(DAY, DAY_END)
    victim = _stored(pipe.control)[2]
    assert victim["source_query_window_start_time"] == DAY + timedelta(hours=12)
    pipe.control.delete_records([victim["unique_source_id"]])
    assert pipe.fill_gaps() == 1
    rows = _stored(pipe.control)
    _tiled(rows, [0, 6, 12, 18])
    assert rows[2]["unique_source_id"] == victim["unique_source_id"]


def _last_pending_start(pipe, now=None):
    """The UTC instant of the newest window ``pending_records`` selects."""
    return max(r["source_query_window_start_time"] for r in pipe.pending_records(now)).astimezone(
        timezone.utc
    )


def test_pending_boundary_floors_now_in_utc(spark, tmp_path):
    """The safe boundary is ``now`` floored to the UTC day, minus
    ``x_time_back``: at 2024-01-03 11:30 UTC with "1d" it is 2024-01-02
    00:00, whether ``now`` is aware or naive (taken as UTC) or the
    default."""
    pipe = _pipe(spark, tmp_path, granularity="1h", runs=100)
    pipe.populate(DAY - timedelta(days=1), DAY_END)
    for now in (datetime(2024, 1, 3, 11, 30, tzinfo=timezone.utc), datetime(2024, 1, 3, 11, 30)):
        assert _last_pending_start(pipe, now) == UTC_DAY

    today = datetime.now(timezone.utc).replace(hour=0, minute=0, second=0, microsecond=0)
    live = _pipe(spark, tmp_path, name="live", granularity="1h", runs=100)
    live.populate(today - timedelta(days=2), today + timedelta(days=1))
    before = datetime.now(timezone.utc).replace(hour=0, minute=0, second=0, microsecond=0)
    got = _last_pending_start(live)
    after = datetime.now(timezone.utc).replace(hour=0, minute=0, second=0, microsecond=0)
    assert got in (before - timedelta(days=1), after - timedelta(days=1))


def test_sink_paths_name_the_session_wall_time(spark, tmp_path):
    """The stored 2024-01-02 00:00 UTC window is ``2024-01-02/00-00`` in
    the stage and ``window_day=2024-01-02/window_start=00-00`` in the
    table, given as an instant or as the local time ``collect()``
    returns; the run's copy, the planned stage path and the audit's
    recount of a ``run_batch`` day agree. Under a New York session the
    partition is the one Spark's ``to_date``/``date_format`` give that
    instant."""
    pipe = _pipe(spark, tmp_path, name="paths", target=DayPartitionedTableSink)
    stage, table = pipe.stage_sink, pipe.target_sink
    pipe.populate(DAY, DAY_END)
    (first, *_) = pipe.pending_records()
    for start in (UTC_DAY, first["source_query_window_start_time"]):
        assert stage._window_path(start) == os.path.join(stage.root, "2024-01-02", "00-00")
        assert table._partition_path(start) == os.path.join(
            table.root, "window_day=2024-01-02", "window_start=00-00"
        )
    assert _stored(pipe.control)[0]["stage_name"] == "2024-01-02/00-00"

    assert pipe.run_window(first) == "completed"
    assert os.path.isdir(os.path.join(stage.root, "2024-01-02", "00-00"))
    assert os.listdir(table.root) == ["window_day=2024-01-02"]
    assert os.listdir(os.path.join(table.root, "window_day=2024-01-02")) == ["window_start=00-00"]

    batch = _pipe(spark, tmp_path, name="paths_batch", target=DayPartitionedTableSink)
    batch.run_batch(DAY, DAY_END)
    for r in batch.control.read().collect():
        start, end = r["source_query_window_start_time"], r["source_query_window_end_time"]
        assert r["pipeline_status"] == "completed"
        assert batch.target_sink.count(start, end) == r["source_count"] > 0

    with time_fns.session_timezone(spark, "America/New_York"):
        day, hhmm = spark.range(1).select(
            F.to_date(F.lit(UTC_DAY)), F.date_format(F.lit(UTC_DAY), "HH-mm")
        ).first()
        assert table._partition_path(UTC_DAY) == os.path.join(
            table.root, f"window_day={day}", f"window_start={hhmm}"
        )
        assert (str(day), hhmm) == ("2024-01-01", "19-00")


def test_run_stage_paths_name_the_session_wall_time(spark, tmp_path):
    """A run's one stage write puts each window in the directory
    ``window_dir_name`` gives its stored instant, and the target copy
    follows it: the day's four windows are ``2024-01-02/00-00`` to
    ``18-00`` in any local time zone."""
    pipe = _pipe(spark, tmp_path, name="run_paths")
    assert pipe.run(DAY, DAY_END).completed == 4
    tz = time_fns.session_tzinfo(spark)
    names = [
        window_dir_name(r["source_query_window_start_time"].replace(tzinfo=timezone.utc), tz)
        for r in _stored(pipe.control)
    ]
    assert names == [f"2024-01-02/{h:02d}-00" for h in (0, 6, 12, 18)]
    assert [r["stage_name"] for r in _stored(pipe.control)] == names
    for sink in (pipe.stage_sink, pipe.target_sink):
        assert sorted(
            f"{day}/{hhmm}" for day in os.listdir(sink.root) for hhmm in os.listdir(
                os.path.join(sink.root, day)
            )
        ) == names


@pytest.mark.slow
def test_run_batch_completes_a_day(spark, tmp_path):
    """A naive plan bound is a session-time wall time for the tagging
    and the audit as for the plan, so every window matches."""
    pipe = _pipe(spark, tmp_path, name="batch", target=DayPartitionedTableSink)
    pipe.run_batch(DAY, DAY_END)
    rows = _stored(pipe.control)
    _tiled(rows, [0, 6, 12, 18])
    for r in rows:
        assert (r["pipeline_status"], r["count_match_status"]) == ("completed", "matched")
        assert r["source_count"] == r["target_count"]
    day = pipe.source.count(UTC_DAY, UTC_DAY + timedelta(days=1))
    assert sum(r["source_count"] for r in rows) == day > 0
    assert pipe.target_sink.read_all().count() == day


# --------------------------------------------------------------------------
# FileSource.count on the driver
# --------------------------------------------------------------------------

BASE = datetime(2024, 1, 2, 6)
WINDOWS = [(BASE + timedelta(hours=h), BASE + timedelta(hours=h + 1)) for h in range(-1, 4)]


def _us(value: datetime) -> int:
    """The instant ``F.lit`` gives a naive datetime, in µs."""
    return int(value.timestamp()) * 1_000_000 + value.microsecond


def _events(n=400, seed=3):
    """Timestamps in µs: random ones over the windows plus, for each
    window bound, one on it and one a microsecond either side of it."""
    rng = random.Random(seed)
    lo, hi = _us(WINDOWS[0][0]) - 3_600_000_000, _us(WINDOWS[-1][1]) + 3_600_000_000
    values = [rng.randrange(lo, hi) for _ in range(n)]
    for start, _ in WINDOWS + [(WINDOWS[-1][1], None)]:
        values += [_us(start) - 1, _us(start), _us(start) + 1]
    rng.shuffle(values)
    return values


def _write(path, ts, row_group_size=None, **cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"ts": ts, **cols}), path, row_group_size=row_group_size)


def _spark_count(src, start, end):
    return src._read().where(window_predicate(src.ts_col, start, end)).count()


def _assert_driver_counts(src, windows=WINDOWS):
    for start, end in windows:
        got = src._driver_count(start, end)
        assert got is not None, "the driver path was not taken"
        assert got == _spark_count(src, start, end), (start, end)


def test_driver_count_microseconds_unsorted_row_groups(spark, tmp_path):
    path = str(tmp_path / "us" / "part-0.parquet")
    _write(path, pa.array(_events(), pa.timestamp("us")), row_group_size=64)
    assert pq.ParquetFile(path).metadata.num_row_groups > 4
    _assert_driver_counts(FileSource(spark, os.path.dirname(path)))


def test_driver_count_nanoseconds(spark, tmp_path):
    """TIMESTAMP(NANOS): Spark truncates to µs, so a value a nanosecond
    before a bound counts in the window before it."""
    ns = []
    for v in _events():
        ns += [v * 1000, v * 1000 - 1, v * 1000 + 999]
    path = str(tmp_path / "ns" / "part-0.parquet")
    _write(path, pa.array(ns, pa.timestamp("ns")), row_group_size=200)
    _assert_driver_counts(FileSource(spark, os.path.dirname(path)))


def test_nanosecond_column_named_like_elasticsearch_extracts(spark, tmp_path):
    """A TIMESTAMP(NANOS) column whose name is no SQL identifier
    (``@timestamp``) is read, extracted and counted like ``ts``."""
    root = tmp_path / "at"
    root.mkdir()
    values = pa.array([v * 1000 for v in _events()], pa.timestamp("ns"))
    pq.write_table(pa.table({"@timestamp": values}), str(root / "part-0.parquet"))
    src = FileSource(spark, str(root), ts_col="@timestamp")
    _assert_driver_counts(src)
    start, end = WINDOWS[1]
    assert src.extract(start, end).count() == src.count(start, end) > 0


@pytest.mark.parametrize("unit,tz", [("us", "UTC"), ("ms", "America/New_York"), ("ns", "UTC")])
def test_driver_count_time_zone_aware_column(spark, tmp_path, unit, tz):
    values = pa.array([v * 1000 for v in _events()], pa.timestamp("ns", tz=tz))
    path = str(tmp_path / unit / "part-0.parquet")
    _write(path, values.cast(pa.timestamp(unit, tz=tz), safe=False))
    src = FileSource(spark, os.path.dirname(path))
    _assert_driver_counts(src)
    # an aware window bound is the instant it names
    _assert_driver_counts(
        src, [(s.replace(tzinfo=timezone.utc), e.replace(tzinfo=timezone.utc)) for s, e in WINDOWS]
    )


def test_driver_count_excludes_null_fields(spark, tmp_path):
    ts = _events()
    n = len(ts)
    path = str(tmp_path / "nulls" / "part-0.parquet")
    _write(
        path,
        pa.array([None if i % 11 == 0 else v for i, v in enumerate(ts)], pa.timestamp("us")),
        row_group_size=100,
        user_id=pa.array([None if i % 3 == 0 else i for i in range(n)], pa.int64()),
        event_type=pa.array([None if i % 5 == 0 else "view" for i in range(n)]),
    )
    root = os.path.dirname(path)
    _assert_driver_counts(FileSource(spark, root))
    _assert_driver_counts(FileSource(spark, root, must_exist=("user_id",)))
    _assert_driver_counts(
        FileSource(spark, root, must_exist=("user_id",), exclude_null=("event_type",))
    )


def test_driver_count_hive_partitions_and_hidden_files(spark, tmp_path):
    """One partition written by pyarrow, one by Spark (INT96, with its
    ``_SUCCESS`` and ``.crc`` files), plus stray hidden files."""
    root = tmp_path / "hive"
    ts = _events()
    _write(str(root / "region=0" / "part-0.parquet"), pa.array(ts[::2], pa.timestamp("us")))
    _write(str(tmp_path / "odd" / "part-0.parquet"), pa.array(ts[1::2], pa.timestamp("us")))
    spark.read.parquet(str(tmp_path / "odd")).write.parquet(str(root / "region=1"))
    assert any(n.endswith(".crc") for n in os.listdir(root / "region=1"))
    (root / "_SUCCESS").write_text("")
    (root / "region=0" / ".orphan.parquet.crc").write_bytes(b"not parquet")
    (root / "region=0" / "_committed_123").write_text("{}")
    _assert_driver_counts(FileSource(spark, str(root)))


def test_driver_count_sees_a_file_added_after_the_first_read(spark, tmp_path):
    root = tmp_path / "grow"
    ts = _events()
    _write(str(root / "a.parquet"), pa.array(ts, pa.timestamp("us")))
    src = FileSource(spark, str(root))
    before = src.count(*WINDOWS[1])
    _write(str(root / "b.parquet"), pa.array(ts, pa.timestamp("us")))
    assert src.count(*WINDOWS[1]) == 2 * before > 0
    _assert_driver_counts(src)


def test_source_past_one_split_counts_on_the_driver(spark, tmp_path):
    """A window whose row groups outgrow one Spark input split is still
    counted on the driver, one file or many, and the count is Spark's."""
    root = tmp_path / "big"
    ts = _events(4000)
    _write(str(root / "part-0.parquet"), pa.array(ts, pa.timestamp("us")), row_group_size=500)
    for i in range(1, 9):
        _write(str(root / f"part-{i}.parquet"), pa.array(ts[i::9], pa.timestamp("us")))
    src = FileSource(spark, str(root))
    key = "spark.sql.files.maxPartitionBytes"
    previous = spark.conf.get(key)
    spark.conf.set(key, "4k")
    try:
        _assert_driver_counts(src, WINDOWS + [(WINDOWS[0][0], WINDOWS[-1][1])])
    finally:
        spark.conf.set(key, previous)


def test_time_zone_free_column_read_as_ntz_counts_in_spark(spark, tmp_path):
    """With NTZ inference on, Spark reads a time zone-free column as
    wall times in the session time zone; that count stays Spark's."""
    path = str(tmp_path / "ntz" / "part-0.parquet")
    _write(path, pa.array(_events(), pa.timestamp("us")))
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    previous = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        src = FileSource(spark, os.path.dirname(path))
        start, end = WINDOWS[1]
        assert src._driver_count(start, end) is None
        assert src.count(start, end) == _spark_count(src, start, end) > 0
        assert src._driver_count(start, end) is None  # the resolved schema says NTZ
    finally:
        spark.conf.set(key, previous)


@pytest.mark.parametrize("aware", [False, True], ids=["naive", "aware"])
@pytest.mark.parametrize("picked", [slice(None), slice(None, None, 2)], ids=["adjacent", "apart"])
def test_extract_windows_tags_equal_a_union_of_extracts(spark, tmp_path, aware, picked):
    """``extract_windows``' one filter and ``CASE`` tag give each window
    the rows its own ``extract`` gives, rows on and a microsecond either
    side of every bound included."""
    from functools import reduce

    from data_pipeline_001_spark.sources.base import WINDOW_INDEX

    path = str(tmp_path / "tags" / "part-0.parquet")
    _write(path, pa.array(_events(), pa.timestamp("us")), row_group_size=64)
    src = FileSource(spark, os.path.dirname(path))
    bounds = WINDOWS[picked]
    if aware:
        ny = timezone(timedelta(hours=-5))
        bounds = [(s.astimezone(timezone.utc), e.astimezone(ny)) for s, e in bounds]
    union = reduce(
        lambda a, b: a.unionAll(b),
        [src.extract(s, e).withColumn(WINDOW_INDEX, F.lit(i)) for i, (s, e) in enumerate(bounds)],
    )

    def tagged(df):
        return sorted(tuple(r) for r in df.select("ts", WINDOW_INDEX).collect())

    got = tagged(src.extract_windows(bounds))
    assert got == tagged(union)
    assert {i for _, i in got} == set(range(len(bounds)))


def test_window_bounds_are_the_instants_lit_gives(spark):
    """``_lit_micros`` is the instant ``F.lit`` gives a naive (local
    time, a DST change included) or an aware datetime, and the SQL
    predicate quotes its column name."""
    values = [
        datetime(2024, 1, 2, 6, 0, 0, 1),
        datetime(2024, 3, 10, 2, 30),
        datetime(2024, 11, 3, 1, 30, 0, 999999),
        datetime(1969, 12, 31, 23, 59, 59, 500000),
        datetime(2024, 1, 2, 6, tzinfo=timezone.utc),
        datetime(2024, 7, 1, 12, 0, 0, 250, tzinfo=timezone(timedelta(hours=5, minutes=30))),
    ]
    row = spark.range(1).select(*(F.unix_micros(F.lit(v)) for v in values)).first()
    assert [_lit_micros(v) for v in values] == list(row)

    start, end = WINDOWS[1]
    df = spark.createDataFrame([(start - timedelta(microseconds=1),), (start,), (end,)], ["t`s"])
    assert df.where(window_predicate("t`s", start, end)).count() == 1


@pytest.mark.slow
def test_checks_hold_under_new_york_time(repo_root):
    """Every check of this module again, in a process whose local time
    is New York's: naive datetimes move five hours against UTC."""
    if os.environ.get("TZ") == "America/New_York":
        pytest.skip("this process is the New York run")
    env = {**os.environ, "TZ": "America/New_York", "SPARK_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         os.path.abspath(__file__), "-k", "not new_york"],
        cwd=repo_root,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-2000:]
    assert " passed" in proc.stdout

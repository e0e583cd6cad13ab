"""``run_batch``: ``run()`` over every window of a plan, into the
window-partitioned target table. Its control rows and target equal a
``run()`` of the same day; a rerun of a completed plan does nothing."""

from datetime import datetime

import pyarrow as pa
import pytest
from conftest import spark_jobs

pytestmark = pytest.mark.slow  # lane 2: see pytest.ini
from pyspark.sql import functions as F

from data_pipeline_001_spark.plans.control_table import ControlTable
from data_pipeline_001_spark.plans.pipeline import PipelineConfig, WindowPipeline
from data_pipeline_001_spark.sources.file_connectors import (
    DayPartitionedTableSink,
    FileSource,
    MockAsyncSink,
    PartitionedParquetSink,
)

SF_DIR = "/root/testdata/sf0.001"
DAY = datetime(2024, 1, 2)
DAY_END = datetime(2024, 1, 4)  # two days → 8 six-hour windows


@pytest.fixture()
def batch_pipe(spark, tmp_path):
    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = DayPartitionedTableSink(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(pipeline_name="batch", granularity="6h", tolerance_pct=1.0)
    return WindowPipeline(spark, cfg, source, stage, target, control)


def test_run_batch_completes_all_windows(batch_pipe, spark):
    audit = batch_pipe.run_batch(DAY, DAY_END).collect()
    assert len(audit) == 8
    for r in audit:
        assert r["source_count"] == r["target_count"] > 0

    ct = batch_pipe.control.read().collect()
    assert len(ct) == 8
    for r in ct:
        assert r["pipeline_status"] == "completed", r["source_query_window_start_time"]
        assert r["completed_stage_number"] == 4
        assert r["count_match_status"] == "matched"
        assert r["source_count"] == r["target_count"]

    # total rows match the source window exactly
    total_target = batch_pipe.target_sink.read_all().count()
    assert total_target == batch_pipe.source.count(DAY, DAY_END)


def test_run_batch_completes_windows_with_no_rows(batch_pipe):
    """Planned windows the source has no rows for audit 0 = 0 and
    complete, as ``run_window`` completes them: the four 6 h windows
    of 2024-01-31, after sf0.001's last event."""
    audit = batch_pipe.run_batch(datetime(2024, 1, 30), datetime(2024, 2, 1)).collect()
    assert len(audit) == 8
    rows = batch_pipe.control.read().collect()
    assert len(rows) == 8
    empty = [r for r in rows if r["source_query_window_start_time"] >= datetime(2024, 1, 31)]
    assert len(empty) == 4
    for r in empty:
        assert (r["pipeline_status"], r["count_match_status"]) == (
            "completed",
            "matched",
        ), r["source_query_window_start_time"]
        assert r["completed_stage_number"] == 4
        assert r["source_count"] == r["target_count"] == 0
    for r in rows:
        assert r["pipeline_status"] == "completed", r["source_query_window_start_time"]


def test_run_batch_idempotent_rerun(batch_pipe, spark):
    """A second ``run_batch`` over a completed plan selects no window,
    as ``run()`` does, and launches no Spark job; its audit frame reads
    the same counts from the control rows."""
    first = {r["window_start"]: r["target_count"] for r in batch_pipe.run_batch(DAY, DAY_END).collect()}
    audits = []
    assert spark_jobs(spark, lambda: audits.append(batch_pipe.run_batch(DAY, DAY_END))) == 0
    second = {r["window_start"]: r["target_count"] for r in audits[0].collect()}
    assert first == second
    # control table still has exactly 8 rows (no duplicate planning)
    assert batch_pipe.control.read().count() == 8


def test_run_batch_with_unaligned_plan_start(spark, tmp_path):
    """plan_start off the granularity boundary: window tagging is
    anchored at plan_start, so every control row still matches its
    audit row and completes (previously the epoch-aligned floor made
    the merge silently match nothing)."""
    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = DayPartitionedTableSink(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(pipeline_name="odd", granularity="6h")
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)

    start = datetime(2024, 1, 2, 3, 30)  # NOT on a 6h boundary
    end = datetime(2024, 1, 3, 3, 30)
    audit = pipe.run_batch(start, end).collect()
    assert len(audit) == 4
    ct = pipe.control.read().collect()
    assert len(ct) == 4
    for r in ct:
        assert r["pipeline_status"] == "completed", r["source_query_window_start_time"]
        assert r["source_query_window_start_time"].minute == 30
    total = pipe.target_sink.read_all().count()
    assert total == pipe.source.count(start, end) > 0


@pytest.mark.parametrize(
    "names",
    [
        (("pipe_a", "pipe_a"), ("pipe_b", "pipe_b")),
        (("events", "src_a"), ("events", "src_b")),
    ],
    ids=["distinct_names", "same_name"],
)
def test_shared_control_table_pipelines_are_isolated(spark, tmp_path, names):
    """Two pipelines over ONE control table: pipeline B's batch run
    and populate must not complete, reset, or re-plan pipeline A's
    rows (the reference scopes every drive-table op by the source
    descriptor, pending_records_selector.py) — also when both share a
    pipeline_name and differ only in their source descriptor."""
    control = ControlTable(spark, str(tmp_path / "control"))

    def build(name, source_name):
        source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
        stage = PartitionedParquetSink(spark, str(tmp_path / f"{source_name}_stage"))
        target = DayPartitionedTableSink(spark, str(tmp_path / f"{source_name}_target"))
        cfg = PipelineConfig(
            pipeline_name=name,
            granularity="6h",
            source_desc=(source_name, "file", "parquet"),
        )
        return WindowPipeline(spark, cfg, source, stage, target, control)

    a, b = build(*names[0]), build(*names[1])
    # A plans but does not run: its rows stay pending
    a.populate(DAY, DAY_END)
    assert control.read().count() == 8
    # B plans the same windows (same window_start values!) and runs
    b.run_batch(DAY, DAY_END)
    rows = control.read().collect()
    assert len(rows) == 16  # A's 8 rows were NOT reused/overwritten
    by_pipe = {}
    for r in rows:
        by_pipe.setdefault(r["source_name"], []).append(r["pipeline_status"])
    assert set(by_pipe[names[0][1]]) == {"pending"}
    assert set(by_pipe[names[1][1]]) == {"completed"}


def test_merge_audit_results_dedupes_duplicate_windows(spark, tmp_path):
    """A duplicated audit row must not fan out the merge join and
    duplicate control rows in the overwritten table."""
    control = ControlTable(spark, str(tmp_path / "control"))
    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = DayPartitionedTableSink(spark, str(tmp_path / "target"))
    cfg = PipelineConfig(pipeline_name="dup", granularity="6h")
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)
    pipe.populate(DAY, DAY_END)
    n_before = control.read().count()

    one = control.read().collect()[0]["unique_source_id"]
    audit = pa.table(
        {
            "unique_source_id": [one, one],
            "source_count": pa.array([5, 5], pa.int64()),
            "target_count": pa.array([5, 5], pa.int64()),
        }
    )
    control.merge_audit_results(audit)
    assert control.read().count() == n_before


def test_run_batch_async_sink_retries_to_match(spark, tmp_path):
    """R3 on the batch path: an async sink whose counts lag behind
    (Snowpipe semantics) makes each window's initial audit mismatch;
    the adaptive envelope recounts each window until the lagging load
    becomes visible, and every control row ends completed/matched — no
    data was recleaned or re-run."""
    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    inner = DayPartitionedTableSink(spark, str(tmp_path / "target"))
    target = MockAsyncSink(inner, reveal_steps=3)
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(
        pipeline_name="async_batch", granularity="6h", tolerance_pct=1.0
    )
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)
    waits = []
    pipe._sleep = waits.append  # record the schedule without blocking

    pipe.run_batch(DAY, DAY_END)

    ct = pipe.control.read().collect()
    assert len(ct) == 8
    for r in ct:
        assert r["pipeline_status"] == "completed", r["source_query_window_start_time"]
        assert r["count_match_status"] == "matched"
        assert r["completed_stage_number"] == 4
        for stage_name in (
            "source_discovery",
            "source_to_stage",
            "stage_to_target",
            "audit",
        ):
            assert r[f"{stage_name}_status"] == "completed"
    # the envelope actually ran: a phase-1 base wait per mismatched window
    assert len(waits) >= 8
    # and the target holds every source row (nothing was cleaned)
    assert inner.read_all().count() == pipe.source.count(DAY, DAY_END)


def test_run_batch_audit_mismatch_cleans_and_resets(spark, tmp_path):
    """R3 exhaustion on the batch path: a sink that permanently loses
    rows in one window never improves on recount, so that window is
    cleaned from the target and its control row fully reset (M4) while
    every other window completes."""

    class LossyBatchSink(DayPartitionedTableSink):
        def load_files(self, path, schema, start, end):
            if self._wall(start).strftime("%Y-%m-%d %H-%M") != "2024-01-02 00-00":
                return super().load_files(path, schema, start, end)
            lost = F.pmod(F.xxhash64(F.col("event_id")), F.lit(2)) == 0
            self.load(self.spark.read.schema(schema).parquet(path).where(~lost), start, end)

    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = LossyBatchSink(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(
        pipeline_name="lossy_batch", granularity="6h", tolerance_pct=1.0
    )
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)

    pipe.run_batch(DAY, DAY_END)

    rows = {
        r["source_query_window_start_time"]: r for r in pipe.control.read().collect()
    }
    bad = rows[datetime(2024, 1, 2, 0, 0)]
    assert bad["pipeline_status"] == "pending"
    assert bad["count_match_status"] == "not_matched"
    assert bad["completed_stage_number"] == 0
    assert bad["pipeline_retry_count"] == 1
    assert bad["source_count"] is None  # M4 clears the counts
    # the lossy window's partition was cleaned from the target
    assert not target.exists(datetime(2024, 1, 2, 0, 0), datetime(2024, 1, 2, 6, 0))
    for ws, r in rows.items():
        if ws != datetime(2024, 1, 2, 0, 0):
            assert r["pipeline_status"] == "completed", ws
            assert r["count_match_status"] == "matched"


def test_target_partition_pruning(batch_pipe, spark):
    """Window predicates prune to single partitions on the target
    table (the point of the day/window partition layout)."""
    batch_pipe.run_batch(DAY, DAY_END)
    tgt = batch_pipe.target_sink.read_all().where(
        (F.col("window_day") == "2024-01-02") & (F.col("window_start") == "06-00")
    )
    plan = tgt._sc._jvm.PythonSQLUtils.explainString(
        tgt._jdf.queryExecution(), "formatted"
    )
    # partition filters appear as PartitionFilters on the scan, and the
    # count matches the per-window sink count
    assert "PartitionFilters" in plan
    n = tgt.count()
    assert n == batch_pipe.target_sink.count(datetime(2024, 1, 2, 6), datetime(2024, 1, 2, 12))
    assert n > 0


def test_consecutive_run_batch_days_keep_earlier_days(batch_pipe):
    """Incremental backfill: the second day's audit covers only its own
    windows, so the first day's load is neither re-audited as
    source_count = 0 nor cleaned and reset."""
    mid = datetime(2024, 1, 3)
    batch_pipe.run_batch(DAY, mid)
    batch_pipe.run_batch(mid, DAY_END)
    ct = batch_pipe.control.read().collect()
    assert len(ct) == 8
    for r in ct:
        assert (r["pipeline_status"], r["count_match_status"]) == (
            "completed",
            "matched",
        ), r["source_query_window_start_time"]
    total_target = batch_pipe.target_sink.read_all().count()
    assert total_target == batch_pipe.source.count(DAY, DAY_END) > 0


def test_run_batch_exits_while_a_run_holds_windows(batch_pipe):
    """R5: with a fresh ``in_progress`` window inside the plan,
    ``run_batch`` returns an empty audit, loads nothing, and leaves the
    claimed row as it was."""
    import os

    import pyarrow.parquet as pq

    batch_pipe.populate(DAY, DAY_END)
    sid = batch_pipe.control.read().collect()[3]["unique_source_id"]
    batch_pipe.control.claim([sid])

    def rows():
        return pq.read_table(
            batch_pipe.control.path, coerce_int96_timestamp_unit="us"
        ).to_pylist()

    before = rows()
    assert batch_pipe.run_batch(DAY, DAY_END).collect() == []
    assert rows() == before
    root = batch_pipe.target_sink.root
    assert not os.path.exists(root) or not os.listdir(root)


def test_run_batch_equals_a_run_of_the_same_day(spark, tmp_path):
    """A day of hourly windows through ``run_batch`` and through one
    ``run()`` that takes every window, each with its own control table
    and sinks, ends in the same control rows (statuses, counts, F12
    estimates, which stage times are set) and the same target
    partitions, counted with DuckDB."""
    import duckdb

    from data_pipeline_001_spark.plans.control_table import STAGES

    def pipe(name):
        return WindowPipeline(
            spark,
            PipelineConfig(pipeline_name=name, granularity="1h", max_pipeline_runs=24),
            FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts"),
            PartitionedParquetSink(spark, str(tmp_path / f"{name}_stage")),
            DayPartitionedTableSink(spark, str(tmp_path / f"{name}_target")),
            ControlTable(spark, str(tmp_path / f"{name}_control")),
        )

    day_end = datetime(2024, 1, 3)
    batch, loop = pipe("batch"), pipe("loop")
    batch.run_batch(DAY, day_end)
    assert loop.run(DAY, day_end).processed == 24

    cols = [
        "pipeline_status", "count_match_status", "completed_stage_number",
        "source_count", "target_count",
        *(f"{s}_status" for s in STAGES),
        *(f"{s}_expected_duration_minutes" for s in STAGES[1:]),
    ]

    def outcome(p):
        return {
            r["source_query_window_start_time"]: (
                [r[c] for c in cols]
                + [r[f"{s}_{t}_time"] is not None for s in STAGES for t in ("start", "end")]
            )
            for r in p.control.read().collect()
        }

    got, want = outcome(batch), outcome(loop)
    assert len(got) == 24
    assert got == want
    assert {v[0] for v in got.values()} == {"completed"}
    assert all(v[-8:] == [True] * 8 for v in got.values())

    con = duckdb.connect()

    def partitions(p):
        return dict(
            con.execute(
                "SELECT window_day || ' ' || window_start, count(*) FROM read_parquet("
                f"'{p.target_sink.root}/*/*/*.parquet', hive_partitioning = true) GROUP BY 1"
            ).fetchall()
        )

    assert partitions(batch) == partitions(loop)
    assert sum(partitions(batch).values()) == batch.source.count(DAY, day_end) > 0


def test_run_batch_day_rewrites_the_control_table_once_per_window(
    spark, tmp_path, control_rewrites
):
    """A ``run_batch`` day of N = 24 hourly windows appends its plan,
    then rewrites the control table 3 + N times: the claim, the
    discovery counts and the stage completion once each, then each
    window's audit, which also records its load."""
    pipe = WindowPipeline(
        spark,
        PipelineConfig(pipeline_name="rewrites", granularity="1h"),
        FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts"),
        PartitionedParquetSink(spark, str(tmp_path / "stage")),
        DayPartitionedTableSink(spark, str(tmp_path / "target")),
        ControlTable(spark, str(tmp_path / "control")),
    )
    audit = pipe.run_batch(DAY, datetime(2024, 1, 3)).collect()
    assert len(audit) == 24
    assert all(r["source_count"] == r["target_count"] for r in audit)
    assert len(control_rewrites) == 1 + 3 + 24

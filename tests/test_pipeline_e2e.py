"""End-to-end pipeline slice (SURVEY.md §5.3, t1): events parquet as
"Elasticsearch", plan windows, run the 4 stages per window, audit,
verify drive-table transitions + idempotence + backfill + stale reset
+ the mock-async audit retry (R3)."""

import os
from datetime import datetime

import pytest
from conftest import spark_jobs

pytestmark = pytest.mark.slow  # lane 2: see pytest.ini
from pyspark.sql import functions as F

from data_pipeline_001_spark.plans.control_table import STAGES, ControlTable
from data_pipeline_001_spark.plans.pipeline import PipelineConfig, WindowPipeline
from data_pipeline_001_spark.sources.file_connectors import (
    DayPartitionedTableSink,
    FileSource,
    MockAsyncSink,
    PartitionedParquetSink,
)

SF_DIR = "/root/testdata/sf0.001"
DAY = datetime(2024, 1, 2)
DAY_END = datetime(2024, 1, 3)


@pytest.fixture()
def pipe(spark, tmp_path):
    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = PartitionedParquetSink(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(
        pipeline_name="e2e", granularity="6h", max_pipeline_runs=4, tolerance_pct=1.0
    )
    return WindowPipeline(spark, cfg, source, stage, target, control)


def test_full_slice_completes_and_audits(pipe, spark):
    result = pipe.run(DAY, DAY_END)
    assert result.processed == 4
    assert result.completed == 4
    assert result.failed == 0

    ct = pipe.control.read().collect()
    assert len(ct) == 4
    for r in ct:
        assert r["pipeline_status"] == "completed"
        assert r["completed_stage_number"] == 4
        assert r["count_match_status"] == "matched"
        assert r["source_count"] == r["target_count"]
        assert r["count_difference"] == 0

    # target holds exactly the day's events (DuckDB-checkable invariant)
    src_cnt = pipe.source.count(DAY, DAY_END)
    tgt_cnt = pipe.target_sink.read_all().count()
    assert src_cnt == tgt_cnt > 0


def test_idempotent_rerun_is_noop(pipe):
    first = pipe.run(DAY, DAY_END)
    assert first.completed == 4
    second = pipe.run(DAY, DAY_END)
    # nothing pending: all windows already completed
    assert second.processed == 0
    assert pipe.control.read().count() == 4


def test_gap_backfill(pipe):
    pipe.run(DAY, DAY_END)
    # simulate a lost window record
    victim = pipe.control.read().collect()[1]["unique_source_id"]
    pipe.control.delete_records([victim])
    assert pipe.control.read().count() == 3
    # replan: anti-join restores exactly the missing window as pending
    inserted = pipe.populate(DAY, DAY_END)
    assert inserted == 1
    statuses = {
        r["pipeline_status"] for r in pipe.control.read().collect()
    }
    assert statuses == {"completed", "pending"}


def test_fill_gaps_inserts_missing_interior_window(pipe):
    """Backfill planner (entry point 2, state_manager.py:679-1105):
    a deleted interior window is re-detected by the W1 gap scan and
    re-inserted at pipeline granularity."""
    pipe.populate(DAY, DAY_END)
    rows = sorted(
        pipe.control.read().collect(),
        key=lambda r: r["source_query_window_start_time"],
    )
    victim = rows[1]  # 06:00-12:00 — interior, leaves a detectable gap
    pipe.control.delete_records([victim["unique_source_id"]])
    assert pipe.control.read().count() == 3
    inserted = pipe.fill_gaps()
    assert inserted == 1
    restored = sorted(
        r["source_query_window_start_time"].hour
        for r in pipe.control.read().collect()
    )
    assert restored == [0, 6, 12, 18]


def test_resolve_duplicate_windows_keeps_best(pipe):
    """W3+M6 planner path: duplicate control rows for one window
    collapse to the best record by the 4-level rule."""
    pipe.populate(DAY, DAY_END)
    rows = pipe.control.read().collect()
    dup_src = [r for r in rows][0]
    # re-insert the same window (simulating a double-plan): appended
    # record has a later inserted time → original (oldest) should win
    from data_pipeline_001_spark.plans.control_table import default_record

    rec = default_record(
        pipe.config.pipeline_name,
        pipe.config.source_desc,
        pipe.config.target_desc,
        dup_src["source_query_window_start_time"],
        dup_src["source_query_window_end_time"],
        stage_path="dup",
    )
    pipe.control.append_records([rec])
    assert pipe.control.read().count() == 5
    removed = pipe.resolve_duplicate_windows()
    assert removed == 1
    left = pipe.control.read().collect()
    assert len(left) == 4
    survivor = [
        r
        for r in left
        if r["source_query_window_start_time"]
        == dup_src["source_query_window_start_time"]
    ]
    assert len(survivor) == 1
    # oldest-inserted wins on full tie of status/updated/started
    assert survivor[0]["record_first_inserted_time"] <= rec["record_first_inserted_time"]


def test_stale_in_progress_reset_then_rerun(pipe):
    pipe.populate(DAY, DAY_END)
    rec = pipe.control.read().collect()[0]
    sid = rec["unique_source_id"]
    pipe.control.claim([sid])
    # no expected durations set → acceptable runtime floors at 10 min;
    # pretend "now" is 2 hours later → stale
    from datetime import timedelta

    now = datetime.utcnow() + timedelta(hours=2)
    valid, reset = pipe.validate_in_progress(now)
    assert (valid, reset) == (0, 1)
    r = [x for x in pipe.control.read().collect() if x["unique_source_id"] == sid][0]
    assert r["pipeline_status"] == "pending"
    assert r["pipeline_retry_count"] == 1


def test_duration_estimates_scale_staleness_bound(spark, tmp_path):
    """F12 wired e2e: discovery populates per-stage expected durations
    from source_count (linear/power/sqrt curves), and staleness reaping
    keys on them — a heavy window survives a wall-clock gap that reaps
    a light one (source_discovery_manager.py:186-271 +
    progress_validator.py:82-159)."""
    from datetime import timedelta

    def build(name, avg):
        source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
        stage = PartitionedParquetSink(spark, str(tmp_path / f"{name}_stage"))
        target = PartitionedParquetSink(spark, str(tmp_path / f"{name}_target"))
        control = ControlTable(spark, str(tmp_path / f"{name}_control"))
        cfg = PipelineConfig(
            # one 12h window over the half-day span below: every
            # assertion here is per-row (curve estimates, reap
            # bounds), so extra windows only re-run the same path —
            # at 6h over a day this test cost 4 windows x 2 pipelines
            # of identical coverage (granularity must stay sub-day)
            pipeline_name=name,
            granularity="12h",
            max_pipeline_runs=4,
            avg_records_per_window=avg,
        )
        return WindowPipeline(spark, cfg, source, stage, target, control)

    # heavy: avg=1 → ratio = count >> 1 → estimates scale up
    half_day = DAY + timedelta(hours=12)  # exactly one 12h window
    heavy = build("heavy", 1)
    heavy.run(DAY, half_day)
    row = heavy.control.read().collect()[0]
    n = row["source_count"]
    assert n > 1
    ratio = float(n)
    assert row["source_to_stage_expected_duration_minutes"] == int(10 * ratio * 1.5)
    assert row["stage_to_target_expected_duration_minutes"] == int(5 * ratio**0.6 * 1.5)
    assert row["audit_expected_duration_minutes"] == int(2 * ratio**0.5 * 1.5)

    # light: avg huge → ratio <= 1 → bases ×(1+skew), as the reference
    # computes them (source_discovery_manager.py:218-231)
    light = build("light", 10_000_000)
    light.run(DAY, half_day)
    lrow = light.control.read().collect()[0]
    assert lrow["source_to_stage_expected_duration_minutes"] == 15
    assert lrow["stage_to_target_expected_duration_minutes"] == 7
    assert lrow["audit_expected_duration_minutes"] == 3

    # both re-claimed at the same instant, checked 40 min later:
    # light's bound is 15+7+3=25 min → reaped; heavy's is hours → valid
    heavy.control.claim([heavy.control.read().collect()[0]["unique_source_id"]])
    light.control.claim([lrow["unique_source_id"]])
    later = datetime.utcnow() + timedelta(minutes=40)
    assert heavy.validate_in_progress(later) == (1, 0)
    assert light.validate_in_progress(later) == (0, 1)


def test_stage_failure_attributed_to_failing_stage(spark, tmp_path):
    """A stage_to_target error must fail stage_to_target — not reset
    source_discovery (record_status_updater.py:102-123: only the
    erroring stage's state is touched)."""

    class BrokenTarget(PartitionedParquetSink):
        def load_files(self, path, schema, start, end):
            raise RuntimeError("target sink down")

    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = BrokenTarget(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(pipeline_name="bt", granularity="6h", max_pipeline_runs=1)
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)

    result = pipe.run(DAY, DAY_END)
    assert result.failed >= 1
    r = [x for x in pipe.control.read().collect() if x["pipeline_status"] == "failed"][0]
    assert r["source_discovery_status"] == "completed"
    assert r["source_to_stage_status"] == "completed"
    assert r["stage_to_target_status"] == "pending"
    assert "target sink down" in r["pipeline_error_details"]


def test_completed_window_records_its_load_before_its_audit(pipe):
    """The audit's one completing rewrite records the target load too:
    every stage is completed, and the load ends before the audit
    starts."""
    assert pipe.run(DAY, DAY_END).completed == 4
    for r in pipe.control.read().collect():
        for stage in STAGES:
            assert r[f"{stage}_status"] == "completed", stage
        assert r["completed_stage_number"] == 4
        assert (
            r["stage_to_target_start_time"]
            <= r["stage_to_target_end_time"]
            <= r["audit_start_time"]
        )


def test_audit_error_fails_the_audit_after_the_load_in_one_rewrite(
    spark, tmp_path, control_rewrites
):
    """A target whose ``count`` raises fails the audit; the same rewrite
    records the completed load, so the row shows stage 3 done and the
    audit failed."""

    class UncountableTarget(PartitionedParquetSink):
        def count(self, start, end):
            raise RuntimeError("target count down")

    pipe = WindowPipeline(
        spark,
        PipelineConfig(pipeline_name="uncountable", granularity="6h", max_pipeline_runs=1),
        FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts"),
        PartitionedParquetSink(spark, str(tmp_path / "stage")),
        UncountableTarget(spark, str(tmp_path / "target")),
        ControlTable(spark, str(tmp_path / "control")),
    )
    pipe.populate(DAY, datetime(2024, 1, 2, 6))
    (record,), _ = pipe._stage_windows(pipe.pending_records())
    control_rewrites.clear()
    assert pipe.run_window(record) == "failed"
    assert len(control_rewrites) == 1
    (r,) = pipe.control.read().collect()
    assert r["stage_to_target_status"] == "completed"
    assert r["stage_to_target_end_time"] is not None
    assert r["completed_stage_number"] == 3
    assert (r["audit_status"], r["audit_start_time"]) == ("pending", None)
    assert r["pipeline_status"] == "failed"
    assert "target count down" in r["pipeline_error_details"]


def test_window_waiting_for_a_lagging_sink_shows_as_loaded(spark, tmp_path):
    """On a first audit mismatch the load is recorded before the first
    wait, so a window that waits for an asynchronous sink never shows
    as unloaded."""
    pipe = WindowPipeline(
        spark,
        PipelineConfig(pipeline_name="lagging", granularity="6h", max_pipeline_runs=1),
        FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts"),
        PartitionedParquetSink(spark, str(tmp_path / "stage")),
        MockAsyncSink(PartitionedParquetSink(spark, str(tmp_path / "target")), reveal_steps=3),
        ControlTable(spark, str(tmp_path / "control")),
    )
    seen = []
    pipe._sleep = lambda seconds: seen.append(
        pipe.control.read().collect()[0]["stage_to_target_status"]
    )
    pipe.populate(DAY, datetime(2024, 1, 2, 6))
    assert pipe.run_window(pipe.pending_records()[0]) == "completed"
    assert seen and seen[0] == "completed"


def test_concurrency_guard_exits(pipe):
    pipe.populate(DAY, DAY_END)
    sid = pipe.control.read().collect()[0]["unique_source_id"]
    pipe.control.claim([sid])  # fresh claim → valid in_progress
    result = pipe.run(DAY, DAY_END)
    assert result.exited_for_concurrency
    assert result.processed == 0


def test_failing_source_records_error_and_run_continues(spark, tmp_path):
    """A window whose source raises gets fail_stage (M3: error text +
    retry_count+1, stage reset to pending) and the run proceeds to the
    remaining windows (main_pipeline_orchestrator.py:302-404 loop
    semantics: one bad window doesn't kill the batch)."""

    class FlakySource(FileSource):
        def count(self, start, end):
            if start.hour == 6:
                raise RuntimeError("source exploded for 06:00 window")
            return super().count(start, end)

    source = FlakySource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = PartitionedParquetSink(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(pipeline_name="flaky", granularity="6h", max_pipeline_runs=4)
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)

    result = pipe.run(DAY, DAY_END)
    assert result.processed == 4
    assert result.completed == 3
    assert result.failed == 1
    bad = [
        r
        for r in pipe.control.read().collect()
        if r["source_query_window_start_time"].hour == 6
    ][0]
    assert bad["pipeline_status"] == "failed"
    assert "source exploded" in bad["pipeline_error_details"]
    assert bad["pipeline_retry_count"] == 1


def test_audit_retry_converges_on_async_sink(spark, tmp_path):
    """R3: the mock-async sink reveals counts gradually; the audit
    loop recounts while improving and completes once within tolerance
    (audit_manager.py:123-383 contract, minus the wall-clock sleeps)."""
    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = MockAsyncSink(
        PartitionedParquetSink(spark, str(tmp_path / "target")), reveal_steps=3
    )
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(
        pipeline_name="async", granularity="6h", max_pipeline_runs=1
    )
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)
    pipe.populate(DAY, datetime(2024, 1, 2, 6))
    rec = pipe.control.read().collect()[0]
    assert pipe.run_window(rec) == "completed"
    r = pipe.control.read().collect()[0]
    assert r["count_match_status"] == "matched"


def test_audit_mismatch_resets_pipeline(spark, tmp_path):
    """A sink that never converges → clean + full reset (M4)."""

    class LossySink(PartitionedParquetSink):
        def count(self, start, end):  # always half the data "arrived"
            return super().count(start, end) // 2

    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = LossySink(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(
        pipeline_name="lossy", granularity="6h", max_pipeline_runs=1
    )
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)
    pipe.populate(DAY, datetime(2024, 1, 2, 6))
    rec = pipe.control.read().collect()[0]
    assert pipe.run_window(rec) == "reset"
    r = pipe.control.read().collect()[0]
    assert r["pipeline_status"] == "pending"
    assert r["count_match_status"] == "not_matched"
    assert r["pipeline_retry_count"] == 1
    # stage output cleaned
    assert not stage.exists(DAY, datetime(2024, 1, 2, 6))


def test_warm_window_launches_only_count_and_write_jobs(spark, tmp_path):
    """Once the first window has resolved the source schema, a window's
    only Spark job is the stage write: the Parquet source counts on the
    driver, extract infers no schema, the target loads the staged files
    with a file copy, and both sinks count from Parquet footers."""
    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    target = DayPartitionedTableSink(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(pipeline_name="jobs", granularity="6h", max_pipeline_runs=4)
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)
    pipe.populate(DAY, DAY_END)
    first, second = pipe.pending_records()[:2]
    assert pipe.run_window(first) == "completed"
    s, e = first["source_query_window_start_time"], first["source_query_window_end_time"]

    assert spark_jobs(spark, lambda: source.extract(s, e).schema) == 0
    assert spark_jobs(spark, lambda: stage.count(s, e)) == 0
    assert spark_jobs(spark, lambda: target.count(s, e)) == 0
    assert spark_jobs(spark, lambda: source.count(s, e)) == 0
    assert spark_jobs(spark, lambda: pipe.run_window(second)) == 1
    r = [
        x
        for x in control.read().collect()
        if x["unique_source_id"] == second["unique_source_id"]
    ][0]
    assert r["pipeline_status"] == "completed"
    assert r["source_count"] == r["target_count"] > 0


def _run_pipe(spark, tmp_path, name, granularity="2h", runs=10, stage=PartitionedParquetSink,
              **cfg):
    return WindowPipeline(
        spark,
        PipelineConfig(
            pipeline_name=name, granularity=granularity, max_pipeline_runs=runs, **cfg
        ),
        FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts"),
        stage(spark, str(tmp_path / f"{name}_stage")),
        PartitionedParquetSink(spark, str(tmp_path / f"{name}_target")),
        ControlTable(spark, str(tmp_path / f"{name}_control")),
    )


def test_warm_run_stages_ten_windows_in_one_spark_job(spark, tmp_path, control_rewrites):
    """Once the source schema is resolved, a ten-window ``run()``
    launches one Spark job, its stage write, and rewrites the control
    table 13 times: the claim, the discovery counts and the stage
    completion once each, then one audit per window, which also records
    the window's load. Every window completes and matches."""
    from datetime import timedelta

    pipe = _run_pipe(spark, tmp_path, "run_jobs")
    end = DAY + timedelta(hours=22)
    pipe.populate(DAY, end)
    assert pipe.run_window(pipe.pending_records()[0]) == "completed"
    results = []
    control_rewrites.clear()
    assert spark_jobs(spark, lambda: results.append(pipe.run(DAY, end))) == 1
    assert len(control_rewrites) == 13
    assert (results[0].processed, results[0].completed) == (10, 10)
    rows = pipe.control.read().collect()
    assert len(rows) == 11
    for r in rows:
        assert (r["pipeline_status"], r["count_match_status"]) == ("completed", "matched")
        assert r["source_count"] == r["target_count"] > 0


def test_spc_gate_launches_no_spark_job(spark, tmp_path):
    """The SPC gate computes its window's XmR point on the driver: a warm
    window with ``spc_gate`` on launches only its stage write."""
    pipe = _run_pipe(spark, tmp_path, "spc_jobs", granularity="6h", runs=4, spc_gate=True)
    pipe.populate(DAY, DAY_END)
    first, second = pipe.pending_records()[:2]
    assert pipe.run_window(first) == "completed"
    assert spark_jobs(spark, lambda: pipe.run_window(second)) == 1


def test_failed_stage_write_fails_every_window_of_the_run(spark, tmp_path):
    """A stage write that fails mid-job fails every window of the run at
    ``source_to_stage`` with the error text, leaves no temp directory
    under the stage root, and the next ``run()`` selects the failed
    windows again and completes them."""

    class FlakyStage(PartitionedParquetSink):
        down = True

        def load_windows(self, df, bounds):
            if self.down:
                df = df.withColumn("boom", F.raise_error(F.lit("stage store down")))
            super().load_windows(df, bounds)

    pipe = _run_pipe(spark, tmp_path, "flaky_stage", granularity="6h", runs=4, stage=FlakyStage)
    result = pipe.run(DAY, DAY_END)
    assert (result.processed, result.failed, result.completed) == (4, 4, 0)
    rows = pipe.control.read().collect()
    for r in rows:
        assert r["pipeline_status"] == "failed"
        assert r["source_discovery_status"] == "completed"
        assert r["source_to_stage_status"] == "pending"
        assert r["pipeline_retry_count"] == 1
        assert "stage store down" in r["pipeline_error_details"]
    assert not [n for n in os.listdir(pipe.stage_sink.root) if n.startswith(".")]

    pipe.stage_sink.down = False
    result = pipe.run(DAY, DAY_END)
    assert (result.processed, result.failed, result.completed) == (4, 0, 4)
    for r in pipe.control.read().collect():
        assert (r["pipeline_status"], r["count_match_status"]) == ("completed", "matched")
        assert r["source_count"] == r["target_count"] > 0


@pytest.mark.parametrize("method", ["run", "run_batch"])
def test_run_stages_windows_of_a_source_whose_time_column_is_not_ts(spark, tmp_path, method):
    """A Source that names its time column as Elasticsearch does
    (``@timestamp``) and has no ``ts_col`` stages a run, or a
    ``run_batch`` day, through the default ``extract_windows``, one
    ``extract`` per window, and every window completes with its own
    rows."""
    from data_pipeline_001_spark.sources.base import Source
    from data_pipeline_001_spark.sources.file_connectors import window_predicate

    events = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts").extract(DAY, DAY_END)

    class FrameSource(Source):
        def __init__(self, df):
            self.df = df

        def count(self, start, end):
            return self.extract(start, end).count()

        def extract(self, start, end):
            return self.df.where(window_predicate("@timestamp", start, end))

    pipe = _run_pipe(spark, tmp_path, "es_like", granularity="6h", runs=4)
    pipe.source = FrameSource(events.withColumnRenamed("ts", "@timestamp"))
    getattr(pipe, method)(DAY, DAY_END)
    rows = pipe.control.read().collect()
    assert len(rows) == 4
    for r in rows:
        assert (r["pipeline_status"], r["count_match_status"]) == ("completed", "matched")
    assert sum(r["target_count"] for r in rows) == events.count() > 0
    staged = spark.read.option("recursiveFileLookup", "true").parquet(pipe.stage_sink.root)
    assert "@timestamp" in staged.columns and "_window_index" not in staged.columns


def test_stale_check_mid_run_keeps_the_runs_windows(spark, tmp_path):
    """A concurrent stale-run check made while a run loads its windows
    allows each of them the run's total estimate: 40 minutes in, past
    one window's 25-minute bound, all four windows are still valid.
    Four windows claimed together go stale after 4 x 25 minutes."""
    from datetime import timedelta, timezone

    pipe = _run_pipe(spark, tmp_path, "late", granularity="6h", runs=4)
    checks = []
    audit = pipe._audit

    def audit_after_a_late_check(*args):
        if not checks:
            later = datetime.now(timezone.utc) + timedelta(minutes=40)
            checks.append(pipe.validate_in_progress(later))
        return audit(*args)

    pipe._audit = audit_after_a_late_check
    result = pipe.run(DAY, DAY_END)
    assert checks == [(4, 0)]
    assert (result.processed, result.completed) == (4, 4)

    rows = pipe.control.read().collect()
    assert {r["source_to_stage_expected_duration_minutes"] for r in rows} == {15}
    pipe.control.claim([r["unique_source_id"] for r in rows])
    claimed = datetime.now(timezone.utc)
    assert pipe.validate_in_progress(claimed + timedelta(minutes=99)) == (4, 0)
    assert pipe.validate_in_progress(claimed + timedelta(minutes=101)) == (0, 4)


def test_run_stages_only_its_own_non_adjacent_windows(spark, tmp_path):
    """Pending windows with completed ones between them, two of them
    empty, are staged by one run in one Spark job (the empty windows'
    files are written on the driver): each stage directory holds
    exactly the source rows of its own hour (checked with DuckDB), the
    skipped windows get no stage directory, and every run window
    completes."""
    import duckdb
    from datetime import timedelta

    pipe = _run_pipe(spark, tmp_path, "gaps", granularity="1h", runs=5)
    pipe.populate(DAY, DAY_END)
    run_hours = [1, 2, 5, 9, 13]  # sf0.001 has no events in hours 2 and 13
    by_hour = {
        r["source_query_window_start_time"].hour: r["unique_source_id"]
        for r in pipe.control.read().collect()
    }
    pipe.control.update_where(
        [sid for h, sid in by_hour.items() if h not in run_hours],
        {"pipeline_status": "completed"},
    )
    pipe.source.extract(DAY, DAY_END)  # resolve the source schema
    results = []
    assert spark_jobs(spark, lambda: results.append(pipe.run(DAY, DAY_END))) == 1
    assert (results[0].processed, results[0].completed) == (5, 5)

    con = duckdb.connect()
    events = f"read_parquet('{SF_DIR}/events.parquet')"
    for h in range(24):
        start = DAY + timedelta(hours=h)
        staged = os.path.join(pipe.stage_sink.root, start.strftime("%Y-%m-%d/%H-%M"))
        if h not in run_hours:
            assert not os.path.exists(staged), h
            continue
        want = con.execute(
            f"SELECT event_id FROM {events} WHERE ts >= ? AND ts < ? ORDER BY 1",
            [start, start + timedelta(hours=1)],
        ).fetchall()
        got = con.execute(
            f"SELECT event_id FROM read_parquet('{staged}/*.parquet') ORDER BY 1"
        ).fetchall()
        assert got == want, h
        assert bool(want) == (h not in (2, 13))
    assert not [n for n in os.listdir(pipe.stage_sink.root) if n.startswith(".")]


def test_planning_a_run_launches_no_spark_job(spark, tmp_path):
    """populate, the stale-run check and pending selection read and
    write the control table on the driver: planning a run, fresh or
    over a table that already holds windows, launches no Spark job."""
    pipe = WindowPipeline(
        spark,
        PipelineConfig(pipeline_name="plan", granularity="3h", max_pipeline_runs=4),
        FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts"),
        PartitionedParquetSink(spark, str(tmp_path / "stage")),
        PartitionedParquetSink(spark, str(tmp_path / "target")),
        ControlTable(spark, str(tmp_path / "control")),
    )

    runs = []

    def plan(start, end):
        runs.append(
            (pipe.populate(start, end), pipe.validate_in_progress(), pipe.pending_records())
        )

    assert spark_jobs(spark, lambda: plan(DAY, datetime(2024, 1, 2, 12))) == 0
    inserted, validated, pending = runs[-1]
    assert (inserted, validated, len(pending)) == (4, (0, 0), 4)
    pipe.control.claim([pending[0]["unique_source_id"]])
    assert spark_jobs(spark, lambda: plan(DAY, DAY_END)) == 0
    inserted, validated, pending = runs[-1]
    assert (inserted, validated) == (4, (1, 0))
    assert [r["source_query_window_start_time"].hour for r in pending] == [3, 6, 9, 12]


def test_gap_and_duplicate_repair_launch_no_spark_job(pipe, spark):
    """fill_gaps (W1) and resolve_duplicate_windows (W3) read and
    rewrite the control table on the driver alone."""
    from data_pipeline_001_spark.plans.control_table import default_record

    pipe.populate(DAY, DAY_END)
    rows = sorted(
        pipe.control.read().collect(), key=lambda r: r["source_query_window_start_time"]
    )
    pipe.control.delete_records([rows[2]["unique_source_id"]])
    filled = []
    assert spark_jobs(spark, lambda: filled.append(pipe.fill_gaps())) == 0
    assert filled == [1]
    pipe.control.append_records(
        [
            default_record(
                "e2e", pipe.config.source_desc, pipe.config.target_desc,
                rows[0]["source_query_window_start_time"],
                rows[0]["source_query_window_end_time"], stage_path="dup",
            )
        ]
    )
    removed = []
    assert spark_jobs(spark, lambda: removed.append(pipe.resolve_duplicate_windows())) == 0
    assert removed == [1]
    assert pipe.control.read().count() == 4


def test_run_batch_spark_jobs(spark, tmp_path):
    """A day of run_batch launches two Spark jobs: the fresh source's
    schema read and the run's one stage write. The source counts each
    window on the driver, the target copies the staged files, each
    window's target count sums its partition's Parquet footers, and the
    control table is read and rewritten on the driver."""
    pipe = WindowPipeline(
        spark,
        PipelineConfig(pipeline_name="batch_jobs", granularity="6h"),
        FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts"),
        PartitionedParquetSink(spark, str(tmp_path / "stage")),
        DayPartitionedTableSink(spark, str(tmp_path / "target")),
        ControlTable(spark, str(tmp_path / "control")),
    )
    assert spark_jobs(spark, lambda: pipe.run_batch(DAY, DAY_END)) == 2
    rows = pipe.control.read().collect()
    assert len(rows) == 4
    assert {(r["pipeline_status"], r["count_match_status"]) for r in rows} == {
        ("completed", "matched")
    }


def test_table_mixes_copied_windows_and_load_all_days(spark, tmp_path):
    """A day ``run_batch`` loads and the next day's windows ``run()``
    loads share one ``DayPartitionedTableSink``, both as file copies of
    the staged windows: ``read_all()`` shows ``window_day``/
    ``window_start`` for both days, and each window's partition holds
    its source rows."""
    from datetime import timedelta

    source = FileSource(spark, f"{SF_DIR}/events.parquet", ts_col="ts")
    target = DayPartitionedTableSink(spark, str(tmp_path / "target"))
    control = ControlTable(spark, str(tmp_path / "control"))
    cfg = PipelineConfig(pipeline_name="mixed", granularity="6h", max_pipeline_runs=4)
    pipe = WindowPipeline(
        spark, cfg, source, PartitionedParquetSink(spark, str(tmp_path / "stage")), target, control
    )
    prev = DAY - timedelta(days=1)
    pipe.run_batch(prev, DAY)
    assert pipe.run(DAY, DAY_END).completed == 4

    rows = control.read().collect()
    assert len(rows) == 8
    assert {(r["pipeline_status"], r["count_match_status"]) for r in rows} == {
        ("completed", "matched")
    }
    back = target.read_all()
    assert {"window_day", "window_start"} <= set(back.columns)
    got = {
        (r["window_day"], r["window_start"]): r["count"]
        for r in back.groupBy("window_day", "window_start").count().collect()
    }
    expected = {
        (r["source_query_window_start_time"].date(),
         r["source_query_window_start_time"].strftime("%H-%M")): r["source_count"]
        for r in rows
    }
    assert got == expected
    assert sum(got.values()) == source.count(prev, DAY_END) > 0


def _write_window_events(spark, path, counts, start=DAY, hours=3):
    """One synthetic events file with a controlled per-window row
    count: window w gets counts[w] rows inside [start + w*hours h)."""
    from datetime import timedelta

    rows, eid = [], 0
    for w, cnt in enumerate(counts):
        base = start + timedelta(hours=hours * w)
        for i in range(cnt):
            rows.append(
                (eid, base + timedelta(seconds=10 * i + 1), eid % 50,
                 "view", 1.0)
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    ).write.mode("overwrite").parquet(path)


def _spc_pipe(spark, tmp_path, name, counts):
    src_path = str(tmp_path / f"{name}_events")
    _write_window_events(spark, src_path, counts)
    pipe = WindowPipeline(
        spark,
        PipelineConfig(
            pipeline_name=name, granularity="3h",
            max_pipeline_runs=len(counts), spc_gate=True,
        ),
        FileSource(spark, src_path, ts_col="ts"),
        PartitionedParquetSink(spark, str(tmp_path / f"{name}_stage")),
        PartitionedParquetSink(spark, str(tmp_path / f"{name}_target")),
        ControlTable(spark, str(tmp_path / f"{name}_control")),
    )
    res = pipe.run(DAY, DAY_END)
    assert res.completed == len(counts)
    return pipe


def test_spc_gate_error_is_nonfatal_to_completed_audit(
    spark, tmp_path, monkeypatch, caplog
):
    """Round-9 (verdict task 3): the round-8 non-fatal wrap around the
    post-audit SPC gate (pipeline.py run(): status == 'completed' and
    config.spc_gate). A raising ``_spc_check`` — e.g. a transient Spark
    error during its one-row collect — must NOT flip a window whose
    audit PASSED back to failed: every window stays ``completed``, the
    failure/reset path never fires, and the ``SPC_CHECK_ERROR``
    observability row is logged once per window."""
    import logging

    from data_pipeline_001_spark.plans.pipeline import WindowPipeline

    calls = {"n": 0}

    def _boom(self, start):
        calls["n"] += 1
        raise RuntimeError("planted transient SPC failure")

    monkeypatch.setattr(WindowPipeline, "_spc_check", _boom)
    fails = {"n": 0}
    real_fail = ControlTable.fail_stage
    real_reset = ControlTable.reset_after_audit_mismatch

    def _spy_fail(self, *a, **kw):
        fails["n"] += 1
        return real_fail(self, *a, **kw)

    def _spy_reset(self, *a, **kw):
        fails["n"] += 1
        return real_reset(self, *a, **kw)

    monkeypatch.setattr(ControlTable, "fail_stage", _spy_fail)
    monkeypatch.setattr(ControlTable, "reset_after_audit_mismatch", _spy_reset)

    with caplog.at_level(logging.INFO, logger="PipelineLogger"):
        pipe = _spc_pipe(spark, tmp_path, "spc_raises", [40] * 8)

    ct = pipe.control.read().collect()
    assert len(ct) == 8
    assert all(r["pipeline_status"] == "completed" for r in ct)
    assert all(r["count_match_status"] == "matched" for r in ct)
    assert fails["n"] == 0, "reset/failure path fired despite passing audit"
    assert calls["n"] == 8, "SPC check should have run (and raised) per window"
    assert caplog.text.count("SPC_CHECK_ERROR") == 8


def test_spc_gate_flags_planted_count_anomaly(spark, tmp_path):
    """Round-7 task 6: the post-audit SPC gate over the control table
    itself. A planted 10x count spike in one window — which AUDITS
    CLEAN (source == target) — must be the one out-of-control XmR
    point; a uniform run must flag nothing."""
    clean = _spc_pipe(spark, tmp_path, "spc_clean", [40] * 8)
    flags = {r["window_start"]: r for r in clean.audit_spc_flags().collect()}
    assert len(flags) == 8
    assert not any(r["out_of_control"] for r in flags.values())

    planted_counts = [40, 40, 40, 40, 400, 40, 40, 40]
    planted = _spc_pipe(spark, tmp_path, "spc_planted", planted_counts)
    ct = planted.control.read().collect()
    assert all(r["count_match_status"] == "matched" for r in ct)

    from datetime import timedelta

    flags = {
        r["window_start"]: r for r in planted.audit_spc_flags().collect()
    }
    anomaly_window = DAY + timedelta(hours=3 * 4)
    assert flags[anomaly_window]["out_of_control"] is True
    others = [w for w in flags if w != anomaly_window]
    assert not any(flags[w]["out_of_control"] for w in others)

    # the gate's driver points are the Spark operator's
    points = planted._spc_points()
    assert set(points) == set(flags)
    for w, r in flags.items():
        got = points[w]
        assert (got["n_points"], got["out_of_control"]) == (r["n_points"], r["out_of_control"])
        for k in ("value", "xbar", "ucl", "lcl"):
            assert got[k] == pytest.approx(r[k], rel=1e-12), (w, k)

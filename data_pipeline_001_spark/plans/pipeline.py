"""Windowed pipeline orchestrator — the Spark-native re-expression of
the reference's ``MainPipelineOrchestrator`` + ``StateManager`` flow
(core/main_pipeline_orchestrator.py:51-208, core/state_manager.py:169-196).

Lifecycle per run (reference step numbers preserved):
  0. populate          — fresh-start spine or backfill (gaps, missing
                         days, duplicate resolution)
  1. validate progress — reset stale in_progress records (R5 reaping)
  2. concurrency guard — exit if valid in_progress work exists
  3. pending selection — priority-ordered LIMIT n (W5)
  4. safe boundary     — drop windows newer than now - x_time_back (P7)
  5. stages            — discovery → source→stage for the run's windows
                         together, then stage→target → audit per window

Stage work is DataFrame transforms against pluggable Source/Sink
connectors; control state lives in the ControlTable. A run is the unit
of work for claiming and staging (``_stage_windows``): one control
rewrite claims every selected window, each window's source is counted
on its own and one rewrite records the counts, one
``Source.extract_windows`` frame, each row tagged with its window, is
written by one ``Sink.load_windows``, and one rewrite completes the
stage. Spark does the data work only: once a ``FileSource``'s schema
is resolved, a run launches one Spark job, the stage write, however
many windows it holds. The loop over
the staged windows (``run_window``) is driver-side, as in the
reference: the target loads each staged window's Parquet files at the
file level (``Sink.load_files``), as the reference's Snowpipe copies
the staged S3 files into the target table — the Parquet sinks copy the
files into place with no job (2.1 ms against 229 ms for Spark's read
and write of a warm hourly window, on 4 cores) — then the audit and
its R3 envelope run. The audit's last transition records the load's
times too, so a window whose audit matches at once costs one control
rewrite, and a ten-window run rewrites the control table 13 times
(3 + N for N windows). Every read and write of the
control table — planning (steps 0-4), gap and duplicate repair, the
state transitions and the SPC gate's XmR points — runs on the driver
through Arrow. A Parquet ``FileSource`` counts the window on the
driver with ``pyarrow``, and the audit counts the target from its
Parquet footers, both with no job. ``run_batch`` is the same run over
every window of a plan: no ``LIMIT`` and no safe boundary, the same
claim, stage write, per-window audit and R3 envelope.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_001_spark.functions import time_fns
from data_pipeline_001_spark.plans.control_table import (
    STAGES,
    ControlTable,
    collected,
    default_record,
    duplicate_losers,
    interior_gaps,
    pct_difference,
    select_pending,
    spark_local,
    stage_completion,
    utc_naive,
)
from data_pipeline_001_spark.sources.base import WINDOW_INDEX, Sink, Source
from data_pipeline_001_spark.sources.file_connectors import window_dir_name


def render_templates(config: dict, max_passes: int = 5) -> dict:
    """F14: substitute ``{key}`` placeholders in string values with
    other config values (reference: hanlder_script.py:174-194 — the
    ``{env}/{index_group}/{index_name}`` pattern). Multi-pass so
    templates may reference templated values; unknown placeholders are
    left intact (same permissive behavior as str.format_map misses in
    the reference's loop)."""
    import re as _re

    out = dict(config)
    for _ in range(max_passes):
        changed = False
        scalars = {k: v for k, v in out.items() if isinstance(v, (str, int, float))}
        for k, v in out.items():
            if not isinstance(v, str) or "{" not in v:
                continue

            def sub(m):
                name = m.group(1)
                return str(scalars[name]) if name in scalars and name != k else m.group(0)

            new = _re.sub(r"\{(\w+)\}", sub, v)
            if new != v:
                out[k] = new
                changed = True
        if not changed:
            break
    return out


def xmr_points(series: list[tuple[datetime, int]]) -> dict[datetime, dict]:
    """``xmr_control_points`` on the driver: the Shewhart XmR point of
    each ``(key, value)`` of a short series (one per pipeline window),
    keyed by ``key``, with the columns that operator gives — ``value``,
    ``xbar``, ``ucl``/``lcl`` = xbar ± 2.66·mRbar, ``n_points`` and
    ``out_of_control`` (None, like Spark's null, with fewer than two
    points)."""
    series = sorted(series, key=lambda p: p[0])
    values = [float(v) for _, v in series]
    ranges = [abs(b - a) for a, b in zip(values, values[1:])]
    xbar = sum(values) / len(values) if values else None
    mrbar = sum(ranges) / len(ranges) if ranges else None
    ucl = lcl = None
    if mrbar is not None:
        ucl, lcl = xbar + 2.66 * mrbar, xbar - 2.66 * mrbar
    return {
        key: {
            "value": v,
            "xbar": xbar,
            "ucl": ucl,
            "lcl": lcl,
            "n_points": len(values),
            "out_of_control": None if ucl is None else (v > ucl or v < lcl),
        }
        for (key, _), v in zip(series, values)
    }


@dataclass
class PipelineConfig:
    """Layered config (reference: hanlder_script.py:117-194 merge of
    drive defaults < index config < Airflow vars)."""

    pipeline_name: str = "pipeline"
    granularity: str = "1h"
    x_time_back: str = "1d"
    max_pipeline_runs: int = 5
    tolerance_pct: float = 1.0
    timezone: str = "UTC"
    source_desc: tuple[str, str, str] = ("events", "file", "parquet")
    target_desc: tuple[str, str, str] = ("target", "file", "parquet")
    audit_base_wait_s: float = 60.0  # reference's nominal base wait (Snowpipe)
    audit_wait_scale: float = 0.0  # 0 = compute schedule but never block (sync sinks)
    # post-audit SPC gate (beyond the reference: audit_manager.py stops
    # at per-window count tolerance; the XmR chart over the control
    # table's own count series flags process-level anomalies — a window
    # that audits clean but is wildly out of line with history)
    spc_gate: bool = False
    spc_min_points: int = 6  # XmR limits are meaningless below this
    # F12 duration-estimate knobs (source_discovery_manager.py:190-202)
    avg_records_per_window: int = 100_000
    skew_factor: float = 0.5
    base_source_to_stage_minutes: int = 10
    base_stage_to_target_minutes: int = 5
    base_audit_minutes: int = 2
    extras: dict = field(default_factory=dict)

    @classmethod
    def merged(cls, *layers: dict) -> "PipelineConfig":
        """Merge config layers, later layers win (hanlder_script.py:117-132),
        then resolve ``{placeholder}`` templates against the merged
        values (F14, hanlder_script.py:174-194)."""
        final: dict = {}
        for layer in layers:
            final.update({k: v for k, v in layer.items() if v is not None})
        final = render_templates(final)
        known = {f for f in cls.__dataclass_fields__ if f != "extras"}
        kwargs = {k: v for k, v in final.items() if k in known}
        kwargs["extras"] = {k: v for k, v in final.items() if k not in known}
        return cls(**kwargs)


@dataclass
class RunResult:
    processed: int = 0
    completed: int = 0
    failed: int = 0
    reset: int = 0
    skipped_existing: int = 0
    exited_for_concurrency: bool = False


class WindowPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        source: Source,
        stage_sink: Sink,
        target_sink: Sink,
        control: ControlTable,
    ):
        self.spark = spark
        self.config = config
        self.source = source
        self.stage_sink = stage_sink
        self.target_sink = target_sink
        self.control = control
        # the extract schema of each window the latest stage write staged
        self._staged: dict[str, T.StructType] = {}

    def _scoped_rows(self, where=None) -> pa.Table:
        """THIS pipeline's control rows for which the optional mask
        ``where(batch)`` also holds, read on the driver: no Spark job.
        The reference always scopes drive-table operations by source
        name/category/subcategory (pending_records_selector.py), so a
        shared control table never lets one pipeline claim, reap, or
        overwrite another's windows."""
        c = self.config

        def keep(t: pa.Table) -> pa.ChunkedArray:
            mask = pc.equal(t["pipeline_name"], c.pipeline_name)
            for col, value in zip(
                ("source_name", "source_category", "source_subcategory"), c.source_desc
            ):
                mask = pc.and_(mask, pc.equal(t[col], value))
            return mask if where is None else pc.and_(mask, where(t))

        return self.control.rows(keep)

    # ------------------------------------------------------------------ #
    # Step 0 — populate (state_manager.populate_pipeline_batches)
    # ------------------------------------------------------------------ #

    def populate(self, start: datetime, end: datetime) -> int:
        """Plan windows over [start, end): insert control rows for any
        window not already present (fresh start AND backfill collapse
        into one anti-join — J1 — instead of the reference's two code
        paths, state_manager.py:268-294 / 679-753). The spine and the
        anti-join run on the driver: no Spark job."""
        existing = set(
            self._scoped_rows()["source_query_window_start_time"].to_pylist()
        )
        tz = time_fns.session_tzinfo(self.spark)
        records = []
        for ws, we in time_fns.window_bounds(start, end, self.config.granularity, tz):
            if ws in existing:
                continue
            ws, we = spark_local(ws), spark_local(we)
            records.append(
                default_record(
                    self.config.pipeline_name,
                    self.config.source_desc,
                    self.config.target_desc,
                    ws,
                    we,
                    stage_path=window_dir_name(ws, tz),
                    tolerance_pct=self.config.tolerance_pct,
                )
            )
        return self.control.append_records(records)

    def fill_gaps(self) -> int:
        """Backfill: detect per-day coverage gaps in this pipeline's
        control rows (W1) and insert windows at the pipeline
        granularity (M7), on the driver: no Spark job."""
        inserted = 0
        for start, end in interior_gaps(self._scoped_rows()):
            # the stored bounds are naive UTC: hand populate the instants
            inserted += self.populate(
                start.replace(tzinfo=timezone.utc), end.replace(tzinfo=timezone.utc)
            )
        return inserted

    def resolve_duplicate_windows(self) -> int:
        """W3 + M6: delete all but the best record per window key, on
        the driver: no Spark job.

        Deletion keys on unique_run_id — identical re-planned windows
        share the deterministic unique_source_id, so run id is the
        only column that tells the copies apart.
        """
        losers = duplicate_losers(self._scoped_rows())["unique_run_id"].to_pylist()
        self.control.delete_records(losers, key_col="unique_run_id")
        return len(losers)

    # ------------------------------------------------------------------ #
    # Step 1/2 — progress validation & concurrency guard
    # ------------------------------------------------------------------ #

    def _acceptable_runtime_minutes(self, row) -> float:
        """Σ expected stage durations, floor 10 min
        (progress_validator.py:82-159 semantics)."""
        total = 0
        for s in STAGES:
            total += row[f"{s}_expected_duration_minutes"] or 0
        return max(float(total), 10.0)

    def validate_in_progress(self, now: datetime | None = None) -> tuple[int, int]:
        """Returns (valid_count, reset_count). Stale rows (runtime >
        acceptable) get the selective M5 reset. The stored start times
        are naive UTC; a naive ``now`` is taken as UTC too.

        A row's acceptable runtime is its run's: the windows one rewrite
        claimed (``_stage_windows``) share their ``pipeline_start_time``,
        and each may run for the sum of their acceptable runtimes,
        whatever their status now, since the run stages them all before
        it loads and audits each in turn."""
        now = now or datetime.now(timezone.utc)
        if now.tzinfo is not None:
            now = utc_naive(now)
        rows = self._scoped_rows(
            lambda t: pc.equal(t["pipeline_status"], "in_progress")
        ).to_pylist()
        starts = pa.array(
            {r["pipeline_start_time"] for r in rows} - {None}, pa.timestamp("us")
        )
        allowed: dict[datetime, float] = dict.fromkeys(starts.to_pylist(), 0.0)
        if allowed:
            claimed = self._scoped_rows(
                lambda t: pc.is_in(t["pipeline_start_time"], value_set=starts)
            ).to_pylist()
            for r in claimed:
                allowed[r["pipeline_start_time"]] += self._acceptable_runtime_minutes(r)
        stale, valid = [], 0
        for r in rows:
            started = r["pipeline_start_time"]
            runtime_min = (
                (now - started).total_seconds() / 60.0 if started else float("inf")
            )
            if runtime_min > allowed.get(started, 0.0):
                stale.append(r["unique_source_id"])
            else:
                valid += 1
        self.control.reset_stale_in_progress(stale)
        return valid, len(stale)

    # ------------------------------------------------------------------ #
    # Step 3/4 — pending selection + safe boundary
    # ------------------------------------------------------------------ #

    def pending_records(self, now: datetime | None = None) -> list:
        """The windows to run now, as ``Row``s in the order to run them
        (W5), from the driver: no Spark job. The safe boundary is ``now``
        floored in UTC, minus ``x_time_back``; a naive ``now`` is taken
        as UTC, as in ``validate_in_progress``."""
        now = now or datetime.now(timezone.utc)
        if now.tzinfo is None:
            now = now.replace(tzinfo=timezone.utc)
        boundary = pa.scalar(
            utc_naive(time_fns.rounded_past_timestamp(self.config.x_time_back, now)),
            pa.timestamp("us"),
        )
        rows = self._scoped_rows(
            lambda t: pc.less_equal(t["source_query_window_start_time"], boundary)
        )
        return collected(select_pending(rows, self.config.max_pipeline_runs))

    # ------------------------------------------------------------------ #
    # Step 5 — per-window stage execution
    # ------------------------------------------------------------------ #

    def _duration_estimates(self, source_count: int) -> dict[str, int]:
        """F12: per-stage expected durations from the discovery count
        (source_discovery_manager.py:186-271): linear for transfer,
        power-0.6 for load, sqrt for audit; ×(1+skew), floored at each
        stage's base. ratio<=1 short-circuits to the bases. Same curves
        as the column form `functions/hash_fns.py:scaled_duration_estimate`
        (oracle-checked by `scalar_duration_curves`); this is the
        one-control-row scalar path."""
        import math

        cfg = self.config
        avg = float(cfg.avg_records_per_window)
        ratio = source_count / avg if avg > 0 else 1.0
        bases = {
            "source_to_stage": float(cfg.base_source_to_stage_minutes),
            "stage_to_target": float(cfg.base_stage_to_target_minutes),
            "audit": float(cfg.base_audit_minutes),
        }
        if ratio <= 1.0:
            scaled = dict(bases)
        else:
            scaled = {
                "source_to_stage": bases["source_to_stage"] * ratio,
                "stage_to_target": bases["stage_to_target"] * ratio**0.6,
                "audit": bases["audit"] * math.sqrt(ratio),
            }
        skew = 1.0 + cfg.skew_factor
        return {
            f"{s}_expected_duration_minutes": max(int(scaled[s] * skew), int(bases[s]))
            for s in bases
        }

    def _stage_windows(self, records: list) -> tuple[list, int]:
        """Stages 1-2 for a run's windows ``records``, together.

        One rewrite claims them all. Each window's source is counted on
        its own (a discovery error fails only that window), and one
        rewrite records every count with its F12 duration estimates
        (staleness reaping keys on these, so a heavy window gets a
        proportionally longer acceptable runtime). One
        ``source.extract_windows`` gives the run's rows, each tagged
        with its window (``WINDOW_INDEX``); the stage sink writes them
        with one ``load_windows``, and one rewrite completes the stage
        for every window. A stage-write error fails every window of the
        run at ``source_to_stage``; the next run selects them again.

        Returns the staged windows' refreshed control rows, in the order
        of ``records``, and the number of windows that failed. The
        windows of one run must not overlap (``populate`` plans a
        disjoint spine)."""
        if not records:
            return [], 0
        self.control.claim([r["unique_source_id"] for r in records])

        # Stage 1 — source discovery
        t0 = datetime.now(timezone.utc)
        counts: dict[str, int] = {}
        for r in records:
            sid = r["unique_source_id"]
            try:
                counts[sid] = self.source.count(
                    r["source_query_window_start_time"], r["source_query_window_end_time"]
                )
            except Exception as exc:  # noqa: BLE001 — the reference records any stage error
                self.control.fail_stage([sid], "source_discovery", str(exc))
        found = [r for r in records if r["unique_source_id"] in counts]
        if not found:
            return [], len(records)
        ids = [r["unique_source_id"] for r in found]
        estimates = [self._duration_estimates(counts[sid]) for sid in ids]
        self.control.complete_stage(
            ids,
            "source_discovery",
            t0,
            extra={
                "source_count": [counts[sid] for sid in ids],
                **{k: [e[k] for e in estimates] for k in estimates[0]},
            },
        )

        # Stage 2 — source → stage (idempotence short-circuit S3, clean
        # S4, extract S2), one write for the run
        t0 = datetime.now(timezone.utc)
        bounds = list(
            dict.fromkeys(
                (r["source_query_window_start_time"], r["source_query_window_end_time"])
                for r in found
            )
        )
        try:
            for s, e in bounds:
                if self.stage_sink.exists(s, e):
                    self.stage_sink.clean(s, e)
            extracted = self.source.extract_windows(bounds)
            self.stage_sink.load_windows(extracted, bounds)
        except Exception as exc:  # noqa: BLE001
            self.control.fail_stage(ids, "source_to_stage", str(exc))
            return [], len(records)
        # write-path loss check: each staged window's footer count must
        # already match its plan-time source count — an extract-side
        # filter or shape bug shows here, a stage earlier than the audit
        for r in found:
            s, e = r["source_query_window_start_time"], r["source_query_window_end_time"]
            written = self.stage_sink.count(s, e)
            if written != counts[r["unique_source_id"]]:
                from data_pipeline_001_spark.utils import pipeline_log

                pipeline_log.info(
                    "stage write row-count drift vs plan-time source count",
                    log_key="StageWrite",
                    status="WRITE_DRIFT",
                    window=str(s),
                    source_count=counts[r["unique_source_id"]],
                    written_rows=written,
                )
        self.control.complete_stage(ids, "source_to_stage", t0)
        schema = T.StructType([f for f in extracted.schema if f.name != WINDOW_INDEX])
        self._staged = dict.fromkeys(ids, schema)
        keys = pa.array(ids, pa.string())
        refreshed = {
            r["unique_source_id"]: r
            for r in collected(
                self._scoped_rows(lambda t: pc.is_in(t["unique_source_id"], value_set=keys))
            )
        }
        return [refreshed[sid] for sid in ids], len(records) - len(found)

    def run_window(self, record) -> str:
        """Stages 3-4 for one control row that the latest stage write
        staged (``run`` passes each window's refreshed row): the target
        loads the staged files, then the audit, its R3 envelope and the
        optional SPC gate. The load's times are written by the audit's
        last transition, so a window whose audit matches at once costs
        one control rewrite. Any other row, such as a pending one, is
        first staged as a run of one window, through the same
        ``_stage_windows`` (one Spark job). Returns the final status:
        'completed' | 'failed' | 'reset'."""
        sid = record["unique_source_id"]
        if sid not in self._staged:
            staged, _ = self._stage_windows([record])
            if not staged:
                return "failed"
            record = staged[0]
        schema = self._staged.pop(sid)
        start = record["source_query_window_start_time"]
        end = record["source_query_window_end_time"]

        loaded = None
        try:
            # Stage 3 — stage → target (S6/S7/S5): the target loads
            # the staged window's files (one directory, written with
            # the extract's schema) — a file copy for the Parquet sinks
            t0 = datetime.now(timezone.utc)
            if self.target_sink.exists(start, end):
                self.target_sink.clean(start, end)
            self.target_sink.load_files(
                self.stage_sink._window_path(start),  # type: ignore[attr-defined]
                schema,
                start,
                end,
            )
            loaded = stage_completion("stage_to_target", t0, datetime.now(timezone.utc))

            # Stage 4 — audit (A4 recount, A5 reconciliation, R3 retry)
            status = self._audit(sid, start, end, record["source_count"], loaded)
            # Stage 4b (optional) — post-audit SPC gate: the window's
            # audited count joins the pipeline's metrics series (the
            # control table itself) and is checked against the XmR
            # process limits
            if status == "completed" and self.config.spc_gate:
                # Observability only: an error inside the SPC check must
                # never flip a window whose audit actually PASSED back
                # to failed (that would corrupt control-table status
                # and trigger a spurious reset).
                try:
                    self._spc_check(start)
                except Exception as spc_exc:  # noqa: BLE001
                    from data_pipeline_001_spark.utils import pipeline_log

                    pipeline_log.info(
                        "SPC gate check errored (ignored; audit stands)",
                        log_key="Audit",
                        status="SPC_CHECK_ERROR",
                        window=str(start),
                        error=str(spc_exc),
                    )
            return status
        except Exception as exc:  # noqa: BLE001 — reference records any stage error
            # fail the stage that actually raised (reference keeps other
            # stages' state untouched: record_status_updater.py:102-123);
            # an audit error records the completed load with it
            stage = "stage_to_target" if loaded is None else "audit"
            self.control.fail_stage([sid], stage, str(exc), extra=loaded)
            return "failed"

    def audit_spc_flags(self) -> DataFrame:
        """XmR control points over THIS pipeline's audited window
        counts — the post-audit SPC gate series. Each completed
        window's ``target_count`` is one individuals-chart point; the
        returned frame carries (window_start, value, xbar, ucl, lcl,
        n_points, out_of_control). The reference's audit ends at count
        tolerance (audit_manager.py:385-392); this catches the window
        whose count RECONCILES (source == target) but is anomalous
        against the pipeline's own history — a dropped upstream feed
        or a double-fired schedule produces exactly that signature."""
        from data_pipeline_001_spark.operators.constraints import (
            xmr_control_points,
        )

        c = self.config
        series = (
            self.control.read()
            .where(
                (F.col("pipeline_name") == c.pipeline_name)
                & (F.col("source_name") == c.source_desc[0])
                & (F.col("source_category") == c.source_desc[1])
                & (F.col("source_subcategory") == c.source_desc[2])
                & (F.col("audit_status") == "completed")
                & F.col("target_count").isNotNull()
            )
            .select(
                F.col("source_query_window_start_time").alias(
                    "window_start"
                ),
                "target_count",
            )
        )
        return xmr_control_points(series, "window_start", "target_count")

    def _spc_check(self, start) -> None:
        """Log an SPC verdict for the just-audited window (run-flow
        hook behind ``config.spc_gate``): its XmR point over this
        pipeline's audited counts, the point ``audit_spc_flags`` gives,
        computed on the driver from the control rows with no Spark job."""
        from data_pipeline_001_spark.utils import pipeline_log

        r = self._spc_points().get(start)
        if r is None or r["n_points"] < self.config.spc_min_points:
            return
        if r["out_of_control"]:
            pipeline_log.info(
                "window count out of control vs process history",
                log_key="Audit",
                status="SPC_OUT_OF_CONTROL",
                window=str(start),
                target_count=int(r["value"]),
                ucl=round(r["ucl"], 2),
                lcl=round(r["lcl"], 2),
            )

    def _spc_points(self) -> dict[datetime, dict]:
        """``audit_spc_flags``' rows by window start, from the driver."""
        rows = self._scoped_rows(
            lambda t: pc.and_(
                pc.equal(t["audit_status"], "completed"), pc.is_valid(t["target_count"])
            )
        ).select(["source_query_window_start_time", "target_count"])
        return xmr_points([tuple(r) for r in collected(rows)])

    def _sleep(self, seconds: float) -> None:
        """Audit wait hook. The reference sleeps real wall-clock between
        Snowpipe recounts; sync sinks set audit_wait_scale=0 (default)
        so the SCHEDULE is still computed/logged but nothing blocks.
        Tests may monkeypatch this to record the schedule."""
        if seconds > 0 and self.config.audit_wait_scale > 0:
            time.sleep(seconds * self.config.audit_wait_scale)

    def _audit(self, sid, start, end, src_count, loaded: dict) -> str:
        """A5 + R3: the reference's full two-phase adaptive envelope
        (audit_manager.py:123-383), after the target load whose
        ``stage_completion`` is ``loaded``: ``done`` writes it with the
        audit's result, in one rewrite. A first mismatch writes it
        before the first wait, so a window that waits for a lagging sink
        shows as loaded.

        Phase 1 — initial count; mismatch → tiered base attempts from
        |pct| (2–6), one base wait, recount. Match → done; no
        improvement → clean + reset.

        Phase 2 — improvement detected: extra retries + wait multiplier
        from the records/sec rate; waits grow ×(1+0.1·n), capped 180 s;
        two consecutive non-improving recounts abort; exhaustion →
        clean + reset (M4).
        """
        from data_pipeline_001_spark.utils import (
            adaptive_phase2_params,
            base_retry_attempts,
            phase2_wait_seconds,
            pipeline_log,
        )

        tol = self.config.tolerance_pct
        base_wait = self.config.audit_base_wait_s
        t0 = datetime.now(timezone.utc)

        def done(tgt: int) -> str:
            self.control.complete_stage(
                [sid],
                "audit",
                t0,
                extra={
                    **loaded,
                    "target_count": tgt,
                    "count_difference": tgt - src_count,
                    "count_difference_percentage": pct_difference(src_count, tgt),
                    "count_match_status": "matched",
                },
            )
            return "completed"

        def clean_reset() -> str:
            # mismatch → clean + full reset (audit_manager.py:435-516)
            self.stage_sink.clean(start, end)
            self.target_sink.clean(start, end)
            self.control.reset_after_audit_mismatch(sid)
            return "reset"

        initial = self.target_sink.count(start, end)
        initial_pct = pct_difference(src_count, initial)
        if abs(initial_pct) <= tol:
            return done(initial)

        # Phase 1 (audit_manager.py:125-199)
        base_attempts = base_retry_attempts(initial_pct)
        pipeline_log.info(
            "audit mismatch — starting adaptive retry",
            log_key="Audit",
            status="PHASE_1_STARTED",
            source_count=src_count,
            initial_target_count=initial,
            initial_pct=f"{initial_pct:.2f}%",
            base_retry_attempts=base_attempts,
        )
        self.control.update_where([sid], loaded)
        self._sleep(base_wait)
        first = self.target_sink.count(start, end)
        if abs(pct_difference(src_count, first)) <= tol:
            return done(first)
        improvement = first - initial
        if improvement <= 0:
            pipeline_log.info(
                "no improvement — cleanup and reset",
                log_key="Audit",
                status="NO_IMPROVEMENT_CLEANUP",
            )
            return clean_reset()

        # Phase 2 (audit_manager.py:235-383)
        rate = improvement / 60.0  # records/sec over the nominal base wait
        max_total, mult = adaptive_phase2_params(rate, base_attempts)
        pipeline_log.info(
            "improvement detected — adaptive phase 2",
            log_key="Audit",
            status="PHASE_2_ACTIVATED",
            improvement=improvement,
            improvement_rate=f"{rate:.2f} records/sec",
            max_total_retries=max_total,
            wait_multiplier=mult,
        )
        prev = first
        consecutive_no_improvement = 0
        for retry_num in range(2, max_total + 1):
            self._sleep(phase2_wait_seconds(retry_num, mult, base_wait))
            new = self.target_sink.count(start, end)
            if abs(pct_difference(src_count, new)) <= tol:
                return done(new)
            if new > prev:
                consecutive_no_improvement = 0
            else:
                consecutive_no_improvement += 1
                if consecutive_no_improvement >= 2:
                    break
            prev = new
        return clean_reset()

    # ------------------------------------------------------------------ #
    # the full run loop
    # ------------------------------------------------------------------ #

    def run(
        self,
        plan_start: datetime,
        plan_end: datetime,
        now: datetime | None = None,
    ) -> RunResult:
        """One DAG run: plan ``[plan_start, plan_end)`` (step 0), reap
        stale work and exit while valid ``in_progress`` work exists
        (steps 1-2), select up to ``max_pipeline_runs`` pending windows
        (steps 3-4), stage them together (``_stage_windows``: one claim,
        one stage write) and run stages 3-4 for each staged window
        through ``run_window``, in W5 order. A discovery error fails only
        its window; a stage-write error fails every window of the run at
        ``source_to_stage``. A later run selects a failed window again
        (``select_pending``) and runs it again from discovery."""
        result = RunResult()
        self.populate(plan_start, plan_end)
        valid, result.reset = self.validate_in_progress(now)
        if valid:
            result.exited_for_concurrency = True
            return result
        return self._run_windows(self.pending_records(now), result)

    def _run_windows(self, records: list, result: RunResult) -> RunResult:
        """Step 5 for the selected windows ``records``, counted into
        ``result``: stage them together (``_stage_windows``: one claim,
        one stage write), then stages 3-4 for each staged window
        through ``run_window``, in the order of ``records``."""
        staged, failed = self._stage_windows(records)
        result.processed += failed
        result.failed += failed
        for record in staged:
            status = self.run_window(record)
            result.processed += 1
            if status == "completed":
                result.completed += 1
            elif status == "failed":
                result.failed += 1
            else:
                result.reset += 1
        return result

    def run_batch(self, plan_start: datetime, plan_end: datetime) -> DataFrame:
        """``run`` over every window of the plan ``[plan_start, plan_end)``:
        it reaps stale work and exits while valid ``in_progress`` work
        exists (R5), plans the windows, then runs every planned window
        that ``select_pending`` takes (pending, or failed under its retry
        limit), with no ``LIMIT`` and no safe boundary, through the same
        claim, stage write, and per-window load, audit and R3 envelope.
        Completed windows are not run again. A naive plan bound is a wall
        time in the session time zone, as ``populate`` reads it.

        Returns the plan's audit frame (window_start, source_count,
        target_count), read from its control rows after the run: a
        window with no source rows audits 0 = 0, and a window that did
        not complete has null counts (M4 clears them). While another run
        holds windows of this pipeline, the frame is empty and nothing
        is planned or loaded."""
        audit_schema = "window_start timestamp, source_count long, target_count long"
        valid, _ = self.validate_in_progress()
        if valid:
            return self.spark.createDataFrame([], audit_schema)
        tz = time_fns.session_tzinfo(self.spark)
        # utc_naive would read a naive bound as the process's local time
        plan_start, plan_end = (
            t.astimezone(tz) if t.tzinfo else t.replace(tzinfo=tz)
            for t in (plan_start, plan_end)
        )
        self.populate(plan_start, plan_end)
        lo, hi = (pa.scalar(utc_naive(t), pa.timestamp("us")) for t in (plan_start, plan_end))

        def in_plan(t: pa.Table) -> pa.ChunkedArray:
            start = t["source_query_window_start_time"]
            return pc.and_(pc.greater_equal(start, lo), pc.less(start, hi))

        planned = self._scoped_rows(in_plan)
        self._run_windows(collected(select_pending(planned, planned.num_rows)), RunResult())
        return self.spark.createDataFrame(
            [
                (r["source_query_window_start_time"], r["source_count"], r["target_count"])
                for r in collected(self._scoped_rows(in_plan))
            ],
            audit_schema,
        )

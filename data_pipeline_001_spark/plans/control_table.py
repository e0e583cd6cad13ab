"""Control table — the reference's 65-column Snowflake "drive table"
(core/state_manager.py:87-162) as a Parquet directory whose mutations
run on the driver through Arrow.

One row per processing window; simultaneously work queue, lock, audit
ledger, and backfill planner. Mutations M1..M7 (SURVEY.md §2.9) are
keyed column rewrites — ``if_else(key ∈ ids, new, old)`` over
``pyarrow`` batches — followed by an atomic directory swap (write temp +
rename), the lake equivalent of the reference's row-level ``UPDATE``.

Storage contract: a flat, unpartitioned directory of Parquet files
holding ``CONTROL_SCHEMA``. Timestamps are INT96 holding naive UTC
values — what Spark writes by default — so Spark reads them as
TIMESTAMP and DuckDB as a naive TIMESTAMP. Every mutation streams the
live table through the driver in batches of ``_BATCH_ROWS`` rows into
one ``part-00000.parquet`` in a temp directory and renames it over the
live one; a mutation that fails removes its temp directory and leaves
the table as it was. A table Spark wrote (several part files,
``_SUCCESS``, ``.crc``) is read as it is and becomes one file at its
first mutation. ``WindowPipeline`` reads the table only through
``rows()`` and writes it only through the mutations below, all on the
driver: its planners (populate's anti-join, gap detection W1,
duplicate resolution W3, the stale-run check, pending selection W5)
filter ``rows()`` with ``pyarrow.compute``, ``append_records``
computes the F9 md5 ids with ``hashlib``, and every state transition
(claim, stage completion, failure, reset, delete and
``merge_audit_results``, which the pipeline does not call) is a column
rewrite keyed on ``unique_source_id``. ``update_where`` is the keyed rewrite that claim,
stage completion and failure share: one rewrite for a list of ids,
with a value per id where one is given, so a run claims and stages all
of its windows in one rewrite each, and a stage's transition can carry
an earlier stage's ``stage_completion``, so a window's audit records
its target load in the same rewrite. None of them starts a Spark job.
``read()`` hands Spark a DataFrame for ``audit_spc_flags`` and outside
readers.

One writer process at a time: every mutation rewrites the whole table
and then does two renames, so two processes mutating one table lose
each other's updates, and between the renames the live path does not
exist. In a probe where two processes each claimed their own 24 windows
of one table at once, 18+6, 10+15 and 0+24 of the 48 claims survived
over three runs. One file per pipeline and day (ROADMAP.md, direction
5) is the fix; until then, give each concurrently running pipeline its
own table.

Scale posture: the control table holds one row per *window*, not per
record — a year of hourly windows across 1000 pipelines is ~9M rows.
Every mutation rewrites the whole table through one driver-side
writer that holds one batch at a time (peak driver Python RSS at most
0.42 GB, measured up to 9M rows). One ``complete_stage``
on 4 cores: ~8 ms at 10 rows, ~0.23 s at 100k, 2.0 s at 1M, 6.0 s at
3M and 18.5 s at 9M rows (the Spark read-modify-write it replaced:
~0.58 s at 10 rows, 2.7 s, 8.7 s, 15.7 s and 40 s, with a 3-5 GB
driver JVM from 1M rows up). A run rewrites the table 3 + N times
for N windows (13 for a ten-window run). At ~2 s per million rows, one
table shared by 1000 hourly pipelines keeps pace up to about 1.4M rows
when each run takes ten windows (1.3 rewrites per window), and up to
about 450k rows when each takes one (4 rewrites); past that, use one
table per pipeline or per period.
"""

from __future__ import annotations

import itertools
import os
import shutil
import uuid
from collections.abc import Callable, Iterable, Iterator
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from data_pipeline_001_spark.functions.hash_fns import composite_md5_hex
from data_pipeline_001_spark.functions.time_fns import session_tzinfo

PIPELINE_STATUSES = ("pending", "in_progress", "completed", "failed")
STAGES = ("source_discovery", "source_to_stage", "stage_to_target", "audit")
STAGE_NUMBER = {s: i + 1 for i, s in enumerate(STAGES)}
#: ``select_pending`` selects a ``failed`` window again while its
#: ``pipeline_retry_count`` is below this, as the R1 retry decorator
#: tries a call three times; past it the window stays ``failed``
FAILED_RETRY_LIMIT = 3


def _stage_fields(stage: str) -> list[T.StructField]:
    return [
        T.StructField(f"{stage}_is_enabled", T.BooleanType()),
        T.StructField(f"{stage}_status", T.StringType()),
        T.StructField(f"{stage}_start_time", T.TimestampType()),
        T.StructField(f"{stage}_end_time", T.TimestampType()),
        T.StructField(f"{stage}_expected_duration_minutes", T.IntegerType()),
        T.StructField(f"{stage}_actual_duration_minutes", T.IntegerType()),
        T.StructField(f"{stage}_result", T.StringType()),
    ]


CONTROL_SCHEMA = T.StructType(
    [
        # identity (state_manager.py:89-92)
        T.StructField("unique_source_id", T.StringType(), False),
        T.StructField("unique_run_id", T.StringType()),
        T.StructField("unique_stage_id", T.StringType()),
        T.StructField("unique_target_id", T.StringType()),
        # pipeline metadata (state_manager.py:94-104)
        T.StructField("triggered_by", T.StringType()),
        T.StructField("pipeline_name", T.StringType()),
        T.StructField("pipeline_priority", T.DoubleType()),
        T.StructField("pipeline_start_time", T.TimestampType()),
        T.StructField("pipeline_end_time", T.TimestampType()),
        T.StructField("pipeline_status", T.StringType()),
        T.StructField("pipeline_error_details", T.StringType()),
        T.StructField("pipeline_retry_count", T.IntegerType()),
        T.StructField("completed_stage_number", T.IntegerType()),
        T.StructField("record_first_inserted_time", T.TimestampType()),
        T.StructField("record_last_updated_time", T.TimestampType()),
        # source/stage/target descriptors (state_manager.py:106-116)
        T.StructField("source_name", T.StringType()),
        T.StructField("source_category", T.StringType()),
        T.StructField("source_subcategory", T.StringType()),
        T.StructField("stage_name", T.StringType()),
        T.StructField("stage_category", T.StringType()),
        T.StructField("stage_subcategory", T.StringType()),
        T.StructField("target_name", T.StringType()),
        T.StructField("target_category", T.StringType()),
        T.StructField("target_subcategory", T.StringType()),
        # query window (state_manager.py:118-121)
        T.StructField("source_query_window_start_time", T.TimestampType()),
        T.StructField("source_query_window_end_time", T.TimestampType()),
        T.StructField("source_query_window_duration_minutes", T.IntegerType()),
        T.StructField("query_window_start_day", T.DateType()),
        # per-stage state ×4 (state_manager.py:123-153)
        *_stage_fields("source_discovery"),
        *_stage_fields("source_to_stage"),
        *_stage_fields("stage_to_target"),
        *_stage_fields("audit"),
        # audit metrics (state_manager.py:155-160)
        T.StructField("source_count", T.LongType()),
        T.StructField("target_count", T.LongType()),
        T.StructField("count_difference", T.LongType()),
        T.StructField("count_difference_percentage", T.DoubleType()),
        T.StructField("accepted_tolerance_percentage", T.DoubleType()),
        T.StructField("count_match_status", T.StringType()),
    ]
)


#: the Arrow form of CONTROL_SCHEMA that every write conforms to
ARROW_SCHEMA = pa.schema(
    [
        pa.field(
            f.name,
            {
                T.StringType: pa.string(),
                T.BooleanType: pa.bool_(),
                T.IntegerType: pa.int32(),
                T.LongType: pa.int64(),
                T.DoubleType: pa.float64(),
                T.DateType: pa.date32(),
                T.TimestampType: pa.timestamp("us"),
            }[type(f.dataType)],
            f.nullable,
        )
        for f in CONTROL_SCHEMA.fields
    ]
)


def _utcnow() -> datetime:
    """The one clock of every transition time: now, as an aware UTC
    instant (``_assign`` stores it as naive UTC)."""
    return datetime.now(timezone.utc)


def stage_completion(stage: str, started: datetime, ended: datetime) -> dict[str, object]:
    """The assignments that record ``stage`` completed from ``started``
    to ``ended`` (a naive time is local time, as Spark reads it); the
    last stage completes the pipeline too."""
    started, ended = started.astimezone(timezone.utc), ended.astimezone(timezone.utc)
    assign: dict[str, object] = {
        f"{stage}_status": "completed",
        f"{stage}_start_time": started,
        f"{stage}_end_time": ended,
        f"{stage}_actual_duration_minutes": max(
            int((ended - started).total_seconds() // 60), 0
        ),
        "completed_stage_number": STAGE_NUMBER[stage],
    }
    if stage == STAGES[-1]:
        assign["pipeline_status"] = "completed"
        assign["pipeline_end_time"] = ended
    return assign


def default_record(
    pipeline_name: str,
    source: tuple[str, str, str],
    target: tuple[str, str, str],
    window_start: datetime,
    window_end: datetime,
    stage_path: str,
    tolerance_pct: float = 1.0,
    triggered_by: str = "engine",
    priority: float = 1.0,
) -> dict:
    """Build one control row with reference defaults
    (config/drive_table_defaults.json:2-65; id gen state_manager.py:419-484)."""
    # naive local time, the form of the window bounds callers pass:
    # Spark, and ``append_records``, read a naive datetime as local time
    now = _utcnow().astimezone().replace(tzinfo=None)
    base = {f.name: None for f in CONTROL_SCHEMA.fields}
    dur = int((window_end - window_start).total_seconds() // 60)
    # placeholder — append_records derives the real md5 ids (F9)
    base["unique_source_id"] = ""
    base.update(
        triggered_by=triggered_by,
        pipeline_name=pipeline_name,
        pipeline_priority=priority,
        pipeline_status="pending",
        pipeline_retry_count=0,
        completed_stage_number=0,
        record_first_inserted_time=now,
        record_last_updated_time=now,
        source_name=source[0],
        source_category=source[1],
        source_subcategory=source[2],
        stage_name=stage_path,
        stage_category="filesystem",
        stage_subcategory="parquet",
        target_name=target[0],
        target_category=target[1],
        target_subcategory=target[2],
        source_query_window_start_time=window_start,
        source_query_window_end_time=window_end,
        source_query_window_duration_minutes=dur,
        query_window_start_day=window_start.date(),
        accepted_tolerance_percentage=tolerance_pct,
        count_match_status="pending",
    )
    for s in STAGES:
        base[f"{s}_is_enabled"] = True
        base[f"{s}_status"] = "pending"
    return base


class ControlTable:
    """Parquet-backed control table with atomic read-modify-overwrite."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- storage -----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def create_if_not_exists(self) -> None:
        """S9: CREATE TABLE IF NOT EXISTS (state_manager.py:56-81)."""
        if not self.exists():
            self._overwrite([])

    def read(self) -> DataFrame:
        self.create_if_not_exists()
        return self.spark.read.schema(CONTROL_SCHEMA).parquet(self.path)

    def rows(self, where: Callable[[pa.Table], pa.ChunkedArray]) -> pa.Table:
        """The rows for which the mask ``where(batch)`` holds (a null
        entry drops the row, like SQL ``WHERE``), read on the driver one
        batch at a time, in ``ARROW_SCHEMA``. No Spark job."""
        return pa.concat_tables(
            [ARROW_SCHEMA.empty_table()]
            + [_conform(t.filter(where(t))) for t in self._tables()]
        )

    def _tables(self) -> Iterator[pa.Table]:
        """The current state on the driver, one bounded batch at a time
        (files whose names start with ``_`` or ``.`` — Spark's
        ``_SUCCESS`` and ``.crc`` — are skipped)."""
        if not self.exists():
            return
        for name in sorted(os.listdir(self.path)):
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            with pq.ParquetFile(
                os.path.join(self.path, name), coerce_int96_timestamp_unit="us"
            ) as part:
                for batch in part.iter_batches(batch_size=_BATCH_ROWS):
                    yield pa.Table.from_batches([batch])

    def _overwrite(self, tables: Iterable[pa.Table]) -> None:
        """Atomic swap: stream ``tables`` into a temp dir, rename it over
        the live one.

        The lake replacement for the reference's transactional UPDATE;
        single-writer per the reference's concurrency model (R5). The
        tables are usually a generator over ``_tables()``: the live
        directory is read while the temp one is written, so the driver
        holds one batch, not the whole table.
        """
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        try:
            with pq.ParquetWriter(
                os.path.join(tmp, "part-00000.parquet"),
                ARROW_SCHEMA,
                use_deprecated_int96_timestamps=True,
            ) as writer:
                for table in tables:
                    writer.write_table(_conform(table))
        except BaseException:
            # a failed mutation leaves the live table as it was
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.isdir(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)

    # -- inserts -----------------------------------------------------------

    def append_records(self, rows: list[dict]) -> int:
        """S8/M7: bulk append (snowflake_utils.py:146-165 analogue).

        The F9 ids are computed on the driver (``composite_md5_hex`` in
        the session time zone), equal to what ``composite_md5_id`` gives
        on the same rows."""
        if not rows:
            return 0
        tz = session_tzinfo(self.spark)
        records = []
        for r in rows:
            source_id = composite_md5_hex(
                {
                    "pipeline_name": r.get("pipeline_name"),
                    "source_name": r.get("source_name"),
                    "window_start": r.get("source_query_window_start_time"),
                    "window_end": r.get("source_query_window_end_time"),
                },
                tz,
            )
            run_id = composite_md5_hex(
                {"source_id": source_id, "inserted": r.get("record_first_inserted_time")}, tz
            )
            records.append(
                {
                    **{k: utc_naive(v) if isinstance(v, datetime) else v for k, v in r.items()},
                    "unique_source_id": source_id,
                    "unique_run_id": run_id,
                }
            )
        table = pa.Table.from_pylist(records, schema=ARROW_SCHEMA)
        self._overwrite(itertools.chain(self._tables(), [table]))
        return len(rows)

    # -- keyed conditional update (the MERGE kernel for M1..M4) ------------

    def update_where(self, ids: list[str], assignments: dict[str, object]) -> None:
        """Rewrite columns on the window rows whose ``unique_source_id``
        is in ``ids``, in one rewrite of the table; one id is the
        one-row case.

        An ``assignments`` value is a literal, a function of the old
        column (``_incremented`` for ``retry_count + 1``), or a list
        holding one value per id, in the order of ``ids``, matched to
        the rows with ``pc.index_in`` as ``merge_audit_results`` matches
        its rows (a duplicated id takes its first value). Every update
        also bumps ``record_last_updated_time`` (reference behavior —
        every UPDATE sets it).
        """
        if isinstance(ids, str):
            raise TypeError("update_where takes a list of ids")
        keys = pa.array(ids, pa.string())
        assignments = {"record_last_updated_time": _utcnow(), **assignments}
        per_id = {
            name: pa.array(
                [utc_naive(v) if isinstance(v, datetime) else v for v in values]
            )
            for name, values in assignments.items()
            if isinstance(values, list)
        }

        def update(t: pa.Table) -> pa.Table:
            at = _positions(t, keys)
            return _assign(
                t,
                pc.is_valid(at),
                {**assignments, **{n: pc.take(v, at) for n, v in per_id.items()}},
            )

        self._overwrite(update(t) for t in self._tables())

    # -- M1..M6 ------------------------------------------------------------

    def claim(self, ids: list[str], run_id: str | None = None) -> None:
        """M1: claim/lock — pending → in_progress (record_status_updater.py:12-31),
        every window of ``ids`` in one rewrite; each gets its own run id
        unless ``run_id`` is given."""
        self.update_where(
            ids,
            {
                "pipeline_status": "in_progress",
                "pipeline_start_time": _utcnow(),
                "unique_run_id": [run_id or uuid.uuid4().hex for _ in ids],
            },
        )

    def complete_stage(
        self,
        ids: list[str],
        stage: str,
        started: datetime,
        extra: dict[str, object] | None = None,
    ) -> None:
        """M2: single-update stage completion
        (source_discovery_manager.py:111-152 et al.) of every window of
        ``ids``, ending now. ``extra`` sets other columns in the same
        rewrite, such as an earlier stage's ``stage_completion``; a
        value may be a list of one value per id, and ``stage``'s own
        columns win over it."""
        self.update_where(ids, {**(extra or {}), **stage_completion(stage, started, _utcnow())})

    def fail_stage(
        self,
        ids: list[str],
        stage: str,
        error: str,
        extra: dict[str, object] | None = None,
    ) -> None:
        """M3: fail/reset one stage, retry_count+1
        (source_discovery_manager.py:154-175; record_status_updater.py:102-123),
        for every window of ``ids``. ``extra`` sets other columns in the
        same rewrite, as in ``complete_stage``."""
        self.update_where(
            ids,
            {
                **(extra or {}),
                f"{stage}_status": "pending",
                f"{stage}_start_time": None,
                f"{stage}_end_time": None,
                "pipeline_status": "failed",
                "pipeline_error_details": error[:4096],
                "pipeline_retry_count": _incremented,
            },
        )

    def reset_after_audit_mismatch(self, unique_source_id: str) -> None:
        """M4: full pipeline reset, keep not_matched + retry_count+1
        (audit_manager.py:435-516)."""
        assign: dict[str, object] = {
            "pipeline_status": "pending",
            "pipeline_start_time": None,
            "pipeline_end_time": None,
            "completed_stage_number": 0,
            "pipeline_retry_count": _incremented,
            "count_match_status": "not_matched",
            "source_count": None,
            "target_count": None,
            "count_difference": None,
            "count_difference_percentage": None,
        }
        for s in STAGES:
            assign[f"{s}_status"] = "pending"
            assign[f"{s}_start_time"] = None
            assign[f"{s}_end_time"] = None
            assign[f"{s}_actual_duration_minutes"] = None
        self.update_where([unique_source_id], assign)

    def reset_stale_in_progress(self, unique_source_ids: list[str]) -> None:
        """M5: selective reset — only non-completed stages
        (invalid_progress_handler.py:106-167)."""
        if not unique_source_ids:
            return
        assignments = {
            "pipeline_status": "pending",
            "pipeline_retry_count": _incremented,
            "record_last_updated_time": _utcnow(),
        }

        def reset(table: pa.Table) -> pa.Table:
            picked = _keyed(table, "unique_source_id", unique_source_ids)
            for s in STAGES:
                done = pc.equal(table[f"{s}_status"], "completed")
                table = _assign(
                    table,
                    pc.and_(picked, pc.invert(done)),
                    {f"{s}_status": "pending", f"{s}_start_time": None,
                     f"{s}_end_time": None},
                )
            return _assign(table, picked, assignments)

        self._overwrite(reset(t) for t in self._tables())

    def delete_records(
        self, ids: list[str], key_col: str = "unique_source_id"
    ) -> None:
        """M6: delete window records (state_manager.py:1107-1137).

        ``key_col='unique_run_id'`` for duplicate resolution: identical
        re-planned windows share the deterministic unique_source_id
        (it hashes pipeline+source+window), so only the run id — which
        folds in the insert time — distinguishes the copies.
        """
        if not ids:
            return
        self._overwrite(
            t.filter(pc.invert(_keyed(t, key_col, ids))) for t in self._tables()
        )

    def merge_audit_results(self, audit: pa.Table) -> None:
        """Columnar MERGE of per-window batch results — ONE overwrite
        for N windows instead of N row updates (M1+M2+A5 for many
        windows at once; ``WindowPipeline`` audits each window through
        ``update_where`` instead; the reference does this row-at-a-time over
        Snowflake, main_pipeline_orchestrator.py:302-404).

        ``audit`` columns: unique_source_id string, source_count long,
        target_count long, one row per window. Every control row whose
        id is in ``audit`` gets the audit metrics; the tolerance check
        decides all four stages completed vs the M4-style reset. Rows
        match on ``unique_source_id``, the key of every other
        transition, and a duplicated id takes its first entry, so the
        merge cannot fan out.
        """
        sc, tc = audit["source_count"], audit["target_count"]
        pcts = pa.array(
            [pct_difference(s, t) for s, t in zip(sc.to_pylist(), tc.to_pylist())],
            pa.float64(),
        )
        now = _utcnow()

        def merge(t: pa.Table) -> pa.Table:
            at = _positions(t, audit["unique_source_id"])
            matched = pc.is_valid(at)
            src, tgt, pct = pc.take(sc, at), pc.take(tc, at), pc.take(pcts, at)
            ok = pc.less_equal(
                pc.abs(pct), pc.fill_null(t["accepted_tolerance_percentage"], 0.0)
            )
            t = _assign(
                t,
                matched,
                {
                    "source_count": src,
                    "target_count": tgt,
                    "count_difference": pc.subtract(tgt, src),
                    "count_difference_percentage": pct,
                    "record_last_updated_time": now,
                },
            )
            t = _assign(
                t,
                pc.and_(matched, ok),
                {
                    "pipeline_status": "completed",
                    "pipeline_end_time": now,
                    "completed_stage_number": 4,
                    "count_match_status": "matched",
                    **{f"{s}_status": "completed" for s in STAGES},
                },
            )
            return _assign(
                t,
                pc.and_(matched, pc.invert(ok)),
                {
                    "pipeline_status": "pending",
                    "completed_stage_number": 0,
                    "count_match_status": "not_matched",
                    **{f"{s}_status": "pending" for s in STAGES},
                },
            )

        self._overwrite(merge(t) for t in self._tables())


#: rows per batch a mutation holds on the driver (~70 MB of control rows)
_BATCH_ROWS = 131_072


def _conform(table: pa.Table) -> pa.Table:
    """``table`` in ``ARROW_SCHEMA``'s column order and types."""
    return table.select(ARROW_SCHEMA.names).cast(ARROW_SCHEMA)


def _keyed(table: pa.Table, key_col: str, ids: list[str]) -> pa.ChunkedArray:
    """Row mask: ``key_col`` is one of ``ids`` (a null key never matches)."""
    return pc.is_in(table[key_col], value_set=pa.array(list(ids), pa.string()))


def _positions(table: pa.Table, ids) -> pa.ChunkedArray:
    """Each row's position in ``ids`` by ``unique_source_id``: the first
    one for a duplicated id, null for a row not in ``ids``."""
    return pc.index_in(table["unique_source_id"], value_set=ids, skip_nulls=True)


def _incremented(col: pa.ChunkedArray) -> pa.ChunkedArray:
    return pc.add(col, 1)


def utc_naive(value: datetime) -> datetime:
    """The naive UTC form the table stores. Spark takes a naive
    datetime as the process's local time on the way in and out; this
    stores the same instant it would."""
    return value.astimezone(timezone.utc).replace(tzinfo=None)


_EPOCH = datetime(1970, 1, 1)


def spark_local(value: datetime) -> datetime:
    """A stored naive UTC timestamp as Spark's ``collect()`` returns
    it: the naive local time (``TimestampType.fromInternal``)."""
    us = (value - _EPOCH) // timedelta(microseconds=1)
    return datetime.fromtimestamp(us // 1_000_000).replace(microsecond=us % 1_000_000)


def collected(table: pa.Table) -> list[Row]:
    """Control rows as Spark's ``collect()`` returns them: ``Row``s
    indexable by column name, timestamps as naive local-time datetimes."""
    cols = [
        [None if v is None else spark_local(v) for v in table[name].to_pylist()]
        if pa.types.is_timestamp(table.schema.field(name).type)
        else table[name].to_pylist()
        for name in table.column_names
    ]
    make = Row(*table.column_names)
    return [make(*values) for values in zip(*cols)]


def select_pending(rows: pa.Table, limit: int) -> pa.Table:
    """W5/O1: pending-work selection — oldest window first, then most
    retried, then lowest priority value; LIMIT n
    (reference: pending_records_selector.py:20-23). Nulls sort as in
    Spark: first in an ascending key, last in a descending one.

    A ``failed`` window (``fail_stage``: a stage raised) is selected
    too while its retry count is below ``FAILED_RETRY_LIMIT``, so the
    next run runs it again."""
    status = rows["pipeline_status"]
    retried = pc.and_kleene(
        pc.equal(status, "failed"),
        pc.less(rows["pipeline_retry_count"], FAILED_RETRY_LIMIT),
    )
    rows = rows.filter(pc.or_kleene(pc.equal(status, "pending"), retried))
    start = rows["source_query_window_start_time"]
    retries = rows["pipeline_retry_count"]
    priority = rows["pipeline_priority"]
    keys = pa.table(
        {
            "start_set": pc.is_valid(start),
            "start": start,
            "retries_null": pc.is_null(retries),
            "retries": retries,
            "priority_set": pc.is_valid(priority),
            "priority": priority,
        }
    )
    order = pc.sort_indices(
        keys,
        sort_keys=[
            ("start_set", "ascending"),
            ("start", "ascending"),
            ("retries_null", "ascending"),
            ("retries", "descending"),
            ("priority_set", "ascending"),
            ("priority", "ascending"),
        ],
    )
    return rows.take(order[:limit])


def pct_difference(source_count: int, target_count: int) -> float:
    """A5: the audit's count difference as a percentage of the source
    count; 0 when both are 0, 100 when only the source is
    (audit_manager.py:385-392)."""
    if source_count == 0:
        return 0.0 if target_count == 0 else 100.0
    return (target_count - source_count) / source_count * 100.0


def interior_gaps(rows: pa.Table) -> list[tuple[datetime, datetime]]:
    """W1: gap detection (reference: state_manager.py:820-884). The
    windows of each day sorted by start (nulls first, as in Spark);
    every interior gap, from a window's end to the next start of the
    same day where that start is later, as naive UTC ``(start, end)``
    pairs."""
    rows = rows.sort_by(
        [("query_window_start_day", "ascending"),
         ("source_query_window_start_time", "ascending")],
        null_placement="at_start",
    )
    days = rows["query_window_start_day"].to_pylist()
    starts = rows["source_query_window_start_time"].to_pylist()
    ends = rows["source_query_window_end_time"].to_pylist()
    return [
        (end, next_start)
        for day, end, next_day, next_start in zip(days, ends, days[1:], starts[1:])
        if day == next_day and end is not None and next_start is not None and next_start > end
    ]


def duplicate_losers(rows: pa.Table, key: str = "source_query_window_start_time") -> pa.Table:
    """W3: duplicate prioritisation (reference: state_manager.py:937-982).
    Every row but the best of its ``key``, by the reference's 4-level
    rule: completed beats non-completed, then the latest
    ``record_last_updated_time``, then the latest ``pipeline_start_time``,
    then the OLDEST ``record_first_inserted_time`` (inverted final key,
    state_manager.py:966-973). A null time ranks last, as Spark's
    ``desc_nulls_last``/``asc_nulls_last`` rank it; a null status is
    not completed."""
    completed = pc.fill_null(pc.equal(rows["pipeline_status"], "completed"), False)
    ranked = rows.append_column("_completed", completed).sort_by(
        [
            (key, "ascending"),
            ("_completed", "descending"),
            ("record_last_updated_time", "descending"),
            ("pipeline_start_time", "descending"),
            ("record_first_inserted_time", "ascending"),
        ]
    )
    keys = ranked[key].to_pylist()
    loses = [i > 0 and k == keys[i - 1] for i, k in enumerate(keys)]
    return ranked.drop_columns(["_completed"]).filter(pa.array(loses, pa.bool_()))


def _assign(table: pa.Table, mask, assignments: dict[str, object]) -> pa.Table:
    """Set each assigned column to its new value where ``mask`` holds
    and keep the old value elsewhere (a null mask entry keeps it too,
    like SQL ``CASE WHEN``). A value is a literal, an array aligned
    with the table's rows, or a function of the old column."""
    mask = pc.fill_null(mask, False)
    for name, value in assignments.items():
        if isinstance(value, datetime):
            value = utc_naive(value)
        i = table.schema.get_field_index(name)
        old = table.column(i)
        if callable(value):
            value = value(old)
        elif not isinstance(value, (pa.Array, pa.ChunkedArray)):
            value = pa.scalar(value, old.type)
        new = pc.cast(value, old.type)
        table = table.set_column(i, ARROW_SCHEMA.field(name), pc.if_else(mask, new, old))
    return table

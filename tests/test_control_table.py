"""Control-table state machine tests (M1..M7, SURVEY.md §2.9):
claim → complete ×4 → completed; fail; audit reset; selective stale
reset; duplicate delete; the storage contract (Spark and DuckDB read
what the driver-side writer wrote, a Spark-written table is read and
mutated, no swap directory is left, a table larger than one batch is
rewritten batch by batch, a failed mutation changes nothing) and the
driver-only transitions."""

import os
import uuid
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_001_spark.plans import control_table
from data_pipeline_001_spark.plans.control_table import (
    CONTROL_SCHEMA,
    STAGES,
    ControlTable,
    default_record,
)


@pytest.fixture()
def ct(spark, tmp_path):
    table = ControlTable(spark, str(tmp_path / "control"))
    rec = default_record(
        "p1",
        ("events", "file", "parquet"),
        ("target", "file", "parquet"),
        datetime(2024, 1, 2, 0), datetime(2024, 1, 2, 1),
        stage_path="2024-01-02/00-00",
    )
    table.append_records([rec])
    return table


def _row(ct):
    return ct.read().collect()[0]


def test_append_generates_ids_and_defaults(ct):
    r = _row(ct)
    assert len(r["unique_source_id"]) == 32  # md5 hex
    assert r["pipeline_status"] == "pending"
    assert r["completed_stage_number"] == 0
    assert r["source_query_window_duration_minutes"] == 60
    assert r["query_window_start_day"].isoformat() == "2024-01-02"
    for s in STAGES:
        assert r[f"{s}_status"] == "pending"


def test_claim_and_complete_all_stages(ct):
    sid = _row(ct)["unique_source_id"]
    ct.claim([sid])
    r = _row(ct)
    assert r["pipeline_status"] == "in_progress"
    assert r["pipeline_start_time"] is not None

    started = datetime.utcnow()
    for i, stage in enumerate(STAGES, start=1):
        ct.complete_stage([sid], stage, started)
        r = _row(ct)
        assert r[f"{stage}_status"] == "completed"
        assert r["completed_stage_number"] == i
    assert r["pipeline_status"] == "completed"
    assert r["pipeline_end_time"] is not None


def test_fail_stage_resets_and_counts_retry(ct):
    sid = _row(ct)["unique_source_id"]
    ct.claim([sid])
    ct.fail_stage([sid], "source_discovery", "boom")
    r = _row(ct)
    assert r["pipeline_status"] == "failed"
    assert r["pipeline_retry_count"] == 1
    assert r["source_discovery_status"] == "pending"
    assert "boom" in r["pipeline_error_details"]


def test_audit_mismatch_full_reset(ct):
    sid = _row(ct)["unique_source_id"]
    ct.claim([sid])
    started = datetime.utcnow()
    for stage in STAGES[:3]:
        ct.complete_stage([sid], stage, started)
    ct.reset_after_audit_mismatch(sid)
    r = _row(ct)
    assert r["pipeline_status"] == "pending"
    assert r["completed_stage_number"] == 0
    assert r["count_match_status"] == "not_matched"
    assert r["pipeline_retry_count"] == 1
    for s in STAGES:
        assert r[f"{s}_status"] == "pending"
        assert r[f"{s}_start_time"] is None


def test_selective_stale_reset_keeps_completed_stages(ct):
    sid = _row(ct)["unique_source_id"]
    ct.claim([sid])
    started = datetime.utcnow()
    ct.complete_stage([sid], "source_discovery", started)
    ct.complete_stage([sid], "source_to_stage", started)
    ct.reset_stale_in_progress([sid])
    r = _row(ct)
    # completed stages survive (invalid_progress_handler.py:106-167)
    assert r["source_discovery_status"] == "completed"
    assert r["source_to_stage_status"] == "completed"
    assert r["stage_to_target_status"] == "pending"
    assert r["pipeline_status"] == "pending"
    assert r["pipeline_retry_count"] == 1


def test_delete_records(ct, spark):
    sid = _row(ct)["unique_source_id"]
    ct.delete_records([sid])
    assert ct.read().count() == 0


# -- storage contract: what Spark, DuckDB and the next mutation see --------


def _record(hour: int, sid: str | None = None) -> dict:
    rec = default_record(
        "p1",
        ("events", "file", "parquet"),
        ("target", "file", "parquet"),
        datetime(2024, 1, 2, hour), datetime(2024, 1, 2, hour + 1),
        stage_path=f"2024-01-02/{hour:02d}-00",
    )
    if sid is not None:
        rec["unique_source_id"] = sid
        rec["unique_run_id"] = f"run-{sid}"
    return rec


def _by_id(rows) -> dict:
    return {r["unique_source_id"]: r.asDict() for r in rows}


def test_storage_contract_after_m1_to_m7(spark, tmp_path):
    import duckdb

    table = ControlTable(spark, str(tmp_path / "control"))
    table.append_records([_record(h) for h in range(4)])  # M7
    a, b, c, d = sorted(
        table.read().collect(), key=lambda r: r["source_query_window_start_time"]
    )
    started = datetime(2024, 1, 2, 5, 6, 7, 890123)
    table.claim([a["unique_source_id"]], run_id="run-a")  # M1
    table.complete_stage(  # M2
        [a["unique_source_id"]], "source_discovery", started,
        extra={"source_count": 42, "source_to_stage_expected_duration_minutes": 15},
    )
    table.claim([b["unique_source_id"]])
    table.fail_stage([b["unique_source_id"]], "source_discovery", "boom")  # M3
    table.claim([c["unique_source_id"]])
    table.complete_stage([c["unique_source_id"]], "source_discovery", started)
    table.reset_after_audit_mismatch(c["unique_source_id"])  # M4
    table.claim([d["unique_source_id"]])
    table.complete_stage([d["unique_source_id"]], "source_discovery", started)
    table.reset_stale_in_progress([d["unique_source_id"]])  # M5
    table.delete_records([b["unique_source_id"]])  # M6

    df = table.read()
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in CONTROL_SCHEMA.fields
    ]
    rows = _by_id(df.collect())
    assert set(rows) == {a["unique_source_id"], c["unique_source_id"], d["unique_source_id"]}
    ra, rc, rd = (rows[x["unique_source_id"]] for x in (a, c, d))
    assert ra["unique_run_id"] == "run-a"
    assert ra["pipeline_status"] == "in_progress"
    assert ra["source_discovery_status"] == "completed"
    assert ra["source_discovery_start_time"] == started
    assert ra["source_count"] == 42
    assert ra["source_to_stage_expected_duration_minutes"] == 15
    assert ra["completed_stage_number"] == 1
    assert ra["source_query_window_start_time"] == datetime(2024, 1, 2, 0)
    assert ra["query_window_start_day"].isoformat() == "2024-01-02"
    assert ra["record_last_updated_time"] >= ra["record_first_inserted_time"]
    assert rc["count_match_status"] == "not_matched"
    assert rc["pipeline_retry_count"] == 1
    assert rc["source_discovery_start_time"] is None
    assert rd["source_discovery_status"] == "completed"  # M5 keeps it
    assert rd["source_discovery_start_time"] == started
    assert rd["pipeline_status"] == "pending"
    assert rd["pipeline_retry_count"] == 1

    # DuckDB reads the same values, timestamps as naive TIMESTAMP
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM read_parquet('{table.path}/*.parquet')")
    types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    for f in CONTROL_SCHEMA.fields:
        if isinstance(f.dataType, T.TimestampType):
            assert types[f.name] == "TIMESTAMP", f.name
    duck = {r[0]: dict(zip(rel.columns, r)) for r in rel.fetchall()}
    assert duck == rows

    # no swap directory is left next to the table; timestamps are INT96
    assert os.listdir(tmp_path) == ["control"]
    assert os.listdir(table.path) == ["part-00000.parquet"]
    layout = pq.ParquetFile(os.path.join(table.path, "part-00000.parquet")).schema
    for i, name in enumerate(layout.names):
        if isinstance(CONTROL_SCHEMA[name].dataType, T.TimestampType):
            assert layout.column(i).physical_type == "INT96", name


def test_legacy_spark_written_table_is_read_and_mutated(spark, tmp_path):
    path = str(tmp_path / "control")
    rows = [_record(h, sid=f"id{h}") for h in range(6)]
    spark.createDataFrame(rows, CONTROL_SCHEMA).repartition(3).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert sum(n.endswith(".parquet") for n in names) > 1

    table = ControlTable(spark, path)
    started = datetime(2024, 1, 2, 9, 30)
    table.claim(["id1"], run_id="run-claimed")
    table.complete_stage(["id1"], "source_discovery", started)
    table.fail_stage(["id2"], "source_to_stage", "boom")
    table.delete_records(["run-id3"], key_col="unique_run_id")

    got = _by_id(table.read().collect())
    assert sorted(got) == ["id0", "id1", "id2", "id4", "id5"]
    assert got["id1"]["unique_run_id"] == "run-claimed"
    assert got["id1"]["source_discovery_status"] == "completed"
    assert got["id1"]["source_discovery_start_time"] == started
    assert got["id2"]["pipeline_status"] == "failed"
    assert got["id2"]["pipeline_retry_count"] == 1
    # untouched rows keep every value Spark wrote
    for sid in ("id0", "id4", "id5"):
        want = rows[int(sid[2:])]
        for k in ("pipeline_status", "source_query_window_start_time",
                  "record_first_inserted_time", "query_window_start_day",
                  "accepted_tolerance_percentage", "source_discovery_is_enabled"):
            assert got[sid][k] == want[k], (sid, k)
    assert os.listdir(path) == ["part-00000.parquet"]
    assert os.listdir(tmp_path) == ["control"]


def test_state_transitions_launch_no_spark_job(ct, spark):
    """claim + the four stage completions run on the driver alone."""
    sc = spark.sparkContext
    sid = _row(ct)["unique_source_id"]
    group = f"ct-transitions-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "control-table state transitions")
    try:
        ct.claim([sid])
        started = datetime.utcnow()
        for stage in STAGES:
            ct.complete_stage([sid], stage, started)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _row(ct)["pipeline_status"] == "completed"


def test_naive_datetimes_round_trip_in_any_local_timezone(ct, monkeypatch):
    """Spark reads and returns a naive datetime as the process's local
    time; the driver-side writer stores the same instant, so a value
    written by a transition reads back unchanged outside UTC too."""
    import time

    sid = _row(ct)["unique_source_id"]
    started = datetime(2024, 1, 2, 9, 30)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        ct.complete_stage([sid], "source_discovery", started)
        assert _row(ct)["source_discovery_start_time"] == started
    finally:
        monkeypatch.undo()
        time.tzset()


def test_mutations_stream_across_batches(spark, tmp_path, monkeypatch):
    """Every mutation rewrites the table one bounded batch at a time;
    with two rows per batch, rows in every batch get the same result a
    whole-table rewrite would give."""
    table = ControlTable(spark, str(tmp_path / "control"))
    table.append_records([_record(h) for h in range(7)])
    ids = [
        r["unique_source_id"]
        for r in sorted(
            table.read().collect(), key=lambda r: r["source_query_window_start_time"]
        )
    ]
    monkeypatch.setattr(control_table, "_BATCH_ROWS", 2)
    started = datetime(2024, 1, 2, 9, 30)
    table.claim([ids[1]], run_id="run-1")
    table.complete_stage([ids[5]], "source_discovery", started)
    table.fail_stage([ids[3]], "source_to_stage", "boom")
    table.reset_stale_in_progress([ids[2], ids[6]])
    table.delete_records([ids[4]])
    audit = pa.table(
        {
            "unique_source_id": [ids[0], ids[6]],
            "source_count": pa.array([5, 10], pa.int64()),
            "target_count": pa.array([5, 5], pa.int64()),
        }
    )
    table.merge_audit_results(audit)

    rows = table.read().collect()
    assert sorted(r["unique_source_id"] for r in rows) == sorted(ids[:4] + ids[5:])
    got = _by_id(rows)
    assert got[ids[0]]["pipeline_status"] == "completed"
    assert got[ids[0]]["count_match_status"] == "matched"
    assert got[ids[0]]["source_count"] == 5
    assert got[ids[1]]["unique_run_id"] == "run-1"
    assert got[ids[1]]["pipeline_status"] == "in_progress"
    assert got[ids[2]]["pipeline_retry_count"] == 1
    assert got[ids[3]]["pipeline_status"] == "failed"
    assert got[ids[3]]["pipeline_error_details"] == "boom"
    assert got[ids[5]]["source_discovery_start_time"] == started
    assert got[ids[5]]["pipeline_status"] == "pending"
    assert got[ids[6]]["count_match_status"] == "not_matched"
    assert got[ids[6]]["pipeline_retry_count"] == 1
    assert got[ids[6]]["count_difference"] == -5
    layout = pq.ParquetFile(os.path.join(table.path, "part-00000.parquet"))
    assert layout.num_row_groups > 1


def test_failed_mutation_leaves_the_table_unchanged(ct, tmp_path):
    before = _by_id(ct.read().collect())
    sid = next(iter(before))
    with pytest.raises(pa.ArrowException):
        ct.update_where([sid], {"pipeline_retry_count": "not-a-number"})
    assert _by_id(ct.read().collect()) == before
    assert os.listdir(tmp_path) == ["control"]


def _keyed_table(spark, path, hours=4):
    table = ControlTable(spark, path)
    table.append_records(
        [
            default_record(
                "p1", ("events", "file", "parquet"), ("target", "file", "parquet"),
                datetime(2024, 1, 2, h), datetime(2024, 1, 2, h + 1),
                stage_path=f"2024-01-02/{h:02d}-00",
            )
            for h in range(hours)
        ]
    )
    return table


#: the columns that differ between two tables built apart: the times a
#: row was written or changed, and the run id an unclaimed row derives
#: from its insert time
_VOLATILE = {
    "record_first_inserted_time", "record_last_updated_time", "pipeline_start_time",
    "source_discovery_end_time", "unique_run_id",
}


def _state(table):
    """The rows, ordered by window start, without ``_VOLATILE``."""
    rows = pq.read_table(table.path, coerce_int96_timestamp_unit="us").to_pylist()
    return sorted(
        ({k: v for k, v in r.items() if k not in _VOLATILE} for r in rows),
        key=lambda r: r["source_query_window_start_time"],
    )


def test_keyed_transitions_equal_one_id_calls(spark, tmp_path):
    """One ``claim``/``complete_stage``/``fail_stage`` over many ids, with
    a different value per id, leaves the rows that the one-id calls made
    in sequence leave (the transition times aside); a row outside the
    ids is untouched, and an id the table lacks changes nothing."""
    started = datetime(2024, 1, 2, 5, 6, 7)
    batched = _keyed_table(spark, str(tmp_path / "batched"))
    single = _keyed_table(spark, str(tmp_path / "single"))
    rows = sorted(
        batched.read().collect(), key=lambda r: r["source_query_window_start_time"]
    )
    ids = [r["unique_source_id"] for r in rows[:3]]
    counts, minutes = [10, 0, 30], [15, 16, 17]
    before = _state(batched)

    batched.claim([*ids, "absent"], run_id="run")
    batched.complete_stage(
        ids, "source_discovery", started,
        extra={"source_count": counts, "source_to_stage_expected_duration_minutes": minutes},
    )
    batched.fail_stage(ids[1:], "source_to_stage", "boom")
    for sid, n, m in zip(ids, counts, minutes):
        single.claim([sid], run_id="run")
        single.complete_stage(
            [sid], "source_discovery", started,
            extra={"source_count": n, "source_to_stage_expected_duration_minutes": m},
        )
    for sid in ids[1:]:
        single.fail_stage([sid], "source_to_stage", "boom")

    got, want = _state(batched), _state(single)
    assert got == want
    assert [r["source_count"] for r in got] == [10, 0, 30, None]
    assert [r["pipeline_status"] for r in got] == ["in_progress", "failed", "failed", "pending"]
    assert got[3] == before[3]
    claimed = pq.read_table(batched.path, columns=["unique_source_id", "unique_run_id"])
    assert {r["unique_run_id"] for r in claimed.to_pylist() if r["unique_source_id"] in ids} == {
        "run"
    }
    with pytest.raises(TypeError):
        batched.update_where(ids[0], {"pipeline_retry_count": 9})


def test_keyed_values_take_the_first_duplicate(spark, tmp_path):
    """A duplicated id takes its first value, in ``update_where`` as in
    ``merge_audit_results``, and neither fans out the table."""
    table = _keyed_table(spark, str(tmp_path / "control"), hours=2)
    a, b = (r["unique_source_id"] for r in sorted(
        table.read().collect(), key=lambda r: r["source_query_window_start_time"]
    ))
    table.update_where([a, a, b], {"source_count": [1, 2, 3]})
    table.merge_audit_results(
        pa.table(
            {
                "unique_source_id": [b, b],
                "source_count": pa.array([5, 5], pa.int64()),
                "target_count": pa.array([5, 9], pa.int64()),
            }
        )
    )
    got = {r["unique_source_id"]: r for r in table.read().collect()}
    assert len(got) == table.read().count() == 2
    assert got[a]["source_count"] == 1
    assert (got[b]["target_count"], got[b]["count_match_status"]) == (5, "matched")

"""The CLI (``python -m data_pipeline_001_spark``) end to end: one
pipeline cycle per mode over sf0.001, its printed JSON summary checked
against DuckDB's count of the source."""

import json
from datetime import datetime

import pytest
from conftest import SF_DIR

from data_pipeline_001_spark.__main__ import main

pytestmark = pytest.mark.slow  # lane 2: see pytest.ini

PLAN = (datetime(2024, 1, 2), datetime(2024, 1, 3))  # four 6 h windows


def _duck_count(sql: str, *params) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql, list(params)).fetchone()[0]
    finally:
        con.close()


def _run(tmp_path, capsys, mode: str) -> tuple[dict, str]:
    root = tmp_path / mode
    root.mkdir()
    config = root / "pipeline.json"
    config.write_text(
        json.dumps(
            {
                "pipeline_name": f"cli_{mode}",
                "granularity": "6h",
                "source_path": f"{SF_DIR}/events.parquet",
                "stage_root": str(root / "stage"),
                "target_root": str(root / "target"),
                "control_path": str(root / "control"),
            }
        )
    )
    capsys.readouterr()
    assert main(
        [
            "--config", str(config),
            "--mode", mode,
            "--plan-start", PLAN[0].isoformat(),
            "--plan-end", PLAN[1].isoformat(),
        ]
    ) == 0
    last = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(last), str(root / "target")


def test_cli_batch_and_loop_agree_with_duckdb(spark, tmp_path, capsys):
    source = _duck_count(
        f"SELECT count(*) FROM '{SF_DIR}/events.parquet' WHERE ts >= ? AND ts < ?", *PLAN
    )
    assert source > 0

    batch, _ = _run(tmp_path, capsys, "batch")
    assert batch["mode"] == "batch"
    assert batch["windows"] == batch["matched"] == 4
    assert batch["source_rows"] == batch["target_rows"] == source

    loop, target = _run(tmp_path, capsys, "loop")
    assert loop["mode"] == "loop"
    assert loop["completed"] == loop["processed"] == 4
    assert (loop["failed"], loop["reset"]) == (0, 0)
    assert not loop["exited_for_concurrency"]
    assert _duck_count(f"SELECT count(*) FROM read_parquet('{target}/**/*.parquet')") == source

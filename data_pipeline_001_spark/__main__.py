"""CLI entry point — the engine's analogue of the reference's Airflow
DAG task (projects/index_01/index_main_pipeline_dag.py:29-114
run_main_pipeline): load layered JSON config, build connectors, run
one pipeline cycle, print the batch summary as one JSON line.

    python -m data_pipeline_001_spark --config pipeline.json \
        [--defaults defaults.json] [--mode loop|batch] \
        [--plan-start ...] [--plan-end ...]

Config keys mirror PipelineConfig plus:
    source_path, source_ts_col, source_format,
    stage_root, target_root, control_path
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="data_pipeline_001_spark")
    ap.add_argument("--config", required=True, help="pipeline JSON config")
    ap.add_argument("--defaults", help="defaults JSON layer (merged first)")
    ap.add_argument("--plan-start", required=True, help="ISO timestamp")
    ap.add_argument("--plan-end", required=True, help="ISO timestamp")
    ap.add_argument(
        "--mode",
        choices=["loop", "batch"],
        default="loop",
        help="loop = one DAG run: up to max_pipeline_runs pending windows "
        "past the safe boundary; batch = the same run over every pending "
        "window of the plan, printed as a per-window audit summary",
    )
    args = ap.parse_args(argv)

    layers = []
    if args.defaults:
        with open(args.defaults) as f:
            layers.append(json.load(f))
    with open(args.config) as f:
        layers.append(json.load(f))

    from data_pipeline_001_spark.plans.control_table import ControlTable
    from data_pipeline_001_spark.plans.pipeline import PipelineConfig, WindowPipeline
    from data_pipeline_001_spark.session import get_spark
    from data_pipeline_001_spark.sources.file_connectors import (
        DayPartitionedTableSink,
        FileSource,
        PartitionedParquetSink,
    )

    cfg = PipelineConfig.merged(*layers)
    ex = cfg.extras
    spark = get_spark(app_name=f"pipeline:{cfg.pipeline_name}")
    spark.sparkContext.setLogLevel("ERROR")

    source = FileSource(
        spark,
        ex["source_path"],
        ts_col=ex.get("source_ts_col", "ts"),
        fmt=ex.get("source_format", "parquet"),
        must_exist=tuple(ex.get("must_exist", ())),
        exclude_null=tuple(ex.get("exclude_null", ())),
    )
    stage = PartitionedParquetSink(spark, ex["stage_root"])
    target = DayPartitionedTableSink(spark, ex["target_root"])
    control = ControlTable(spark, ex["control_path"])
    pipe = WindowPipeline(spark, cfg, source, stage, target, control)

    start = datetime.fromisoformat(args.plan_start)
    end = datetime.fromisoformat(args.plan_end)

    if args.mode == "batch":
        audit = pipe.run_batch(start, end)
        rows = audit.collect()
        # a window that did not complete has null counts
        summary = {
            "mode": "batch",
            "windows": len(rows),
            "matched": sum(
                r["source_count"] is not None and r["source_count"] == r["target_count"]
                for r in rows
            ),
            "source_rows": sum(r["source_count"] or 0 for r in rows),
            "target_rows": sum(r["target_count"] or 0 for r in rows),
        }
    else:
        result = pipe.run(start, end)
        summary = {
            "mode": "loop",
            "processed": result.processed,
            "completed": result.completed,
            "failed": result.failed,
            "reset": result.reset,
            "exited_for_concurrency": result.exited_for_concurrency,
        }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

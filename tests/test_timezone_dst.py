"""Timezone/DST correctness (SURVEY §7 'hard parts'): with the
session timezone scoped to the pipeline's zone, day boundaries land
on local midnight and DST-transition days really contain 23/25
hourly windows — matching the reference's pendulum wall-clock math."""

from pyspark.sql import functions as F

from data_pipeline_001_spark.functions.time_fns import (
    session_timezone,
    window_spine,
)
from data_pipeline_001_spark.operators.windows import check_continuity, detect_overlaps
from data_pipeline_001_spark.plans.pipeline import render_templates


def test_spring_forward_day_has_23_windows(spark):
    # US DST spring forward: 2024-03-10 02:00 → 03:00 America/Los_Angeles
    with session_timezone(spark, "America/Los_Angeles"):
        spine = window_spine(
            spark, "2024-03-10 00:00:00", "2024-03-11 00:00:00", "1h"
        )
        rows = spine.collect()
        assert len(rows) == 23
        # continuous cover, no gaps/overlaps even across the jump
        assert check_continuity(spine).count() == 0
        assert detect_overlaps(spine).count() == 0
        total = spine.agg(F.sum("duration_minutes")).first()[0]
        assert total == 23 * 60


def test_fall_back_day_has_25_windows(spark):
    # 2024-11-03 02:00 → 01:00 America/Los_Angeles
    with session_timezone(spark, "America/Los_Angeles"):
        spine = window_spine(
            spark, "2024-11-03 00:00:00", "2024-11-04 00:00:00", "1h"
        )
        assert spine.count() == 25
        assert spine.agg(F.sum("duration_minutes")).first()[0] == 25 * 60


def test_day_boundary_is_local_midnight(spark):
    with session_timezone(spark, "America/Los_Angeles"):
        spine = window_spine(
            spark, "2024-06-01 00:00:00", "2024-06-02 00:00:00", "1h"
        )
        days = spine.select("window_day").distinct().collect()
        assert len(days) == 1
        assert str(days[0]["window_day"]) == "2024-06-01"
    # the timezone restores afterwards
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_dst_week_query_day_shapes(spark):
    """The registered time_spine_dst_week query (oracle-checked against
    DuckDB AT TIME ZONE arithmetic by the driver) must show the 2024
    America/Los_Angeles transitions: 23 hours on spring-forward day,
    25 on fall-back day, 24 on their neighbors, and every local day
    spanning first-hour 00:00 → last-hour 23:00."""
    import __spark_entry__ as E

    q = E.queries()["time_spine_dst_week"]
    got = {
        str(r["local_day"]): r
        for r in q(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) == 6
    assert got["2024-03-10"]["n_hours"] == 23
    assert got["2024-11-03"]["n_hours"] == 25
    for day, r in got.items():
        if day not in ("2024-03-10", "2024-11-03"):
            assert r["n_hours"] == 24, day
        assert r["first_local_hour"].hour == 0, day
        assert r["last_local_hour"].hour == 23, day


def test_config_template_rendering():
    cfg = render_templates(
        {
            "env": "prod",
            "index_group": "logs",
            "index_name": "app1",
            "stage_prefix": "{env}/{index_group}/{index_name}",
            "full_path": "s3://bucket/{stage_prefix}/data",
            "untouched": "{unknown_key}/x",
        }
    )
    assert cfg["stage_prefix"] == "prod/logs/app1"
    assert cfg["full_path"] == "s3://bucket/prod/logs/app1/data"
    assert cfg["untouched"] == "{unknown_key}/x"

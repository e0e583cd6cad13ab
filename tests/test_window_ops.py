"""W1..W5 transform tests against the FIXTURES.md scenarios: gap day,
overlap pair, duplicate resolution rule order, pending selection (W1,
W3 and W5 as the control table's Arrow kernels)."""

from datetime import datetime, timedelta

import pyarrow as pa
from pyspark.sql import functions as F

from data_pipeline_001_spark.operators.windows import check_continuity, detect_overlaps
from data_pipeline_001_spark.plans.control_table import (
    duplicate_losers,
    interior_gaps,
    select_pending,
)


def _windows(spark, rows):
    return spark.createDataFrame(
        [(datetime.fromisoformat(s), datetime.fromisoformat(e)) for s, e in rows],
        "window_start timestamp, window_end timestamp",
    ).withColumn("window_day", F.to_date("window_start"))


def test_gap_detection_interior():
    """W1 on the driver: within a day, each gap from a window's end to
    a later next start; nothing across days, nothing for an overlap."""
    hours = list(range(0, 10)) + list(range(12, 24))
    starts = [datetime(2024, 5, 1, h) for h in hours] + [datetime(2024, 5, 2, 5)]
    ends = [s + timedelta(hours=1) for s in starts]
    ends[3] += timedelta(minutes=30)  # 03:00-04:30 overlaps the next window
    rows = pa.table(
        {
            "query_window_start_day": pa.array([s.date() for s in starts], pa.date32()),
            "source_query_window_start_time": pa.array(starts, pa.timestamp("us")),
            "source_query_window_end_time": pa.array(ends, pa.timestamp("us")),
        }
    )
    shuffled = rows.take(list(reversed(range(rows.num_rows))))
    assert interior_gaps(shuffled) == [(datetime(2024, 5, 1, 10), datetime(2024, 5, 1, 12))]


def test_overlap_detection(spark):
    rows = [
        ("2024-05-01 00:00:00", "2024-05-01 01:00:00"),
        ("2024-05-01 00:30:00", "2024-05-01 01:30:00"),  # overlaps previous
        ("2024-05-01 02:00:00", "2024-05-01 03:00:00"),
    ]
    ov = detect_overlaps(_windows(spark, rows)).collect()
    assert len(ov) == 1
    assert ov[0]["first_end"] == datetime(2024, 5, 1, 1)
    assert ov[0]["second_start"] == datetime(2024, 5, 1, 0, 30)


def test_continuity_check(spark):
    rows = [
        ("2024-05-01 00:00:00", "2024-05-01 01:00:00"),
        ("2024-05-01 01:00:00", "2024-05-01 02:00:00"),
        ("2024-05-01 03:00:00", "2024-05-01 04:00:00"),  # 02-03 missing
    ]
    missing = check_continuity(_windows(spark, rows)).collect()
    assert len(missing) == 1
    assert missing[0]["missing_start"] == datetime(2024, 5, 1, 2)
    assert missing[0]["missing_end"] == datetime(2024, 5, 1, 3)


def test_duplicate_resolution_rule_order():
    """The 4-level chain (state_manager.py:937-982) on the driver:
    completed beats non-completed; then latest updated; then latest
    started; then OLDEST inserted (inverted final key). Null times rank
    last, as Spark's desc_nulls_last/asc_nulls_last rank them."""
    t0, t1, t2 = (datetime(2024, 1, 1, h) for h in (0, 1, 2))
    rows = [
        # key A: completed (id=a2) must beat in_progress with newer times
        ("a1", "k1", "in_progress", t2, t2, t2),
        ("a2", "k1", "completed", t0, t0, t0),
        # key B: both completed → latest updated wins (b2)
        ("b1", "k2", "completed", t0, t1, t1),
        ("b2", "k2", "completed", t1, t1, t1),
        # key C: tie on status+updated+started → OLDEST inserted wins (c1)
        ("c1", "k3", "completed", t1, t1, t0),
        ("c2", "k3", "completed", t1, t1, t2),
        # key D: a null updated time ranks after any time (d2)
        ("d1", "k4", "completed", None, t2, t2),
        ("d2", "k4", "completed", t0, t0, t0),
        # key E: a null started time ranks after any time (e2)
        ("e1", "k5", "completed", t1, None, t0),
        ("e2", "k5", "completed", t1, t0, t1),
        # key F: a null inserted time ranks after the oldest (f2)
        ("f1", "k6", "completed", t1, t1, None),
        ("f2", "k6", "completed", t1, t1, t2),
        # key G: a null status is not completed (g2)
        ("g1", "k7", None, t2, t2, t0),
        ("g2", "k7", "completed", t0, t0, t0),
        # null key: its rows are one group, as in a Spark partition (n2)
        ("n1", None, "pending", t2, t2, t0),
        ("n2", None, "completed", t0, t0, t0),
        # a key with one row keeps it
        ("s1", "k8", "failed", None, None, None),
    ]
    names = ["unique_source_id", "key", "pipeline_status", "record_last_updated_time",
             "pipeline_start_time", "record_first_inserted_time"]
    table = pa.table(
        {
            name: pa.array(list(values), pa.timestamp("us") if name.endswith("_time") else None)
            for name, values in zip(names, zip(*rows))
        }
    )
    for order in (range(len(rows)), reversed(range(len(rows)))):
        losers = duplicate_losers(table.take(list(order)), key="key")
        assert losers.column_names == names
        kept = {r[0] for r in rows} - set(losers["unique_source_id"].to_pylist())
        assert kept == {"a2", "b2", "c1", "d2", "e2", "f2", "g2", "n2", "s1"}


def test_select_pending_order():
    """W5 on the driver: oldest window first, then most retried, then
    lowest priority; nulls where Spark's orderBy puts them (first when
    ascending, last when descending); LIMIT n."""
    rows = pa.table(
        {
            "id": ["r1", "r2", "r3", "r4", "r5", "r6", "r7"],
            "pipeline_status": ["pending", "pending", "pending", "in_progress",
                                "pending", "pending", None],
            "source_query_window_start_time": pa.array(
                [datetime(2024, 1, 1, 5), datetime(2024, 1, 1, 3),  # oldest window → first
                 datetime(2024, 1, 1, 3),  # same window, more retries → before r2
                 datetime(2024, 1, 1, 1),  # not pending
                 datetime(2024, 1, 1, 3),  # null retries sort last when descending
                 None,  # null start sorts first when ascending
                 datetime(2024, 1, 1, 0)],  # null status is not pending
                pa.timestamp("us"),
            ),
            "pipeline_retry_count": pa.array([0, 0, 2, 0, None, 0, 0], pa.int32()),
            "pipeline_priority": [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0],
        }
    )
    assert select_pending(rows, limit=2)["id"].to_pylist() == ["r6", "r3"]
    assert select_pending(rows, limit=9)["id"].to_pylist() == ["r6", "r3", "r2", "r5", "r1"]
    tie = rows.set_column(
        4, "pipeline_priority", pa.array([1.0, 3.0, None, 1.0, 1.0, 1.0, 1.0])
    ).filter(pa.array([False, True, True, False, False, False, False]))
    tie = tie.set_column(3, "pipeline_retry_count", pa.array([2, 2], pa.int32()))
    # same window and retries: null priority first, then lowest value
    assert select_pending(tie, limit=2)["id"].to_pylist() == ["r3", "r2"]


def test_select_pending_retries_failed_windows_under_the_limit():
    """A ``failed`` window is selected again, in W5 order with the
    pending ones, until it has been retried ``FAILED_RETRY_LIMIT``
    times."""
    from data_pipeline_001_spark.plans.control_table import FAILED_RETRY_LIMIT

    start = datetime(2024, 1, 1, 3)
    rows = pa.table(
        {
            "id": ["p", "f1", "f2", "f3", "c"],
            "pipeline_status": ["pending", "failed", "failed", "failed", "completed"],
            "source_query_window_start_time": pa.array([start] * 5, pa.timestamp("us")),
            "pipeline_retry_count": pa.array([0, 1, 2, 3, 0], pa.int32()),
            "pipeline_priority": [1.0] * 5,
        }
    )
    assert FAILED_RETRY_LIMIT == 3
    assert select_pending(rows, limit=9)["id"].to_pylist() == ["f2", "f1", "p"]


def test_approx_quartiles_agree_with_exact_ntile(spark):
    """The 2-pass approx-percentile quartile path must agree with exact
    global NTILE on nearly every row (disagreement only at boundary
    ties / group-size rounding)."""
    from data_pipeline_001_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    exact = {
        r["c_custkey"]: r["quartile"]
        for r in REGISTRY["window_ntile_customer_quartiles"](spark, sf).collect()
    }
    approx = {
        r["c_custkey"]: r["quartile"]
        for r in REGISTRY["window_quartiles_approx"](spark, sf).collect()
    }
    assert exact.keys() == approx.keys()
    agree = sum(1 for k in exact if exact[k] == approx[k]) / len(exact)
    assert agree >= 0.9, f"approx quartiles agree on only {agree:.1%}"
    # every quartile present and roughly balanced (within 2x of n/4)
    from collections import Counter

    sizes = Counter(approx.values())
    n = len(approx)
    assert set(sizes) == {1, 2, 3, 4}
    for q in (1, 2, 3, 4):
        assert sizes[q] <= n / 2


def test_salted_topk_equals_plain_topk(spark):
    """The two-phase salted top-k must return exactly the same rows as
    the single-window form — salting only changes the plan shape."""
    from data_pipeline_001_spark.operators.windows import (
        top_k_per_group,
        top_k_per_group_salted,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "lang", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    order = [F.col("h").asc(), F.col("doc_id").asc()]
    plain = top_k_per_group(docs, ("lang",), order, k=7)
    salted = top_k_per_group_salted(
        docs, ("lang",), order, k=7, salt_on=F.col("doc_id"), n_salts=5
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

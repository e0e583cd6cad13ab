"""Connector format coverage (S2: parquet/JSON/CSV sources) and the
layered-config merge (hanlder_script.py:117-194 semantics)."""

from datetime import datetime, timezone

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_001_spark.plans.pipeline import PipelineConfig
from data_pipeline_001_spark.sources.file_connectors import FileSource

WINDOW = (datetime(2024, 1, 2), datetime(2024, 1, 3))


@pytest.fixture(scope="module")
def json_dir(tables, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_json"))
    tables["events"].write.mode("overwrite").json(d)
    return d


@pytest.fixture(scope="module")
def csv_dir(tables, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_csv"))
    tables["events"].drop("props").write.mode("overwrite").option(
        "header", True
    ).csv(d)
    return d


def test_parquet_json_csv_orc_xml_sources_agree(spark, tables, json_dir, csv_dir, tmp_path_factory):
    from pyspark.sql import types as T

    parquet_src = FileSource(spark, "/root/testdata/sf0.001/events.parquet")
    schema = tables["events"].schema
    json_src = FileSource(spark, json_dir, fmt="json", schema=schema)
    csv_schema = T.StructType([f for f in schema.fields if f.name != "props"])
    csv_src = FileSource(spark, csv_dir, fmt="csv", schema=csv_schema)
    orc_dir = str(tmp_path_factory.mktemp("events_orc"))
    tables["events"].write.mode("overwrite").orc(orc_dir)
    orc_src = FileSource(spark, orc_dir, fmt="orc")

    # XML (Spark 4 built-in): rowTag required; microsecond
    # timestampFormat because the writer's default truncates to millis
    xml_dir = str(tmp_path_factory.mktemp("events_xml"))
    xml_opts = {
        "rowTag": "event",
        "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    }
    tables["events"].drop("props").write.format("xml").options(
        **xml_opts
    ).mode("overwrite").save(xml_dir)
    xml_src = FileSource(
        spark, xml_dir, fmt="xml", schema=csv_schema, options=xml_opts
    )

    n = parquet_src.count(*WINDOW)
    assert n > 0
    assert json_src.count(*WINDOW) == n
    assert csv_src.count(*WINDOW) == n
    assert orc_src.count(*WINDOW) == n
    assert xml_src.count(*WINDOW) == n


def test_must_exist_filter(spark):
    src = FileSource(
        spark, "/root/testdata/sf0.001/events.parquet", must_exist=("user_id",)
    )
    all_src = FileSource(spark, "/root/testdata/sf0.001/events.parquet")
    assert src.count(*WINDOW) <= all_src.count(*WINDOW)


def test_config_merge_later_layers_win():
    cfg = PipelineConfig.merged(
        {"granularity": "1h", "tolerance_pct": 1.0},          # drive defaults
        {"granularity": "30m", "custom_key": "x"},            # index config
        {"max_pipeline_runs": 7, "granularity": None},        # env overrides (None ignored)
    )
    assert cfg.granularity == "30m"       # index overrides default; None doesn't
    assert cfg.max_pipeline_runs == 7
    assert cfg.tolerance_pct == 1.0
    assert cfg.extras["custom_key"] == "x"


def test_config_layer_naming_a_removed_field_still_merges():
    """A layer written for an older PipelineConfig keeps working: a key
    the class no longer has (``audit_max_retries``) lands in extras."""
    cfg = PipelineConfig.merged({"audit_max_retries": 3, "granularity": "2h"})
    assert cfg.granularity == "2h"
    assert cfg.extras == {"audit_max_retries": 3}


def test_sink_file_sizing(spark, tables, tmp_path):
    """File-size discipline (the reference's 250 MB split,
    stage/ingestion_engine.py:174): maxRecordsPerFile bounds output
    file row counts so downstream scans parallelize. Both parquet
    sinks count such a window from its footers, matching Spark's
    count; a missing window counts 0."""
    from data_pipeline_001_spark.sources.file_connectors import (
        DayPartitionedTableSink,
        PartitionedParquetSink,
    )

    w = (datetime(2024, 1, 2), datetime(2024, 1, 3))
    absent = (datetime(2024, 1, 5), datetime(2024, 1, 6))
    df = tables["events"].limit(450).coalesce(1)

    sink = PartitionedParquetSink(
        spark, str(tmp_path / "sized"), max_records_per_file=100
    )
    sink.load(df, *w)
    out_dir = sink._window_path(w[0])
    assert "_SUCCESS" in os.listdir(out_dir)

    table_sink = DayPartitionedTableSink(spark, str(tmp_path / "table"))
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        table_sink.load(df, *w)
    finally:
        spark.conf.set(key, prev)

    for s, path in ((sink, out_dir), (table_sink, table_sink._partition_path(w[0]))):
        names = os.listdir(path)
        assert sum(n.endswith(".parquet") for n in names) >= 5  # 450 rows / 100-row cap
        assert any(n.endswith(".crc") for n in names)
        assert s.count(*w) == spark.read.parquet(path).count() == 450
        assert s.count(*absent) == 0


def test_ivf_recall(tables):
    from pyspark.sql import functions as F

    from data_pipeline_001_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    e = tables["embeddings"]
    q = e.where(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(e, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(e, q, k=5, n_centroids=16, nprobe=6).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_json_source_quarantines_malformed_records(spark, tables, tmp_path):
    """A malformed line must land in the quarantine dir once and be
    excluded from count/extract; valid rows are unaffected. Repeated
    reads keep nothing cached and read files added later."""
    from pyspark.sql import types as T

    import json as jsonlib

    d = str(tmp_path / "dirty_json")
    os.makedirs(d)
    rows = (
        tables["events"].where(F.col("event_id") < 100).drop("props").collect()
    )
    with open(os.path.join(d, "data.json"), "w") as fh:
        for r in rows:
            rec = r.asDict()
            rec["ts"] = rec["ts"].isoformat()
            fh.write(jsonlib.dumps(rec) + "\n")
        fh.write('{"event_id": 999999, "ts": BROKEN\n{not json at all}\n')

    schema = T.StructType(
        [f for f in tables["events"].schema.fields if f.name != "props"]
    )
    quar = str(tmp_path / "quar")
    clean_src = FileSource(spark, d, fmt="json", schema=schema, quarantine_path=quar)
    cached_before = _cached_entries(spark)
    n_valid = clean_src.count(*WINDOW)
    expected = (
        tables["events"]
        .where(F.col("event_id") < 100)
        .where((F.col("ts") >= F.lit(WINDOW[0])) & (F.col("ts") < F.lit(WINDOW[1])))
        .count()
    )
    assert n_valid == expected
    quarantined = spark.read.json(quar).collect()
    assert len(quarantined) == 2
    assert any("BROKEN" in r["corrupt_record"] for r in quarantined)

    assert clean_src.extract(*WINDOW).count() == expected
    assert clean_src.count(*WINDOW) == expected
    assert len(spark.read.json(quar).collect()) == 2

    with open(os.path.join(d, "more.json"), "w") as fh:
        for i in range(5):
            ts = datetime(2024, 1, 2, 1, i).isoformat()
            fh.write(jsonlib.dumps({"event_id": 1_000_000 + i, "ts": ts}) + "\n")
        fh.write("{still broken\n")
    assert clean_src.count(*WINDOW) == expected + 5
    assert clean_src.extract(*WINDOW).where(F.col("event_id") >= 1_000_000).count() == 5
    assert sorted(r["corrupt_record"] for r in spark.read.json(quar).collect()) == [
        '{"event_id": 999999, "ts": BROKEN',
        "{not json at all}",
        "{still broken",
    ]
    assert _cached_entries(spark) == cached_before


def test_resolved_schema_reads_later_files_with_the_same_micros(spark, tmp_path):
    """The schema resolved on the first read is reused, but every read
    lists the files again: a file added later is counted and extracted,
    and TIMESTAMP(NANOS) values read with the resolved (long) schema
    convert to the same µs instants as on the first, inferring read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "ev"
    root.mkdir()
    base = int(WINDOW[0].replace(tzinfo=timezone.utc).timestamp()) * 10**9
    nanos = [base + k * 3_600_000_000_123 + 789 for k in range(3)]

    def write(name, ks):
        ts = pa.array([nanos[k] for k in ks], pa.timestamp("ns"))
        pq.write_table(pa.table({"ts": ts, "v": ks}), str(root / name))

    def micros():
        out = src.extract(*WINDOW).orderBy("v").select(F.unix_micros("ts"))
        return [r[0] for r in out.collect()]

    write("a.parquet", [0, 1])
    src = FileSource(spark, str(root))
    first = micros()
    assert first == [n // 1000 for n in nanos[:2]]
    assert src.schema is not None
    assert micros() == first

    write("b.parquet", [2])
    assert src.count(*WINDOW) == 3
    assert micros() == [n // 1000 for n in nanos]


def test_quarantine_rejects_conflicting_reader_options(spark, tmp_path):
    """Round-9 (advice): user options are applied after the quarantine
    reader options, so mode=DROPMALFORMED (or a conflicting corrupt-
    record column) would silently defeat the PERMISSIVE contract —
    must raise loudly at construction instead."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    for bad in ({"mode": "DROPMALFORMED"}, {"columnNameOfCorruptRecord": "x"}):
        with pytest.raises(ValueError, match="conflict with quarantine_path"):
            FileSource(
                spark,
                str(tmp_path),
                fmt="json",
                schema=schema,
                quarantine_path=str(tmp_path / "q"),
                options=bad,
            )
    # non-conflicting options still pass through fine
    FileSource(
        spark,
        str(tmp_path),
        fmt="json",
        schema=schema,
        quarantine_path=str(tmp_path / "q"),
        options={"timestampFormat": "yyyy-MM-dd"},
    )


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    from data_pipeline_001_spark.operators.compaction import (
        compact_sink,
        plan_compaction,
    )

    root = str(tmp_path / "sink")
    # two windows: one fragmented (16 files), one already compact
    frag = f"{root}/2024-01-01/00-00"
    ok = f"{root}/2024-01-01/01-00"
    spark.range(10_000).repartition(16).write.parquet(frag)
    spark.range(100).coalesce(1).write.parquet(ok)

    plans = plan_compaction(root, target_bytes=1 << 30, min_files=4)
    assert [p["path"] for p in plans] == [frag]
    assert plans[0]["n_files"] == 16

    before = spark.read.parquet(frag).orderBy("id").collect()
    results = compact_sink(spark, root, target_bytes=1 << 30)
    assert len(results) == 1
    assert results[0]["files_after"] == 1
    after = spark.read.parquet(frag).orderBy("id").collect()
    assert after == before
    # the already-compact window was not touched
    assert plan_compaction(root, target_bytes=1 << 30, min_files=4) == []


def test_compaction_swap_is_atomic_on_failure(spark, tmp_path, monkeypatch):
    """A crash during the temp write must leave the original intact."""
    import data_pipeline_001_spark.operators.compaction as C

    p = str(tmp_path / "d")
    spark.range(1000).repartition(8).write.parquet(p)
    before = set(os.listdir(p))

    class Boom(RuntimeError):
        pass

    def bad_rename(*a, **k):
        raise Boom("crash before swap")

    monkeypatch.setattr(C.os, "rename", bad_rename)
    with pytest.raises(Boom):
        C.compact_dir(spark, p, target_bytes=1 << 30)
    assert set(os.listdir(p)) == before  # original untouched


def test_compaction_recovers_crashed_swap(spark, tmp_path):
    """Crash WINDOWS of the two-rename swap (ADVICE r2): a stranded
    ._compact_old with the data dir missing (crash between renames)
    must be restored; one alongside an existing data dir (crash before
    cleanup) must be discarded; a stale temp dir is always rebuilt.
    In every case a re-run compacts successfully."""
    import shutil

    import data_pipeline_001_spark.operators.compaction as C

    p = str(tmp_path / "d")
    spark.range(1000).repartition(8).write.parquet(p)
    rows = spark.read.parquet(p).orderBy("id").collect()

    # case 1: crash between the renames — data only in ._compact_old
    os.rename(p, p + "._compact_old")
    res = C.compact_dir(spark, p, target_bytes=1 << 30)
    assert res["files_after"] == 1
    assert spark.read.parquet(p).orderBy("id").collect() == rows
    assert not os.path.exists(p + "._compact_old")

    # case 2: crash before cleanup — compacted data at p, old lingers
    spark.range(50).write.parquet(p + "._compact_old")
    spark.range(10).coalesce(1).write.parquet(p + "._compact_tmp")  # stale tmp too
    res = C.compact_dir(spark, p, target_bytes=1 << 30)
    assert spark.read.parquet(p).orderBy("id").collect() == rows
    assert not os.path.exists(p + "._compact_old")
    assert not os.path.exists(p + "._compact_tmp")


def test_source_schema_evolution(spark, tmp_path):
    """Older files lack a later-added column: both the mergeSchema
    route and the explicit-schema route must read the union schema
    with NULLs filled for the missing column."""
    from pyspark.sql import types as T

    root = str(tmp_path / "ev")
    spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 30), 1.0)], "ts timestamp, v double"
    ).write.parquet(f"{root}/gen1")
    spark.createDataFrame(
        [(datetime(2024, 1, 1, 1, 30), 2.0, "new")],
        "ts timestamp, v double, tag string",
    ).write.parquet(f"{root}/gen2")

    merged = FileSource(spark, f"{root}/gen*", merge_schema=True)
    out = merged.extract(datetime(2024, 1, 1), datetime(2024, 1, 2)).orderBy("ts")
    rows = out.collect()
    assert [r["tag"] for r in rows] == [None, "new"]
    # a generation written after the first read adds a column: the
    # merged schema is resolved again on every read, so it is seen
    spark.createDataFrame(
        [(datetime(2024, 1, 1, 2, 30), 3.0, "later", 7)],
        "ts timestamp, v double, tag string, n int",
    ).write.parquet(f"{root}/gen3")
    rows3 = (
        merged.extract(datetime(2024, 1, 1), datetime(2024, 1, 2))
        .orderBy("ts")
        .collect()
    )
    assert [(r["tag"], r["n"]) for r in rows3] == [
        (None, None),
        ("new", None),
        ("later", 7),
    ]

    explicit = FileSource(
        spark,
        f"{root}/gen*",
        schema=T.StructType(
            [
                T.StructField("ts", T.TimestampType()),
                T.StructField("v", T.DoubleType()),
                T.StructField("tag", T.StringType()),
            ]
        ),
    )
    rows2 = explicit.extract(
        datetime(2024, 1, 1), datetime(2024, 1, 2)
    ).orderBy("ts").collect()
    assert [r["tag"] for r in rows2] == [None, "new", "later"]


def test_python_datasource_generates_on_executors(spark):
    """Custom PySpark 4 Python DataSource: deterministic, partition-
    parallel synthetic events — same options, same content, regardless
    of partition layout; no driver-side row path."""
    from data_pipeline_001_spark.operators.constraints import content_checksum
    from data_pipeline_001_spark.sources import synthetic

    synthetic.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("partitions", 16)
        .option("seed", 7)
        .load()
    )
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 16
    ck = lambda d: d.agg(  # noqa: E731
        content_checksum(["event_id", "user_id", "event_type"]).alias("c")
    ).collect()[0]["c"]
    base = ck(df)
    # different partitioning, same content
    df2 = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("partitions", 3)
        .option("seed", 7)
        .load()
    )
    assert ck(df2) == base
    # a different seed is a different corpus
    df3 = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("partitions", 16)
        .option("seed", 8)
        .load()
    )
    assert ck(df3) != base
    # schema mirrors the events table (minus props)
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value",
    ]


def test_parquet_sink_load_windows_writes_each_window(spark, tables, tmp_path):
    """``load_windows`` writes a run's tagged windows in one job: each
    window's directory holds exactly its rows in files of at most
    ``max_records_per_file`` rows, with the frame's columns and not the
    tag, and a ``_SUCCESS`` file; it replaces what the directory held;
    an empty window gets an empty file with the frame's columns; no temp
    directory is left."""
    import os
    from datetime import datetime, timedelta

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_pipeline_001_spark.sources.base import WINDOW_INDEX
    from data_pipeline_001_spark.sources.file_connectors import (
        PartitionedParquetSink,
        footer_row_count,
    )

    sink = PartitionedParquetSink(spark, str(tmp_path / "t"), max_records_per_file=2)
    ev = tables["events"]
    day = datetime(2024, 1, 2)
    bounds = [(day + timedelta(hours=h), day + timedelta(hours=h + 1)) for h in (0, 2, 4)]
    in_window = [(F.col("ts") >= F.lit(s)) & (F.col("ts") < F.lit(e)) for s, e in bounds]
    index = F.when(in_window[0], 0).when(in_window[1], 1).when(in_window[2], 2)
    sink.load(ev.limit(7), *bounds[0])  # stale rows the write must replace
    sink.load_windows(
        ev.where(in_window[0] | in_window[1] | in_window[2]).withColumn(WINDOW_INDEX, index),
        bounds,
    )

    assert not [n for n in os.listdir(sink.root) if n.startswith(".")]
    for (start, end), cond in zip(bounds, in_window):
        path = sink._window_path(start)
        files = [n for n in os.listdir(path) if n.endswith(".parquet")]
        assert "_SUCCESS" in os.listdir(path)
        assert footer_row_count(path) == sink.count(start, end) == ev.where(cond).count()
        for n in files:
            meta = pq.read_metadata(os.path.join(path, n))
            assert meta.num_rows <= 2
            assert meta.schema.to_arrow_schema().names == ev.columns
    assert sink.count(*bounds[1]) == 0 and sink.exists(*bounds[1])
    assert spark.read.parquet(sink._window_path(bounds[1][0])).schema == ev.schema


def test_dynamic_partition_overwrite_replaces_only_touched(
    spark, tables, tmp_path
):
    """partitionOverwriteMode=dynamic: an overwrite write that touches
    one partition value leaves sibling partitions intact — the
    idempotent-window-rewrite contract at the Spark-native
    partitionBy layer (vs the sink's explicit path discipline)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "part")
    ev = tables["events"].withColumn("day", F.to_date("ts"))
    days = [r.day for r in ev.select("day").distinct().limit(2).collect()]
    assert len(days) == 2
    ev.where(F.col("day").isin(days)).write.partitionBy("day").mode(
        "overwrite"
    ).parquet(out)
    n_day0 = ev.where(F.col("day") == days[0]).count()
    n_day1 = ev.where(F.col("day") == days[1]).count()

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # rewrite ONLY day1, with half its rows
        half = ev.where(
            (F.col("day") == days[1]) & (F.col("event_id") % 2 == 0)
        )
        n_half = half.count()
        half.write.partitionBy("day").mode("overwrite").parquet(out)
        back = spark.read.parquet(out)
        assert back.where(F.col("day") == days[0]).count() == n_day0
        assert back.where(F.col("day") == days[1]).count() == n_half
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


# --------------------------------------------------------------------------
# stage → target at the file level (Sink.load_files)
# --------------------------------------------------------------------------


def _staged(spark, tables, tmp_path, parts=3):
    """A day of events written to a stage sink in ``parts`` files; returns
    the stage sink, its window directory and the written schema."""
    from data_pipeline_001_spark.sources.file_connectors import PartitionedParquetSink

    ev = tables["events"]
    win = ev.where((F.col("ts") >= F.lit(WINDOW[0])) & (F.col("ts") < F.lit(WINDOW[1])))
    stage = PartitionedParquetSink(spark, str(tmp_path / "stage"))
    stage.load(win.repartition(parts), *WINDOW)
    return stage, stage._window_path(WINDOW[0]), win.schema


def _window_dir(sink):
    return sink._window_path(WINDOW[0]) if hasattr(sink, "_window_path") else sink._partition_path(WINDOW[0])


def _data_files(path):
    return sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))


def _sinks(spark, root):
    from data_pipeline_001_spark.sources.file_connectors import (
        DayPartitionedTableSink,
        PartitionedParquetSink,
    )

    return [
        PartitionedParquetSink(spark, str(root / "window_sink")),
        DayPartitionedTableSink(spark, str(root / "table_sink")),
    ]


def test_load_files_copies_what_the_spark_load_writes(spark, tables, tmp_path):
    """Both Parquet sinks load a staged window as a byte copy of its
    files, and hold the rows today's Spark read-and-``load`` gives,
    read through Spark with the written schema and through DuckDB."""
    import duckdb

    stage, staged, schema = _staged(spark, tables, tmp_path)
    assert len(_data_files(staged)) == 3
    for copied, written in zip(_sinks(spark, tmp_path / "copy"), _sinks(spark, tmp_path / "spark")):
        copied.load_files(staged, schema, *WINDOW)
        written.load(spark.read.schema(schema).parquet(staged), *WINDOW)
        path = _window_dir(copied)
        assert _data_files(path) == _data_files(staged)
        for n in _data_files(staged):
            for f in (n, f".{n}.crc"):
                with open(os.path.join(staged, f), "rb") as a, open(os.path.join(path, f), "rb") as b:
                    assert a.read() == b.read()
        assert ("_SUCCESS" in os.listdir(path)) == ("_SUCCESS" in os.listdir(_window_dir(written)))
        assert copied.exists(*WINDOW) and copied.count(*WINDOW) == written.count(*WINDOW) > 0

        a = spark.read.schema(schema).parquet(path)
        b = spark.read.schema(schema).parquet(_window_dir(written))
        assert a.count() == b.count() == stage.count(*WINDOW)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

        con = duckdb.connect()
        rows = [
            con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet') ORDER BY event_id").fetchall()
            for d in (path, _window_dir(written))
        ]
        assert rows[0] == rows[1] and len(rows[0]) == a.count()
        assert copied.read_all().columns == written.read_all().columns


def test_load_files_over_the_target_file_cap_goes_through_spark(spark, tables, tmp_path):
    """A staged file holding more rows than the target's own write puts
    in one file is loaded through Spark, so the target's files keep
    the cap; under the cap the files are copied."""
    import pyarrow.parquet as pq

    from data_pipeline_001_spark.sources.file_connectors import (
        DayPartitionedTableSink,
        PartitionedParquetSink,
    )

    stage, staged, schema = _staged(spark, tables, tmp_path, parts=1)
    (one,) = _data_files(staged)
    rows = pq.read_metadata(os.path.join(staged, one)).num_rows
    cap = rows // 4
    assert cap > 0

    def file_rows(path):
        return [pq.read_metadata(os.path.join(path, n)).num_rows for n in _data_files(path)]

    window_sink = PartitionedParquetSink(spark, str(tmp_path / "w"), max_records_per_file=cap)
    table_sink = DayPartitionedTableSink(spark, str(tmp_path / "t"))
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(cap))
    try:
        for sink in (window_sink, table_sink):
            sink.load_files(staged, schema, *WINDOW)
            sizes = file_rows(_window_dir(sink))
            assert len(sizes) >= 4 and max(sizes) <= cap and sum(sizes) == rows
            assert sink.count(*WINDOW) == rows
    finally:
        spark.conf.set(key, prev)

    # at the cap the staged file fits: copied as it is
    window_sink = PartitionedParquetSink(spark, str(tmp_path / "w2"), max_records_per_file=rows)
    table_sink = DayPartitionedTableSink(spark, str(tmp_path / "t2"))
    for sink in (window_sink, table_sink):
        sink.load_files(staged, schema, *WINDOW)
        assert _data_files(_window_dir(sink)) == [one]


def test_load_files_failed_copy_leaves_no_partial_window(spark, tables, tmp_path, monkeypatch):
    """A copy that fails after its first file leaves no window in the
    target, no temp directory beside it, and the staged window as it
    was."""
    import shutil

    stage, staged, schema = _staged(spark, tables, tmp_path)
    before = {n: os.path.getsize(os.path.join(staged, n)) for n in os.listdir(staged)}
    n_staged = stage.count(*WINDOW)
    real = shutil.copyfile
    for sink in _sinks(spark, tmp_path):
        copies = []

        def failing(src, dst, *args, **kwargs):
            if copies:
                raise OSError("disk full")
            copies.append(dst)
            return real(src, dst, *args, **kwargs)

        monkeypatch.setattr(shutil, "copyfile", failing)
        with pytest.raises(OSError, match="disk full"):
            sink.load_files(staged, schema, *WINDOW)
        monkeypatch.setattr(shutil, "copyfile", real)

        assert len(copies) == 1
        assert not sink.exists(*WINDOW) and sink.count(*WINDOW) == 0
        parent = os.path.dirname(_window_dir(sink))
        assert os.listdir(parent) == []
        assert {n: os.path.getsize(os.path.join(staged, n)) for n in os.listdir(staged)} == before
        assert stage.count(*WINDOW) == n_staged > 0

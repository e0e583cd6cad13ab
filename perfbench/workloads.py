"""The benchmark's workloads: one closed-loop client, fixed work per run.

Every workload runs whole units of work (a block of hourly windows, a
cycle of queries, a day of batch backfill), so two runs with the same
``--seconds`` always run the same ops; ``--seed`` only picks which days
and which query order. Each op is timed from outside through the public
API; correctness is checked after the timed region and a failed check
counts the op as failed without stopping the run.

With tracing on, every unit runs three times on separate state: plain,
traced, plain. Per-layer metrics come from the traced pass; its time over
that of the plain pass after it, minus one, is the tracing overhead.
"""

from __future__ import annotations

import gc
import os
import random
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from perfbench import datagen
from perfbench.sparkstats import JobCounter, cache_state
from perfbench.tracing import Tracer

#: bench.HEADLINE at the commit that introduced this benchmark, pinned
#: here so the query mix cannot change under the benchmark
HEADLINE = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_nation_revenue",
    "q10_returned_revenue",
    "join_range_events_buckets",
    "join_asof_events_spine",
    "agg_count_reconciliation",
    "agg_rollup_region_nation",
    "window_topk_orders_per_customer",
    "window_sessionization",
    "time_tumbling_agg",
    "json_extract_props",
    "dedup_exact_fingerprint",
    "dedup_minhash_lsh",
    "text_stats_by_lang",
    "similarity_bruteforce_topk",
)

#: per-layer metric → unit, as listed in BENCHMARK.json; "op" is one
#: window, run_batch call or query
LAYER_UNITS = {
    "control_table.update_where.calls": "count/op",
    "control_table.update_where.busy_s": "s/op",
    "control_table.bytes_rewritten_per_window": "B/window",
    "control_table.append_records.busy_s": "s/op",
    "control_table.read.calls": "count/op",
    "source.count.busy_s": "s/op",
    "source.extract.busy_s": "s/op",
    "sink.load.busy_s": "s/op",
    "sink.count.calls": "count/op",
    "sink.count.busy_s": "s/op",
    "pipeline.run_window.self_s": "s/op",
    **{f"query.{q}.execute_p50_s": "s" for q in HEADLINE},
    "query.construct_s": "s/op",
    "spark.jobs_per_op": "count/op",
    "spark.stages_per_op": "count/op",
    "spark.tasks_per_op": "count/op",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "cache.rdds_end": "count",
    "cache.bytes_end": "B",
    "trace.overhead_share": "ratio",
    "trace.bookkeeping_share": "ratio",
}

#: the layers only run_batch reaches; printed by batch_backfill alone,
#: and not in BENCHMARK.json while no listed workload calls run_batch
BATCH_LAYER_UNITS = {
    "control_table.merge_audit_results.busy_s": "s/op",
    "sink.load_all.busy_s": "s/op",
    "sink.read_all.busy_s": "s/op",
    "pipeline.run_batch.self_s": "s/op",
}

#: a traced run's passes over every unit, each on its own state. The JVM
#: is still warming when measurement starts (time per window keeps
#: falling for ~20 windows, steeply at first), so the first plain pass
#: only moves the traced one onto the flat part of that curve; the
#: overhead compares the traced pass with the plain pass after it, which
#: any warming left over can only make read high, never low.
TRACED_PASSES = ("plain-a", "traced", "plain-b")


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool = True


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    #: timed wall time of each pass's units, checks excluded
    pass_s: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)


class Workload:
    """Subclasses define the session, the warm-up and one unit of work."""

    name = ""
    sf = 0.1
    #: seconds one unit takes on 4 cores; sets how many units fit --seconds
    nominal_unit_s = 1.0
    min_units = 1
    #: what one op is, for the report
    op_kind = "op"
    #: the per-layer metrics a traced run prints
    layer_units = LAYER_UNITS

    def __init__(self, sf_dir: str, work_dir: str, seed: int, seconds: int, trace: bool):
        self.sf_dir = sf_dir
        self.work = work_dir
        self.rng = random.Random(seed)
        self.n_units = max(self.min_units, round(seconds / self.nominal_unit_s))
        self.trace = trace
        self.tracer = Tracer()
        self.spark = None
        self.jobs: JobCounter | None = None
        self.traced = False  # is the unit now running the traced pass
        self.n_ops = 0  # traced ops so far
        self._duck = None

    # -- hooks -------------------------------------------------------------

    def session_kwargs(self) -> dict:
        return {}

    def prepare(self) -> None:
        """Session-level set-up before the warm-up."""

    def warm_up(self) -> None:
        raise NotImplementedError

    def run_unit(self, unit: int, pass_name: str) -> tuple[list[Op], float]:
        """Run unit ``unit`` on state of its own for ``pass_name``; return
        its ops and its timed wall time (checks excluded)."""
        raise NotImplementedError

    def verify(self, res: Result) -> None:
        """Checks that can only run once the timed work is over."""

    def extra_layer_metrics(self, res: Result, n_ops: int) -> dict[str, float]:
        return {}

    # -- shared helpers ----------------------------------------------------

    def duck(self):
        """A DuckDB connection for the correctness checks, kept inside
        the run's work directory."""
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            self._duck.execute(f"SET temp_directory='{self.work}/duckdb'")
            self._duck.execute("SET memory_limit='2GB'")
        return self._duck

    def source_count(self, start: datetime, end: datetime) -> int:
        return self.duck().execute(
            f"SELECT count(*) FROM '{self.sf_dir}/events.parquet' "
            "WHERE ts >= ? AND ts < ?",
            [start, end],
        ).fetchone()[0]

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    def group(self, label: str):
        return self.jobs.group(label) if self.traced else nullcontext()

    @contextmanager
    def op(self, kind: str):
        """One timed op: in the traced pass it gets its own job group, an
        ``op.<kind>`` span, and its id on every span opened inside it."""
        if not self.traced:
            yield
            return
        self.n_ops += 1
        self.tracer.op = self.n_ops
        try:
            with self.jobs.group(kind), self.tracer.span(f"op.{kind}"):
                yield
        finally:
            self.tracer.op = None

    # -- the run -------------------------------------------------------------

    def measure(self, spark, t_process: float, t_excluded: float) -> tuple[Result, dict]:
        """Warm up, then run the fixed work. Returns the result and the
        set-up timings."""
        self.spark = spark
        self.jobs = JobCounter(spark)
        self.prepare()
        t = time.perf_counter()
        self.warm_up()
        # collect the warm-up's garbage on both sides and give Spark's
        # cleaner a moment to drop what it referenced, so that work does
        # not land in the first timed ops
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
        setup = {"session.warmup_s": time.perf_counter() - t}
        setup["setup_s"] = time.perf_counter() - t_process - t_excluded

        res = Result()
        for unit in range(self.n_units):
            for p in TRACED_PASSES if self.trace else ("plain",):
                self.traced = p == "traced"
                if self.traced:
                    self.tracer.install()
                try:
                    ops, busy = self.run_unit(unit, p)
                finally:
                    if self.traced:
                        self.tracer.uninstall()
                    self.traced = False
                res.ops.extend(ops)
                res.pass_s[p] = res.pass_s.get(p, 0.0) + busy
        self.verify(res)
        if self.trace:
            res.layer = self.layer_metrics(res)
        return res, setup

    def layer_metrics(self, res: Result) -> dict[str, float]:
        """Every per-layer metric, from the traced pass. Counts and busy
        times are per op of this workload; a layer the workload does not
        reach reads 0."""
        tr = self.tracer
        n = max(1, self.n_ops)
        m = {name: 0.0 for name in self.layer_units}
        for name in self.layer_units:
            span, _, kind = name.rpartition(".")
            if kind == "calls":
                m[name] = tr.calls(span) / n
            elif kind == "busy_s":
                m[name] = tr.busy_s(span) / n
            elif kind == "self_s":
                m[name] = tr.self_s(span) / n
        m["spark.jobs_per_op"] = self.jobs.jobs / n
        m["spark.stages_per_op"] = self.jobs.stages / n
        m["spark.tasks_per_op"] = self.jobs.tasks / n
        m["trace.overhead_share"] = res.pass_s["traced"] / res.pass_s["plain-b"] - 1.0
        m["trace.bookkeeping_share"] = tr.bookkeeping_s / res.pass_s["traced"]
        m.update(self.extra_layer_metrics(res, n))
        return m


# --------------------------------------------------------------------------
# window_loop: the hourly DAG, one WindowPipeline.run per block of windows
# --------------------------------------------------------------------------


class WindowLoop(Workload):
    name = "window_loop"
    op_kind = "window"
    block_hours = 10
    nominal_unit_s = 25.0
    warmup_windows = 2

    def prepare(self) -> None:
        from data_pipeline_001_spark.sources.file_connectors import FileSource

        self.source = FileSource(self.spark, f"{self.sf_dir}/events.parquet", ts_col="ts")
        self.first_day = self.rng.randrange(1, datagen.EVENT_DAYS - self.n_units)
        self.first_hour = self.rng.choice(range(0, 24, self.block_hours))

    def _block(self, day: int) -> tuple[datetime, datetime]:
        start = datagen.EVENT_EPOCH + timedelta(days=day, hours=self.first_hour)
        return start, start + timedelta(hours=self.block_hours)

    def _pipeline(self, tag: str, sinks: str):
        from data_pipeline_001_spark.plans.control_table import ControlTable
        from data_pipeline_001_spark.plans.pipeline import PipelineConfig, WindowPipeline
        from data_pipeline_001_spark.sources.file_connectors import PartitionedParquetSink

        cfg = PipelineConfig(
            pipeline_name="hourly_events",
            granularity="1h",
            max_pipeline_runs=self.block_hours,
        )
        return WindowPipeline(
            self.spark,
            cfg,
            self.source,
            PartitionedParquetSink(self.spark, f"{self.work}/{sinks}/stage"),
            PartitionedParquetSink(self.spark, f"{self.work}/{sinks}/target"),
            ControlTable(self.spark, f"{self.work}/control/{tag}"),
        )

    def warm_up(self) -> None:
        """Plan the block before the first measured one and run its first
        windows. The count is fixed so every run starts measuring from
        the same point of the JVM's warm-up (see NOTES.md)."""
        pipe = self._pipeline("warmup", "warmup")
        pipe.populate(*self._block(self.first_day - 1))
        for rec in pipe.pending_records()[: self.warmup_windows]:
            t = time.perf_counter()
            pipe.run_window(rec)
            print(f"  warm-up window {time.perf_counter() - t:.3f} s", flush=True)

    def run_unit(self, unit: int, pass_name: str) -> tuple[list[Op], float]:
        pipe = self._pipeline(f"{pass_name}-{unit}", pass_name)
        start, end = self._block(self.first_day + unit)
        times: dict[datetime, tuple[float, str]] = {}
        inner = pipe.run_window

        def timed_window(record):
            t = time.perf_counter()
            with self.op("window"):
                status = inner(record)
            times[record["source_query_window_start_time"]] = (time.perf_counter() - t, status)
            return status

        # per-instance hook: WindowPipeline.run calls self.run_window
        pipe.run_window = timed_window
        t = time.perf_counter()
        with self.group("plan"):
            pipe.run(start, end)
        busy = time.perf_counter() - t
        return self._check(pipe, times, start, end), busy

    def _check(self, pipe, times, start, end) -> list[Op]:
        """Every window of the block ran, completed and matched, and its
        target holds exactly the source rows of its hour."""
        con = self.duck()
        rows = con.execute(
            "SELECT source_query_window_start_time, pipeline_status, count_match_status "
            f"FROM read_parquet('{pipe.control.path}/*.parquet')"
        ).fetchall()
        control = {r[0]: (r[1], r[2]) for r in rows}
        ops = []
        ws = start
        while ws < end:
            we = ws + timedelta(hours=1)
            seconds, status = times.get(ws, (0.0, "not run"))
            target_dir = os.path.join(pipe.target_sink.root, ws.strftime("%Y-%m-%d/%H-%M"))
            target = (
                con.execute(f"SELECT count(*) FROM read_parquet('{target_dir}/*.parquet')").fetchone()[0]
                if os.path.isdir(target_dir)
                else -1
            )
            ok = (
                status == "completed"
                and control.get(ws) == ("completed", "matched")
                and target == self.source_count(ws, we)
            )
            ops.append(Op(f"window {ws:%Y-%m-%d %H:%M}", seconds, ok))
            ws = we
        return ops

    def extra_layer_metrics(self, res: Result, n: int) -> dict[str, float]:
        return {"control_table.bytes_rewritten_per_window": self.tracer.bytes_rewritten / n}


# --------------------------------------------------------------------------
# batch_backfill: incremental run_batch, one call per consecutive day
# --------------------------------------------------------------------------


class BatchBackfill(Workload):
    name = "batch_backfill"
    op_kind = "run_batch call"
    layer_units = {**LAYER_UNITS, **BATCH_LAYER_UNITS}
    sf = 1
    nominal_unit_s = 10.0
    min_units = 2

    def prepare(self) -> None:
        from data_pipeline_001_spark.sources.file_connectors import FileSource

        self.source = FileSource(self.spark, f"{self.sf_dir}/events.parquet", ts_col="ts")
        self.first_day = self.rng.randrange(1, datagen.EVENT_DAYS - self.n_units)

    def _pipeline(self, tag: str):
        from data_pipeline_001_spark.plans.control_table import ControlTable
        from data_pipeline_001_spark.plans.pipeline import PipelineConfig, WindowPipeline
        from data_pipeline_001_spark.sources.file_connectors import (
            DayPartitionedTableSink,
            PartitionedParquetSink,
        )

        return WindowPipeline(
            self.spark,
            PipelineConfig(pipeline_name="backfill", granularity="1h"),
            self.source,
            PartitionedParquetSink(self.spark, f"{self.work}/{tag}/stage"),
            DayPartitionedTableSink(self.spark, f"{self.work}/{tag}/target"),
            ControlTable(self.spark, f"{self.work}/{tag}/control"),
        )

    def _day(self, day: int) -> tuple[datetime, datetime]:
        start = datagen.EVENT_EPOCH + timedelta(days=day)
        return start, start + timedelta(days=1)

    def warm_up(self) -> None:
        self._pipeline("warmup").run_batch(*self._day(self.first_day - 1))

    def run_unit(self, unit: int, pass_name: str) -> tuple[list[Op], float]:
        # one control table and one target shared by every day of a pass
        pipe = self._pipeline(pass_name)
        start, end = self._day(self.first_day + unit)
        t = time.perf_counter()
        try:
            with self.op("run_batch"):
                pipe.run_batch(start, end)
            raised = False
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            print(f"run_batch {start:%Y-%m-%d} raised: {exc}", flush=True)
            raised = True
        seconds = time.perf_counter() - t
        ok = not raised and self._check(pipe, end)
        return [Op(f"run_batch {start:%Y-%m-%d}", seconds, ok)], seconds

    def _check(self, pipe, end: datetime) -> bool:
        """Every window backfilled so far is completed and matched, and the
        target holds exactly the source rows of all days so far."""
        con = self.duck()
        bad = con.execute(
            f"SELECT count(*) FROM read_parquet('{pipe.control.path}/*.parquet') "
            "WHERE pipeline_status <> 'completed' OR count_match_status <> 'matched'"
        ).fetchone()[0]
        target = con.execute(
            f"SELECT count(*) FROM read_parquet('{pipe.target_sink.root}/*/*/*.parquet')"
        ).fetchone()[0]
        expected = self.source_count(datagen.EVENT_EPOCH + timedelta(days=self.first_day), end)
        if bad or target != expected:
            print(
                f"  check {end - timedelta(days=1):%Y-%m-%d}: {bad} window(s) not "
                f"completed/matched; target rows {target}, expected {expected}",
                flush=True,
            )
        return bad == 0 and target == expected

    def extra_layer_metrics(self, res: Result, n: int) -> dict[str, float]:
        return {"control_table.bytes_rewritten_per_window": self.tracer.bytes_rewritten / (24 * n)}


# --------------------------------------------------------------------------
# query_mix: the 16 headline queries into the noop sink, whole cycles
# --------------------------------------------------------------------------


class QueryMix(Workload):
    name = "query_mix"
    op_kind = "query"
    nominal_unit_s = 15.0

    def session_kwargs(self) -> dict:
        from bench import _dir_bytes, _shuffle_width

        return {"shuffle_partitions": _shuffle_width(_dir_bytes(self.sf_dir))}

    def prepare(self) -> None:
        """Size and warm the session for the scale point as bench.py does."""
        import __spark_entry__
        from bench import _prepare_point

        _prepare_point(self.spark, self.sf_dir)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.results: dict[str, object] = {}
        self.cache_end = (0, 0)

    def _order(self) -> list[str]:
        order = list(HEADLINE)
        self.rng.shuffle(order)
        return order

    def warm_up(self) -> None:
        """The first cycle collects every result for the oracle check."""
        from tools.check_oracle import canon

        for q in self._order():
            try:
                self.results[q] = canon(self.queries[q](self.spark, self.sf_dir).toPandas())
            except Exception as exc:  # noqa: BLE001 — a failing query is a failed op
                print(f"{q} raised: {exc}", flush=True)
                self.results[q] = None

    def oracle_digests(self) -> dict[str, object]:
        """canon() of each query's DuckDB oracle result."""
        from tools.check_oracle import canon

        con = self.duck()
        for t in datagen.TABLES:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        return {q: canon(con.execute(self.oracles[q]).fetchdf()) for q in HEADLINE}

    def verify(self, res: Result) -> None:
        """Compare each collected result with its oracle digest; a query
        whose result is wrong fails every op that ran it."""
        oracle = self.oracle_digests()
        ok = {}
        for q in HEADLINE:
            ok[q] = self.results[q] == oracle[q]
            if not ok[q]:
                print(f"{q}: result does not match its oracle", flush=True)
        for op in res.ops:
            op.ok = op.ok and ok[op.name]

    def run_unit(self, unit: int, pass_name: str) -> tuple[list[Op], float]:
        ops = []
        for q in self._order():
            t = time.perf_counter()
            try:
                with self.op("query"):
                    with self.span("query.construct"):
                        df = self.queries[q](self.spark, self.sf_dir)
                    with self.span(f"query.{q}.execute"):
                        df.write.mode("overwrite").format("noop").save()
                ok = True
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                print(f"{q} raised: {exc}", flush=True)
                ok = False
            ops.append(Op(q, time.perf_counter() - t, ok))
        if self.traced:
            self.cache_end = cache_state(self.spark)
        return ops, sum(o.seconds for o in ops)

    def extra_layer_metrics(self, res: Result, n: int) -> dict[str, float]:
        tr = self.tracer
        m = {f"query.{q}.execute_p50_s": tr.p50_s(f"query.{q}.execute") for q in HEADLINE}
        m["query.construct_s"] = tr.busy_s("query.construct") / n
        m["cache.rdds_end"] = float(self.cache_end[0])
        m["cache.bytes_end"] = float(self.cache_end[1])
        return m


WORKLOADS = {w.name: w for w in (WindowLoop, QueryMix, BatchBackfill)}

"""Registry-wide plan-shape gate (round-7 invariant).

Explains EVERY registered query's physical plan and fails on the three
scale-killer operator classes — CartesianProduct, BatchEvalPython
(row-at-a-time Python UDF), and BroadcastNestedLoopJoin whose build
side is not provably bounded. The round-6 link-prediction wedge
explosion (>900 s at sf1, zero human-visible plan smell) motivated
making this mechanical: per-wave plan discipline is now an invariant
that protects every future wave for free.

Boundedness proof and the documented-bounded allowlist live in
``tools/plan_gate.py`` (shared with the standalone report runner) —
each allowlist entry names the query and its boundedness argument.
"""

import pytest

import tools.plan_gate as pg

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def _gate_all(spark, registry, sf):
    """Gate every registry plan; also record which queries executed
    driver jobs DURING construction/explain (job-group attribution) —
    the mechanical membership check for pg.DRIVER_JOB_BUILDERS."""
    from data_pipeline_001_spark.session import load_tables

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("gate-warmup", "absorb session-init + table-load jobs")
    spark.range(1).count()  # else the FIRST query inherits init jobs
    # load_tables' one-time parquet footer reads run small jobs; they
    # are shared infrastructure, not any query's construction cost —
    # whichever query iterates first would otherwise be misattributed
    # as a driver-job builder (q01 absorbed this before round 9)
    load_tables(spark, sf)
    violations = {}
    bnlj_live = set()
    job_builders = set()
    for name, fn in registry.items():
        sc.setJobGroup(f"gate-{name}", name)
        try:
            df = fn(spark, sf)
            plan = pg.simple_plan(df)
        except Exception as exc:
            violations[name] = [f"plan build failed: {exc!r:.200}"]
            continue
        finally:
            sc.setJobGroup("gate-idle", "between queries")
            if tracker.getJobIdsForGroup(f"gate-{name}"):
                job_builders.add(name)
        bad = pg.violations_for(name, plan)
        # round-8: driver-built frames are row-count-probed, not
        # trusted — a data-sized createDataFrame anywhere in the plan
        # fails the gate even outside a BNLJ build side
        if "ExistingRDD" in plan:
            bad += pg.existing_rdd_violations(df)
        if bad:
            violations[name] = bad
        if name in pg.ALLOWLIST and "BroadcastNestedLoopJoin" in plan:
            bnlj_live.add(name)
    return violations, bnlj_live, job_builders


def test_no_scale_killers_in_any_registered_plan(spark, registry):
    violations, bnlj_live, job_builders = _gate_all(spark, registry, SF)
    assert not violations, "\n".join(
        f"{n}: {'; '.join(b)}" for n, b in sorted(violations.items())
    )
    # the allowlist must not rot: every entry must still exempt a live
    # BroadcastNestedLoopJoin — a dead entry means the plan changed and
    # the exemption (with its boundedness argument) should be removed
    dead = set(pg.ALLOWLIST) - bnlj_live
    assert not dead, f"stale allowlist entries (no BNLJ in plan): {dead}"
    # round-9 (verdict task 5): membership of the sf1-gate exemption
    # list is MECHANICAL — a query that executes driver jobs during
    # plan construction must be justified in pg.DRIVER_JOB_BUILDERS
    # (or the documented affordable set) before it can silently slow
    # or wedge the sf1 static gate
    undocumented = job_builders - set(pg.DRIVER_JOB_BUILDERS) - set(
        pg.SF1_AFFORDABLE_BUILDERS
    )
    assert not undocumented, (
        "queries run driver jobs during plan construction but are not "
        f"justified in tools/plan_gate.py: {sorted(undocumented)}"
    )


@pytest.mark.slow
def test_gate_holds_at_replicated_sf1(spark, registry, sf1_dir):
    """Round-9 (verdict task 5): the sf1 gate now covers the WHOLE
    registry except the justified construction-job builders
    (pg.DRIVER_JOB_BUILDERS — explaining those at sf1 executes their
    fit/convergence jobs at sf1 sizes; round-8 measured >70 CPU-min;
    the sf1 RUNTIME sweep covers them instead). Round 8 gated only a
    12-prefix inclusion subset (~45 names); the exemption is now 27
    names, each justified, with membership enforced mechanically by
    the fast gate above. File-size statistics at ~170 MB differ
    enough from sf0.001 to flip broadcast decisions — a strategy
    that only looks safe at toy scale is caught here. The sf1_dir
    fixture generates the point when it is missing."""
    sub = {
        n: fn
        for n, fn in registry.items()
        if n not in pg.DRIVER_JOB_BUILDERS
    }
    assert len(sub) >= 260, f"gated subset shrank unexpectedly: {len(sub)}"
    violations, _, _ = _gate_all(spark, sub, sf1_dir)
    assert not violations, "\n".join(
        f"{n}: {'; '.join(b)}" for n, b in sorted(violations.items())
    )


def test_existing_rdd_probe_catches_data_sized_local_frame(spark):
    """A driver-built frame above the broadcast bound must fail the
    probe even though its plan text ('Scan ExistingRDD') is
    indistinguishable from a 3-row literal's (verdict task 4a's
    planted case)."""
    big = spark.createDataFrame(
        ((i,) for i in range(pg._MAX_BOUNDED_ROWS + 1)), "x long"
    )
    bad = pg.existing_rdd_violations(big)
    assert len(bad) == 1 and "LogicalRDD" in bad[0]
    small = spark.createDataFrame([(1,), (2,)], "x long")
    assert pg.existing_rdd_violations(small) == []


def test_parser_handles_nested_build_sides():
    """Unit check of the tree parser on a hand-built plan: the outer
    BNLJ's bounded (global-agg) build side must not mask the inner
    BNLJ's unbounded one."""
    plan = """== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=false
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- Project [a#1]
   :  +- BroadcastNestedLoopJoin BuildRight, Inner, (b#2 > a#1)
   :     :- FileScan parquet [a#1]
   :     +- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
   :        +- FileScan parquet [b#2]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=2]
      +- HashAggregate(keys=[], functions=[count(1)])
         +- FileScan parquet [c#3]
"""
    bad = pg.violations_for("not_in_allowlist", plan)
    assert len(bad) == 1 and "unproven build side" in bad[0]
    assert "FileScan parquet [b#2" in bad[0]


def test_parser_accepts_bounded_markers():
    for marker in (
        "HashAggregate(keys=[], functions=[count(1)])",
        "LocalTableScan [x#1]",
        "Scan ExistingRDD[model#1]",
        "GlobalLimit 100",
        "TakeOrderedAndProject(limit=10, orderBy=[x#1 ASC])",
        "Range (0, 500, step=1)",
    ):
        plan = f"""== Physical Plan ==
BroadcastNestedLoopJoin BuildRight, Cross
:- FileScan parquet [a#1]
+- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
   +- {marker}
"""
        assert pg.violations_for("x", plan) == [], marker


def test_bounded_sibling_does_not_mask_data_sized_branch():
    """Round-8 regression: a build side that JOINS a bounded frame
    with a data-sized scan is unbounded — under the old
    anywhere-in-text marker scan the zero-key aggregate branch masked
    the FileScan branch (gate false negative)."""
    plan = """== Physical Plan ==
BroadcastNestedLoopJoin BuildRight, Cross
:- FileScan parquet [a#1]
+- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
   +- BroadcastHashJoin [k#2], [k#3], Inner, BuildLeft
      :- HashAggregate(keys=[], functions=[count(1)])
      :  +- FileScan parquet [c#3]
      +- FileScan parquet [b#2, k#3]
"""
    bad = pg.violations_for("not_in_allowlist", plan)
    assert len(bad) == 1 and "unproven build side" in bad[0]


def test_inline_subquery_mention_does_not_bound():
    """Round-8 regression: 'Subquery' appearing INSIDE a filter
    condition's text is not a cardinality proof for the node — only a
    scalar-subquery tree node (1 row by definition) bounds."""
    plan = """== Physical Plan ==
BroadcastNestedLoopJoin BuildRight, Cross
:- FileScan parquet [a#1]
+- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
   +- Filter (x#2 > ReusedSubquery Subquery subquery#5)
      +- FileScan parquet [b#2]
"""
    assert len(pg.violations_for("x", plan)) == 1
    scalar = """== Physical Plan ==
BroadcastNestedLoopJoin BuildRight, Cross
:- FileScan parquet [a#1]
+- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
   +- Subquery subquery#5, [id=#23]
      +- FileScan parquet [b#2]
"""
    assert pg.violations_for("x", scalar) == []


def test_parser_rejects_large_limits():
    plan = """== Physical Plan ==
BroadcastNestedLoopJoin BuildRight, Cross
:- FileScan parquet [a#1]
+- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
   +- GlobalLimit 5000000
      +- FileScan parquet [b#2]
"""
    assert len(pg.violations_for("x", plan)) == 1

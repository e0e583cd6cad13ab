"""AQE-time (executed-plan) join-strategy pins — round-9 verdict
task 1.

The round-8 performance story rests on two claims that bind at
RUNTIME, not at static explain time: (a) the bucketed headliners'
fact joins run shuffle-free off the bucketed scans, and (b) the
stats-gated shuffled-hash-join session default
(session.py: spark.sql.join.preferSortMergeJoin=false) picks SHJ for
the fact join when `canBuildLocalHashMap` proves the build side fits
(size < autoBroadcastJoinThreshold x shuffle partitions, and 3x
smaller than the probe), demoting honestly to SortMergeJoin when it
can't. AQE re-plans joins from true runtime sizes, so only the
AQE-final executed plan proves either claim — these tests execute the
plans at the replicated sf1 point (~170 MB; sf10 via
SPARK_GRAFT_EXECPLAN_SF=.benchdata/sf10) and assert on
`queryExecution().executedPlan()` AFTER the run, making a silent
strategy flip a suite failure instead of a bench regression.

Thresholds are scaled to the point: at sf1 orders (18.5 MB) is under
the session's 24 MB broadcast threshold, so the test pins the
DECISION STRUCTURE with a 4 MB threshold — the same stats gate the
24 MB default applies to sf10+ sizes (orders 185 MB+), where the
env-flagged run exercises the production values unmodified.
"""

import os

import pytest

pytestmark = pytest.mark.slow  # lane 2


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


@pytest.fixture(scope="module")
def sf_exec(request):
    """The point the pins execute at: the generated sf1 (built on
    first use by the sf1_dir fixture), or $SPARK_GRAFT_EXECPLAN_SF."""
    override = os.environ.get("SPARK_GRAFT_EXECPLAN_SF")
    if not override:
        return request.getfixturevalue("sf1_dir")
    if not os.path.isdir(override):
        pytest.skip(f"{override} not generated (run tools/make_benchdata.py)")
    return override


def _at_sf1(sf_exec: str) -> bool:
    return sf_exec.rstrip("/").endswith("sf1")


@pytest.fixture()
def aqe_spark(spark):
    """The shared session with AQE forced on (the bench harness
    disables it below 1 GB input; these tests pin AQE-time behavior)
    and conf restored afterwards."""
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        yield spark
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _final_plan(df) -> str:
    """The AQE-final executed plan — valid only after the frame ran.
    `toString()` on an executed AdaptiveSparkPlan prints the final
    ('Current') plan followed by '== Initial Plan =='; keep the final
    section only, or initial-plan nodes contaminate the assertions."""
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s, "plan not adaptive or frame never ran"
    return s.split("== Initial Plan ==")[0]


def _run(registry, spark, name, sf_exec):
    df = registry[name](spark, sf_exec)
    df.collect()  # headliners return <= 25 rows
    return _final_plan(df)


def test_bucketed_headliners_execute_shuffle_free(aqe_spark, registry, sf_exec):
    """The orderkey-bucketed twins at execution time: q03's whole plan
    has ZERO shuffle exchanges; q05/q10 keep only their documented
    irreducible one (the 25-group n_name rollup / the per-custkey
    re-aggregation) — and in particular NO exchange on the bucket key.
    The round-8 one-file-per-bucket layout fix lives or dies here: a
    regression that breaks bucket metadata re-introduces the orderkey
    exchange and fails this test."""
    # Scope note: zero-exchange for q03 holds while the customer dim
    # fits the broadcast gate (sf1: 1.5 MB, sf10: 15 MB — both under
    # the 24 MB threshold). At sf100 customer (134 MB) crosses the
    # ceiling and the stats gate correctly demotes the dim join to a
    # shuffled hash join, adding the one custkey exchange q10's plan
    # always pays — measured and attributed in BENCH_NOTES round 9.
    plan = _run(registry, aqe_spark, "q03_shipping_priority_bucketed", sf_exec)
    assert "Exchange hashpartitioning" not in plan, plan

    # round-12: q05_bucketed pre-aggregates per customer before the
    # customer join (the merge-hint + double-eager-agg rework measured
    # 2.09 -> 0.95 s at sf1), so it now pays the SAME documented
    # irreducible custkey exchange q10 always paid — one row per
    # customer — plus its 25-group n_name rollup. Two exchanges, both
    # scale-independent keys; the bucket keys still never shuffle.
    for name, allowed_keys in (
        ("q05_nation_revenue_bucketed", ("o_custkey", "n_name")),
        ("q10_returned_revenue_bucketed", ("o_custkey",)),
    ):
        plan = _run(registry, aqe_spark, name, sf_exec)
        exchanges = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
        ]
        # the scale-INDEPENDENT invariant: the bucket key never
        # shuffles — the layout's whole point. Exchange COUNT is
        # scale-dependent (the dimension chain's broadcast decision
        # flips when its size estimate crosses the gate: q05's
        # customer chain stops broadcasting at sf10, customer itself
        # at sf100 — attributed in BENCH_NOTES round 9), so the exact
        # single-exchange shape is pinned only at the sf1 design point.
        for ln in exchanges:
            for key in ("l_orderkey", "o_orderkey"):
                assert key not in ln, f"{name} shuffles bucket key: {ln}"
        if _at_sf1(sf_exec):
            assert len(exchanges) == len(allowed_keys), f"{name}: {exchanges}"
            for ln in exchanges:
                assert any(k in ln for k in allowed_keys), f"{name}: {ln}"


def test_customer_join_above_ceiling_executes_scan_local(aqe_spark, registry, sf_exec):
    """Round-10 (verdict task 1/5): when the customer dimension
    crosses the broadcast ceiling (the sf100 regime — planted here by
    a threshold below customer's sf1 size), the demoted partitioned
    join must read its customer side SCAN-LOCAL from the
    c_custkey-bucketed layout: the AQE-final plan exchanges ONLY the
    fact side (o_custkey) — never c_custkey, and never the bucket
    orderkeys. This is the layout extension that removed the sf100
    q03 superlinear step (the dimension exchange+sort,
    0.95 s -> 4.03 s sf30->sf100 before the fix)."""
    aqe_spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(128 * 1024)
    )
    for name in (
        "q03_shipping_priority_bucketed",
        "q05_nation_revenue_bucketed",
        "q10_returned_revenue_bucketed",
    ):
        plan = _run(registry, aqe_spark, name, sf_exec)
        exchanges = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
        ]
        assert exchanges, (
            f"{name}: expected the demoted dim join's fact-side exchange"
        )
        assert any("o_custkey" in ln for ln in exchanges), (name, exchanges)
        for ln in exchanges:
            assert "c_custkey" not in ln, f"{name} customer side shuffled: {ln}"
            assert "l_orderkey" not in ln and "o_orderkey" not in ln, (
                name,
                ln,
            )


def test_plain_q05_fact_join_executes_as_shuffled_hash(aqe_spark, registry, sf_exec):
    """The stats-gated SHJ default must actually bind at runtime: with
    a broadcast threshold the orders side exceeds (4 MB at sf1 — the
    sf10+ run keeps the 24 MB production value) but a per-partition
    hash map the stats DO prove (threshold x 32 partitions >> orders),
    the lineitem join executes as ShuffledHashJoin building the
    orders side, not SortMergeJoin — the round-8 lever that skips
    sorting the exchanged fact rows (-20% on q05 at sf30)."""
    if _at_sf1(sf_exec):
        aqe_spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(4 * 1024 * 1024)
        )
    aqe_spark.conf.set("spark.sql.shuffle.partitions", "32")
    plan = _run(registry, aqe_spark, "q05_nation_revenue", sf_exec)
    shj = [
        ln for ln in plan.splitlines() if "ShuffledHashJoin" in ln
    ]
    assert any(
        "l_orderkey" in ln and "o_orderkey" in ln for ln in shj
    ), f"fact join did not execute as SHJ:\n{plan}"
    assert "SortMergeJoin" not in plan, plan


def test_oversized_build_side_demotes_to_sort_merge(aqe_spark, registry, sf_exec):
    """The honest half of the SHJ gate: when canBuildLocalHashMap
    CANNOT prove the build side fits (threshold x partitions below the
    orders size — the planted stand-in for a 100 TB build side), the
    same query must demote to SortMergeJoin rather than hash an
    unprovable build side into executor memory."""
    aqe_spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(128 * 1024)
    )
    aqe_spark.conf.set("spark.sql.shuffle.partitions", "4")
    plan = _run(registry, aqe_spark, "q05_nation_revenue", sf_exec)
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan

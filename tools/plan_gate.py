"""Registry-wide physical-plan gate: mechanical scale-killer detection.

Round 6's link-prediction pathology (a 1.48e9-row wedge explosion,
`queries_mleval.py` pre-fix) carried no smell a human scanned for and
cost a >900 s *runtime* discovery at sf1. This gate turns the per-wave
plan discipline into an invariant: every registered query's physical
plan is explained (analysis + optimization only — nothing executes for
the plan itself) and fails the build on the three operator classes that
kill 100 TB plans:

- ``CartesianProduct``     — an unconditioned full cross product;
- ``BatchEvalPython``      — a row-at-a-time Python UDF in the plan
                             (the allowed Python path is Arrow-batched:
                             ArrowEvalPython / MapInPandas /
                             FlatMapGroupsInPandas);
- ``BroadcastNestedLoopJoin`` whose *build side* is not provably
  bounded. BNLJ is O(left × build): fine when the build side is a
  global (keys=[]) aggregate — exactly one row — or a small literal
  limit/spine, catastrophic when it is data-sized.

Boundedness is decided structurally from the plan tree, not by name:
walking down from the BNLJ build-side root, a node is bounded iff it
is itself output-capping (zero-key HashAggregate/SortAggregate → 1
row, GlobalLimit/TakeOrdered with a small literal, LocalTableScan,
scalar Subquery, small literal Range) or ALL of its children are — so
a bounded sibling can never mask a data-sized branch. Driver-built
frames (``Scan ExistingRDD``) are additionally row-count-probed
(``existing_rdd_violations``): the one thing the gate executes is a
count of each LogicalRDD leaf, failing any over the broadcast bound.
Everything else needs an entry in ``ALLOWLIST`` naming the query and
the boundedness argument — the documented-bounded cases the round-6
verdict audited (e.g. Theil-Sen's calendar-bounded spine pair join).

Run standalone for a report: ``python tools/plan_gate.py [sf_dir]``.
``tests/test_plan_gate.py`` imports ``violations_for`` and fails the
suite on any non-empty result.
"""

from __future__ import annotations

import re

#: query name -> reason its BroadcastNestedLoopJoin build side is
#: bounded even though the plan tree cannot prove it. Every entry MUST
#: state the bound. Keep this list short — prefer making the bound
#: visible in the plan (broadcast a global agg, a literal limit).
ALLOWLIST: dict[str, str] = {
    "stats_theil_sen": (
        "day_a < day_b inequality self-join of the daily revenue "
        "spine: the spine is calendar-bounded (~2.4k rows at any sf, "
        "~3M pairs constant), never corpus-sized (queries_er.py)"
    ),
    "events_power_user_curve": (
        "percentile-grid inequality join: distinct-user activity "
        "histogram (≤100 rows after the decile rollup) against a "
        "literal 100-point grid — both sides constant-bounded"
    ),
    "stats_mann_kendall": (
        "day_a < day_b inequality self-join of the daily revenue "
        "spine (calendar-bounded ~2.4k rows at any sf) — the same "
        "bounded pair join as Theil-Sen (queries_graph.py)"
    ),
    "stats_kendall_tau": (
        "inequality pair join over the calendar-bounded daily spine "
        "(~2.4k rows, ~3M pairs constant at any sf)"
    ),
    "join_cross_region_nation": (
        "intentional cross-join demo of the two constant dimension "
        "tables (5 regions × 25 nations = 125 rows at every sf)"
    ),
    "embedding_covariance": (
        "build side is the single (i=-1, j=-1) count row filtered "
        "from the d²-bounded cached Gram frame — 1 row by key, but "
        "the point-lookup filter is not structurally provable"
    ),
    "similarity_bruteforce_topk": (
        "build side is the ≤10-vector probe set (vec_id < 10 pushed "
        "filter); the corpus side streams — the documented brute-"
        "force ORACLE TWIN of the LSH/IVF scale paths, never the "
        "full-corpus plan (operators/similarity.py)"
    ),
    # dedup_embedding_cosine left this list in round 11: its BNLJ was
    # replaced by the one-task batched-NumPy MapInArrow form
    # (operators/similarity.pairwise_cosine_pairs)
    "agg_ab_experiment_lift": (
        "build side is the per-arm conversion summary — one row per "
        "experiment arm (2 arms), bounded by design cardinality"
    ),
}

#: Queries whose plan CONSTRUCTION executes driver-side Spark jobs
#: whose cost scales with the data — iterative convergence loops,
#: model fits, or data-derived plan parameters. These are exempt from
#: the replicated-sf1 STATIC gate (explaining them at sf1 would run
#: those jobs at sf1 sizes: round-8 measured a full-registry sf1
#: explain >70 CPU-minutes, all inside these builders); their sf1
#: behavior is covered where it is observable — the full-registry sf1
#: RUNTIME sweep (tools/sweep_sf1.py) executes every one. Membership
#: is MECHANICAL, not hand-waved: the fast full-registry gate wraps
#: every plan build in a job group and fails if a query outside this
#: dict runs construction jobs (tests/test_plan_gate.py), so a new
#: heavy builder must be justified here before it can slow the sf1
#: gate. Round-9 (verdict task 5): this shrank the sf1 exemption set
#: from ~255 names (everything outside a 12-prefix inclusion list) to
#: the 27 below.
DRIVER_JOB_BUILDERS: dict[str, str] = {
    # -- iterative convergence: one full job per round until stable --
    "dedup_cluster_components": "min-label propagation loop (O(diameter) jobs over the pair graph)",
    "dedup_cluster_canonical": "same component loop + canonical pick",
    "dedup_cluster_components_lsh": "component loop over LSH candidate pairs",
    "er_customer_entities": "blocking → pair scoring → transitive-closure loop",
    "graph_component_sizes": "label-propagation loop over the co-order graph",
    "graph_pagerank_top": "power-iteration steps over checkpointed adjacency",
    "stats_markov_stationary": "power iteration to the stationary vector",
    # -- model fits executed at construction time --
    "dedup_semantic_clusters": "k-means fit routes the corpus before the plan exists",
    "similarity_ivf_topk": "IVF coarse-centroid fit (k-means)",
    "similarity_pq_topk": "product-quantizer codebook fit",
    "similarity_lsh_topk": "hyperplane sampling + bucket-width calibration scan",
    "similarity_numpy_topk": "corpus collected to the driver for the NumPy twin (bounded slice)",
    "embedding_pca": "Gram-matrix tree-aggregation + eigendecomposition",
    "embedding_mahalanobis_outliers": "covariance fit (d x d Gram collect)",
    "embedding_quant_calibration": "per-dimension min/max calibration scan",
    "text_bpe_train": "BPE merge loop (one count job per merge)",
    "text_lm_perplexity": "n-gram LM fit (count tables collected)",
    "text_tfidf_top_term": "document-frequency table built for the IDF broadcast",
    # -- data-derived plan parameters (one bounded probe job) --
    "curation_stratified_sample": "sampleBy fractions derived from per-stratum counts",
    "window_quartiles_approx": "approxQuantile boundary probe",
    "time_resample_ffill": "min/max timestamp probe sizes the resample spine",
    "order_global_index": "partition-boundary count scan for the global index",
    "quality_constraint_report": "constraint summary stats collected for the report frame",
    "dedup_bloom_incremental": "corpus Bloom bitset aggregated + broadcast at build time",
    "dedup_minhash_lsh": "planted-copy bound probe (max id) before the union",
    "dedup_simhash": "planted-copy bound probe (max id) before the union",
    "dedup_embedding_lsh": "planted bound probe + hyperplane calibration",
}

#: construction-job builders that stay IN the sf1 static gate anyway:
#: their probe is one bounded scan and they have been sf1-gated since
#: round 8 (the lane-2 runtime budget already proves affordability).
SF1_AFFORDABLE_BUILDERS: dict[str, str] = {
    "q22_idle_customers": "scalar avg-balance subquery evaluated once (zero-key agg)",
    "join_fuzzy_editdist1": "FastSS deletion-dictionary bound probe (one bounded scan)",
    "q03_shipping_priority_bucketed": "one-time bucketed-table materialization per scale point (amortized across the bucketed trio)",
    "q05_nation_revenue_bucketed": "bucket materialization (if iterated first)",
    "q10_returned_revenue_bucketed": "bucket materialization (if iterated first)",
    # round-11 second fact layout: whichever denorm twin is iterated
    # first in a fresh warehouse materializes the custkey-clustered
    # denormalized lineitem table (signature-validated reuse after)
    "q03_shipping_priority_denorm": "one-time denorm-layout materialization per scale point (amortized across the denorm trio)",
    "q05_nation_revenue_denorm": "denorm materialization (if iterated first)",
    "q10_returned_revenue_denorm": "denorm materialization (if iterated first)",
}

#: node-body patterns that bound a subtree REGARDLESS of input size
#: (anchored at the node start — an inline mention elsewhere in a
#: node's detail text proves nothing about that node's cardinality)
_ZERO_KEY_AGG_RE = re.compile(
    r"^(?:HashAggregate\(keys=\[\]|SortAggregate\(key=\[\]"
    r"|ObjectHashAggregate\(keys=\[\])"
)
_LIMIT_RE = re.compile(
    r"^(?:GlobalLimit (\d+)|TakeOrderedAndProject\(limit=(\d+)"
    r"|CollectLimit (\d+))"
)
_RANGE_RE = re.compile(r"^Range \((\d+), (\d+)")
_MAX_BOUNDED_ROWS = 100_000  # a 100k-row broadcast build side is fine


def simple_plan(df) -> str:
    """Physical plan in 'simple' mode (tree with inline node details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


_PREFIX_RE = re.compile(r"^((?::  |:- |\+- |   )*)(.*)$")


def _parse_tree(plan: str) -> list[tuple[int, str]]:
    """[(depth, node_text)] for the plan tree; depth from the 3-char
    indentation groups Spark's TreeNode.generateTreeString emits."""
    out = []
    for line in plan.splitlines():
        if not line.strip():
            continue
        m = _PREFIX_RE.match(line)
        prefix, body = m.group(1), m.group(2)
        if not body or body.startswith("=="):
            continue
        depth = len(prefix) // 3
        body = re.sub(r"^\*\(\d+\) ", "", body)  # codegen star
        out.append((depth, body))
    return out


def _subtree(nodes: list[tuple[int, str]], i: int) -> list[str]:
    d = nodes[i][0]
    out = [nodes[i][1]]
    for j in range(i + 1, len(nodes)):
        if nodes[j][0] <= d:
            break
        out.append(nodes[j][1])
    return out


def _children(nodes: list[tuple[int, str]], i: int) -> list[int]:
    d = nodes[i][0]
    kids = []
    for j in range(i + 1, len(nodes)):
        if nodes[j][0] <= d:
            break
        if nodes[j][0] == d + 1:
            kids.append(j)
    return kids


def _bounded_node(nodes: list[tuple[int, str]], i: int) -> bool:
    """True iff the subtree rooted at ``nodes[i]`` is provably bounded.

    Structural recursion (round-8 hardening): a bounding node caps its
    OWN output regardless of input size (zero-key aggregate → 1 row,
    small literal limit/range, driver-side literal scan, scalar
    subquery → 1 row by definition); any other node is bounded only if
    ALL of its children are. The previous anywhere-in-text marker scan
    let a bounded sibling (or an inline ``Subquery`` mention in a
    filter condition) mask a data-sized branch — a gate false negative.
    ``Scan ExistingRDD`` counts as bounding here because every
    driver-built frame is row-count-probed separately
    (``existing_rdd_violations``); the probe, not discipline, is now
    the proof.
    """
    body = nodes[i][1]
    if _ZERO_KEY_AGG_RE.match(body):
        return True
    if body.startswith(("LocalTableScan", "Scan ExistingRDD")):
        return True
    if body.startswith(("Subquery", "ReusedSubquery")):
        return True  # scalar subquery: exactly one row by definition
    m = _LIMIT_RE.match(body)
    if m:
        n = int(next(g for g in m.groups() if g is not None))
        return n <= _MAX_BOUNDED_ROWS
    m = _RANGE_RE.match(body)
    if m:
        return int(m.group(2)) - int(m.group(1)) <= _MAX_BOUNDED_ROWS
    kids = _children(nodes, i)
    if not kids:
        return False  # unknown leaf (FileScan, ReusedExchange, ...)
    return all(_bounded_node(nodes, k) for k in kids)


def violations_for(name: str, plan: str) -> list[str]:
    """Scale-killer findings for one query's simple-mode plan."""
    bad: list[str] = []
    if "CartesianProduct" in plan:
        bad.append("CartesianProduct (unconditioned cross product)")
    if "BatchEvalPython" in plan:
        bad.append("BatchEvalPython (row-at-a-time Python UDF)")
    nodes = _parse_tree(plan)
    for i, (_, body) in enumerate(nodes):
        if not body.startswith("BroadcastNestedLoopJoin"):
            continue
        kids = _children(nodes, i)
        if len(kids) != 2:
            # ReusedExchange flattening etc. — judge the whole BNLJ
            # subtree (NOT nodes[i:], which would scan past the join
            # into unrelated plan sections)
            build_idx = i
        elif "BuildLeft" in body:
            build_idx = kids[0]
        else:  # BuildRight (the default)
            build_idx = kids[1]
        if build_idx != i and _bounded_node(nodes, build_idx):
            continue
        if name in ALLOWLIST:
            continue
        build = _subtree(nodes, build_idx)
        detail = next(
            (
                b
                for b in build
                if not b.startswith(("BroadcastExchange", "Project", "Filter"))
            ),
            build[0],
        )
        bad.append(
            "BroadcastNestedLoopJoin with unproven build side: "
            + detail[:120]
        )
    return bad


def _rdd_root_classes(jrdd) -> set[str]:
    """Class names of the RDD lineage's ROOT nodes (BFS over
    dependencies). The root identifies provenance: a
    ``ParallelCollectionRDD`` root means the data was parallelized
    FROM THE DRIVER (createDataFrame over local rows); a
    ``LocalCheckpointRDD`` root is a distributed executor-local
    materialization (df.localCheckpoint) and is data-sized by design.
    """
    roots: set[str] = set()
    stack = [jrdd]
    seen = set()
    while stack:
        cur = stack.pop()
        if cur.id() in seen:
            continue
        seen.add(cur.id())
        deps = cur.dependencies()
        if deps.size() == 0:
            roots.add(cur.getClass().getSimpleName())
            continue
        for i in range(deps.size()):
            stack.append(deps.apply(i).rdd())
    return roots


def existing_rdd_violations(df, bound: int = _MAX_BOUNDED_ROWS) -> list[str]:
    """Row-count probe of every DRIVER-BUILT frame in a query's plan.

    ``spark.createDataFrame(local_rows)`` plans as ``Scan ExistingRDD``
    (logical ``LogicalRDD``); the plan text carries no cardinality, so
    ``_bounded_node`` trusts it. This probe makes that trust
    mechanical: for each LogicalRDD leaf whose lineage ROOT is a
    ParallelCollectionRDD — i.e. the rows actually came from the
    driver — count it and flag any over the broadcast bound. Leaves
    rooted in a LocalCheckpointRDD are DISTRIBUTED materializations
    (executor-local, legitimate at any size — e.g. the fuzzy join's
    variant-table checkpoint, 270k rows at sf1) and are exempt: they
    never sat on the driver. Counting a driver-parallelized literal
    RDD is a trivial job (the only execution the gate performs, and
    only on plans that actually embed a driver-built frame)."""
    out: list[str] = []
    jplan = df._jdf.queryExecution().analyzed()
    leaves = jplan.collectLeaves()
    for idx in range(leaves.size()):
        leaf = leaves.apply(idx)
        if leaf.getClass().getSimpleName() != "LogicalRDD":
            continue
        roots = _rdd_root_classes(leaf.rdd())
        if not any("ParallelCollection" in r for r in roots):
            continue  # distributed provenance (localCheckpoint etc.)
        cnt = leaf.rdd().count()
        if cnt > bound:
            out.append(
                f"driver-built frame (LogicalRDD, parallelized from "
                f"the driver) has {cnt} rows > {bound} broadcast bound"
            )
    return out


def gate_registry(sf_dir: str, only=None, verbose=True):
    """(violations, n_checked, n_bnlj_allowed) across the registry."""
    import os
    import sys
    import time

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from data_pipeline_001_spark.session import get_spark

    spark = get_spark(app_name="plan_gate", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = entrymod.queries()
    violations: dict[str, list[str]] = {}
    n_bnlj_allowed = 0
    t0 = time.time()
    names = [n for n in registry if not only or n in only]
    for k, qname in enumerate(names):
        try:
            df = registry[qname](spark, sf_dir)
            plan = simple_plan(df)
        except Exception as exc:  # plan build crash is a violation too
            violations[qname] = [f"plan build failed: {exc!r:.200}"]
            continue
        bad = violations_for(qname, plan)
        if "ExistingRDD" in plan:
            bad += existing_rdd_violations(df)
        if bad:
            violations[qname] = bad
        if qname in ALLOWLIST and "BroadcastNestedLoopJoin" in plan:
            n_bnlj_allowed += 1
        if verbose and (k + 1) % 50 == 0:
            print(
                f"  ... {k + 1}/{len(names)} plans "
                f"({time.time() - t0:.0f}s)",
                flush=True,
            )
    if verbose:
        print(
            f"checked {len(names)} plans in {time.time() - t0:.0f}s; "
            f"{len(violations)} violations; "
            f"{n_bnlj_allowed} allowlisted BNLJ"
        )
        for n, bad in violations.items():
            for b in bad:
                print(f"  FAIL {n}: {b}")
    return violations, len(names), n_bnlj_allowed


if __name__ == "__main__":
    import sys

    args = sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.001"
    vio, n, _ = gate_registry(sf, only=set(args[1:]) or None)
    sys.exit(1 if vio else 0)

"""Benchmark harness: timed headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus a
larger generated point (sf1 = 10x sf0.1, built lazily under
.benchdata/) where data rather than scheduler overhead dominates.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec at base sf>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "per_query": {name: {"spark_s": s, "duckdb_s": s|null, "ratio": r|null}},
   "big": {"sf": "1(replicated)", "total_s": s, "per_query": {...}}}

ratio = spark_s / duckdb_s for the same query's DuckDB oracle on the
same parquet — the honest accounting of distributed-engine overhead
vs an in-process OLAP engine at each scale. Set SPARK_GRAFT_BIG=0 to
skip the big point.

ONE protocol everywhere (recorded in the artifact itself as
``protocol``): per query, Spark and DuckDB runs interleave
(spark, duckdb, spark, duckdb, ...), n=3 each, min reported. Spark
executes the full plan into the noop sink; DuckDB runs the query's
oracle SQL in-process over the same parquet. Sequential one-shot
sweeps on this VM disagree with best-of-N by up to ~3x (BENCH_NOTES
round-5 reconciliation), so only artifacts produced under this
protocol are comparable round-over-round.

The rungs above sf1 (LADDER: sf10, sf30, sf100) are expensive and
therefore a committed SNAPSHOT: ``SPARK_GRAFT_HUGE=1 python bench.py``
(re)measures sf10 and rewrites bench_huge.json (with the protocol and
source commit recorded); ``SPARK_GRAFT_GIANT=1`` / ``SPARK_GRAFT_
COLOSSAL=1`` measure sf30 / sf100 into its ``giant`` / ``colossal``
sections. The snapshot is attached to bench_full.json as ``huge``;
ordinary runs re-attach the existing one so the committed artifact
stays machine-diffable round-over-round.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PROTOCOL = {
    "timing": (
        "per-query interleaved best-of-3: spark,duckdb,spark,duckdb,"
        "spark,duckdb; min of each side reported"
    ),
    "spark_execution": (
        "full plan to the noop sink (scan+shuffle+agg, no driver "
        "collect); session warmed once per scale point (JVM, file "
        "listing, codegen); AQE and shuffle width sized to the point"
    ),
    "duckdb_execution": (
        "the query's oracle SQL, in-process, views over the same "
        "parquet files, fetchall()"
    ),
    "caveat": (
        "sequential one-shot sweeps on this VM disagree with "
        "best-of-N by up to ~3x (BENCH_NOTES round-5 "
        "reconciliation); numbers produced under any other protocol "
        "are not comparable with these"
    ),
}

HEADLINE = [
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
]

EXTENDED = [
    "q03_shipping_priority_bucketed",
    "q10_returned_revenue_bucketed",
    "dedup_substring_spans",
    "curation_decontaminate",
    "text_tfidf_top_term",
    "similarity_pq_topk",
    "dedup_incremental_batch",
    "time_resample_ffill",
    "text_lm_perplexity",
    "quality_constraint_report",
    "layout_zorder_events",
    # round-3 additions
    "embedding_covariance",
    "quality_drift_psi",
    "curation_dsir_weights",
    "text_ngram_novelty",
    "join_fuzzy_editdist1",
    "text_classifier_score",
    "quality_gopher_rules",
    "merge_scd1_upsert",
    # round-12 additions (VERDICT r11 task 2): the operators the
    # round-11/12 optimization work touched, so the driver's own bench
    # times them where it can see them (additions-only — the list
    # above is frozen for round-over-round comparability)
    "graph_triangle_stats",
    "text_trigram_coverage",
    "stats_theil_sen",
    "graph_pagerank_top",
    "graph_component_sizes",
    "multimodal_wav_spectrum",
    "profile_lineitem_columns",
    "text_winnowing_fingerprints",
    "text_keyword_rake",
    "er_customer_entities",
    "text_bpe_pair_stats",
    "dedup_simhash",
]

BUCKETED = [
    "q03_shipping_priority_bucketed",
    "q05_nation_revenue_bucketed",
    "q10_returned_revenue_bucketed",
    # round-11: the custkey-clustered denormalized twins — the second
    # fact layout that removes the last structural exchange; measured
    # at every ladder rung alongside the orderkey-bucketed forms
    "q03_shipping_priority_denorm",
    "q05_nation_revenue_denorm",
    "q10_returned_revenue_denorm",
]

HUGE_SEL = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_nation_revenue",
    "q10_returned_revenue",
    "join_asof_events_spine",
    "dedup_exact_fingerprint",
    "text_stats_by_lang",
    "window_topk_orders_per_customer",
    "agg_count_reconciliation",
    "json_extract_props",
]

# the sf30 point measures ONLY the four headliners whose sf10 ratio vs
# DuckDB is still >2x — the question it answers is "does the ratio
# keep falling with scale", so it needs exactly the weak set plus
# their bucketed twins
GIANT_SEL = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_nation_revenue",
    "q10_returned_revenue",
]

# the snapshot rungs above sf1: (env flag, generated point, replication
# factor of sf0.1, queries besides BUCKETED, bench_huge.json section —
# None is the file's top level). sf30 adds a third point to the
# "ratio falls with scale" trend, sf100 a fourth decade that catches
# layout pathologies invisible below it (the sf30 small-file explosion
# was invisible at sf10).
LADDER = (
    ("SPARK_GRAFT_HUGE", "sf10", 100, HUGE_SEL, None),
    ("SPARK_GRAFT_GIANT", "sf30", 300, GIANT_SEL, "giant"),
    ("SPARK_GRAFT_COLOSSAL", "sf100", 1000, GIANT_SEL, "colossal"),
)


def _shuffle_width(point_bytes: int) -> int:
    """~1 shuffle partition per 8 MB of input, FLOORED at the declared
    core count (round 12, VERDICT r11 task 2) and at 8, then clamped
    to 2048 last so no core count can push the width past the cap.
    The r11 scaling probe read ≈1 for every 8-vs-32-core ratio because
    sf0.1 sizes to 8 partitions — 8 and 32 cores then run the same
    8-wide stages and the probe cannot distinguish a serial engine
    from an overhead-bound scale point. Flooring at $SPARK_GRAFT_CPUS
    makes the wide point actually use the cores, so the low-core
    comparison measures parallelism. (Measurement change declared in
    OPTIMIZATION_r12.md with before/after headline numbers.)"""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0) or 0)
    return min(2048, max(8, cpus, point_bytes // (8 * 1024 * 1024)))


def _dir_bytes(sf_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _prepare_point(spark, sf_dir: str) -> None:
    from data_pipeline_001_spark.session import (
        load_tables,
        size_adaptive_execution,
    )

    # size AQE to the scale point (see session.size_adaptive_execution:
    # sub-GB inputs have nothing for AQE to re-plan, and its
    # per-exchange barriers cost ~22% of the sf0.1 headline)
    point_bytes = _dir_bytes(sf_dir)
    size_adaptive_execution(spark, point_bytes)
    # shuffle width is a RUNTIME conf — re-size it per scale point
    # (~1 partition / 8 MB, clamped): the session was built for the
    # base sf, and carrying its 8-partition width to the 100× point
    # under-parallelizes every shuffle 4× on 32 cores
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_shuffle_width(point_bytes))
    )
    # warm the JVM + file listing + codegen pipeline once so per-query
    # times measure the plans, not session startup
    tables = load_tables(spark, sf_dir)
    tables["lineitem"].groupBy("l_returnflag").count().write.mode(
        "overwrite"
    ).format("noop").save()


def _duck_con(sf_dir: str):
    """In-process DuckDB with one view per table parquet in sf_dir —
    the oracle side of the bench and of tools/check_oracle.py."""
    import duckdb

    from data_pipeline_001_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _interleaved_point(
    spark, con, qs, oracles, sf_dir: str, names, n: int = 3
) -> tuple[dict[str, float], dict[str, float]]:
    """The ONE timing protocol (see PROTOCOL): per query, alternate
    spark run / duckdb run n times; min per side."""
    spark_t: dict[str, float] = {}
    duck_t: dict[str, float] = {}
    for name in names:
        sql = oracles.get(name) if con is not None else None
        sbest, dbest = float("inf"), float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            sbest = min(sbest, time.perf_counter() - t0)
            if sql:
                t0 = time.perf_counter()
                con.sql(sql).fetchall()
                dbest = min(dbest, time.perf_counter() - t0)
        spark_t[name] = round(sbest, 3)
        if sql:
            duck_t[name] = round(dbest, 3)
    return spark_t, duck_t


def _per_query(spark_t: dict[str, float], duck_t: dict[str, float]) -> dict:
    return {
        name: {
            "spark_s": spark_t[name],
            "duckdb_s": duck_t.get(name),
            "ratio": (
                round(spark_t[name] / duck_t[name], 2)
                if duck_t.get(name)
                else None
            ),
        }
        for name in spark_t
    }


def _ensure_generated(repo_root: str, name: str, factor: int) -> str | None:
    gen_dir = os.path.join(repo_root, ".benchdata", name)
    if not os.path.exists(os.path.join(gen_dir, "lineitem.parquet")):
        try:
            sys.path.insert(0, os.path.join(repo_root, "tools"))
            from make_benchdata import generate

            generate("/root/testdata/sf0.1", gen_dir, factor)
        except Exception as exc:  # noqa: BLE001 — bench must still emit its line
            print(f"{name} generation failed: {exc}", file=sys.stderr)
            return None
    return gen_dir


def _git_commit(repo_root: str) -> str | None:
    try:
        return (
            subprocess.run(
                ["git", "-C", repo_root, "rev-parse", "--short", "HEAD"],
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:  # noqa: BLE001
        return None


def _rung(spark, qs, oracles, repo_root: str, name: str, factor: int, names):
    """Generate (once) and measure one scale-ladder rung: ``names``
    plus the BUCKETED twins under the one protocol. None when the
    point cannot be generated."""
    gen_dir = _ensure_generated(repo_root, name, factor)
    if not gen_dir:
        return None
    _prepare_point(spark, gen_dir)
    con = _duck_con(gen_dir)
    t, duck = _interleaved_point(spark, con, qs, oracles, gen_dir, names)
    bkt_t, bkt_duck = _interleaved_point(spark, con, qs, oracles, gen_dir, BUCKETED)
    con.close()
    return {
        "sf": f"{name[2:]}({factor}x-replicated-sf0.1)",
        "measured_at_commit": _git_commit(repo_root),
        "protocol": PROTOCOL,
        "total_s": round(sum(t.values()), 3),
        "per_query": _per_query(t, duck),
        "bucketed": _per_query(bkt_t, bkt_duck),
    }


def main() -> None:
    repo_root = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from data_pipeline_001_spark.session import get_spark

    # size shuffle parallelism to the data (see _shuffle_width): ~1
    # partition per 8 MB, clamped, floored at the declared core count;
    # at 100 TB the same rule gives thousands and AQE coalesces the
    # excess at runtime.
    shuffle = _shuffle_width(_dir_bytes(sf_dir))
    spark = get_spark(app_name="bench", shuffle_partitions=int(shuffle))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    _prepare_point(spark, sf_dir)
    con = _duck_con(sf_dir)
    timings, duck = _interleaved_point(spark, con, qs, oracles, sf_dir, HEADLINE)
    total = sum(timings.values())

    result = {
        "metric": "headline_queries_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "protocol": PROTOCOL,
        "per_query": _per_query(timings, duck),
    }

    # extended §2.13 operators (round-2 additions) at the base point —
    # separate from the headline list so the round-over-round total
    # stays comparable
    ext_t, ext_duck = _interleaved_point(spark, con, qs, oracles, sf_dir, EXTENDED)
    result["extended"] = _per_query(ext_t, ext_duck)
    con.close()

    if os.environ.get("SPARK_GRAFT_BIG", "1") != "0":
        big = _rung(spark, qs, oracles, repo_root, "sf1", 10, HEADLINE)
        if big:
            result["big"] = {
                k: big[k] for k in ("sf", "total_s", "per_query", "bucketed")
            }

    # sf10 and up are expensive, so they are committed SNAPSHOTS in
    # bench_huge.json: ``huge`` is the file's top level, ``giant`` and
    # ``colossal`` are sections merged into it. Each env flag =1
    # re-measures its rung; otherwise the existing snapshot is
    # re-attached so bench_full.json stays machine-diffable
    # round-over-round.
    huge_path = os.path.join(repo_root, "bench_huge.json")
    if os.environ.get("SPARK_GRAFT_HUGE", "0") != "1" and os.path.exists(
        huge_path
    ):
        try:
            with open(huge_path) as fh:
                result["huge"] = json.load(fh)
        except (OSError, ValueError) as exc:
            print(f"bench_huge.json unreadable: {exc}", file=sys.stderr)
    for env, name, factor, names, section in LADDER:
        if os.environ.get(env, "0") != "1":
            continue
        if section and not result.get("huge"):
            # fail FAST: a section merges into bench_huge.json, so
            # generating + measuring for hours before discovering
            # there is nothing to merge into is wasted work
            print(
                f"bench_huge.json missing/unreadable — {section} section "
                "would have nowhere to merge (run SPARK_GRAFT_HUGE=1 "
                f"first); skipping {section} measurement",
                file=sys.stderr,
            )
            continue
        snapshot = _rung(spark, qs, oracles, repo_root, name, factor, names)
        if not snapshot:
            continue
        if section:
            result["huge"][section] = snapshot
        else:
            result["huge"] = snapshot
        with open(huge_path, "w") as fh:
            json.dump(result["huge"], fh, indent=1)

    # Full rich result goes to a sidecar (the driver captures only a
    # ~2000-char stdout tail, so a fat JSON line gets truncated and
    # parses as null — round-3 lesson). Stdout gets ONE compact line.
    with open(os.path.join(repo_root, "bench_full.json"), "w") as fh:
        json.dump(result, fh, indent=1)

    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": result["sf"],
        "queries": timings,
    }
    if "big" in result:
        compact["big_total_s"] = result["big"]["total_s"]
    if "huge" in result:
        compact["huge_total_s"] = result["huge"]["total_s"]
    # round-11: the headline artifact carries its OWN same-session
    # DuckDB reference. Two rounds running, the driver's snapshot and
    # same-day HEAD refreshes disagreed by 10%+ from VM day-state
    # alone; interleaved DuckDB totals move WITH the VM, so the
    # ratio line stays comparable across days even when absolute
    # seconds are not.
    if duck:
        compact["duckdb_total_s"] = round(sum(duck.values()), 3)
        compact["ratios"] = {
            n: p["ratio"]
            for n, p in result["per_query"].items()
            if p["ratio"]
        }
    ratios = [
        p["ratio"] for p in result["per_query"].values() if p["ratio"]
    ]
    if ratios:
        compact["median_ratio_vs_duckdb"] = round(
            sorted(ratios)[len(ratios) // 2], 2
        )
    line = json.dumps(compact, separators=(",", ":"))
    # driver captures a bounded stdout tail: shed detail, never totals
    for drop in ("ratios", "queries"):
        if len(line) > 1900:
            compact.pop(drop, None)
            line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()

"""Run every registered query at a given SF dir and time it.

Usage: python tools/sweep_sf1.py [sf_dir] [out_json] [--tail-isolated]
       python tools/sweep_sf1.py [sf_dir] [out_json] --only=a,b,c

Finds scale-pathological plans: any query whose runtime at sf1
(~10x sf0.1) is an outlier relative to the pack is a candidate for a
plan fix.  Prints a sorted table and writes JSON.

``--tail-isolated`` (round-7, verdict task 5): after the sweep, the
slowest 5 queries are RE-MEASURED one-by-one in a fresh subprocess
JVM with nothing else running in this process. Round 6 measured
graph_triangle_stats at 81 s isolated vs 212 s inside the full sweep
(background lanes + sweep-internal cache pressure) — variance that
wide makes a 2x plan regression in a 100 s query invisible. The
isolated numbers are the citable ones; both are recorded
(``times`` = in-sweep, ``tail_isolated`` = authoritative).

``--only=a,b,c`` is the internal re-measure mode: run exactly those
queries against sf_dir, write {"times": {...}} to out_json, skip
resume/twins/tail logic.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as mod
from data_pipeline_001_spark.session import get_spark, load_tables


def _warm_up(spark, sf_dir: str) -> None:
    """Absorb session-init + one-time table-registration cost BEFORE
    the first timed query. Round-9 fixed exactly this attribution bug
    in the plan gate (load_tables' parquet footer reads ran inside the
    first query's job group) but not here: the r09 sweep recorded
    q01_pricing_summary at 6.93 s vs 1.10 s in r08 — a 6.3x phantom
    regression that would mask a real one.

    Round-10 addition, same bug class: the FIRST Arrow/Pandas-UDF
    query in a JVM pays the Python worker-pool spawn + Arrow codepath
    init — measured 13.1 s first-run vs 2.0 s steady-state on
    dedup_minhash_lsh at sf1, which made isolated fresh-JVM
    re-measures of Arrow-heavy queries meaningless. One trivial
    32-partition Arrow job pre-spawns the pool so timed queries
    measure plans, not interpreter startup. (r10's committed sweep
    predates this — expect the first Arrow-heavy entry in sweep order
    to show a one-off improvement in r11.)"""
    load_tables(spark, sf_dir)
    spark.range(1).count()  # scheduler/codegen first-job cost

    def _touch(batches):
        for pdf in batches:
            yield pdf

    spark.range(0, 32, 1, 32).mapInPandas(_touch, "id long").count()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    tail_isolated = "--tail-isolated" in flags
    only: list[str] | None = None
    for f in flags:
        if f.startswith("--only="):
            only = f.split("=", 1)[1].split(",")
    sf_dir = args[0] if args else os.path.join(REPO, ".benchdata", "sf1")
    out = args[1] if len(args) > 1 else "/tmp/sweep_sf1.json"
    if only is not None:
        _run_only(sf_dir, out, only)
        return
    spark = get_spark(app_name="sweep", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark, sf_dir)
    qs = mod.queries()
    # the exact oracle twins are deliberately quadratic (documented
    # small-sf baselines); at the replicated sf1 each would dominate
    # the sweep. Their scale paths (dedup_embedding_lsh,
    # dedup_cluster_components_lsh, dedup_minhash_lsh) ARE swept.
    skip = {
        "dedup_embedding_cosine",
        "dedup_cluster_components",
        "ngram_jaccard_pairs",
        # within-lang pairwise gram jaccard — the oracle-expressible
        # quadratic twin of dedup_cluster_components_lsh (which IS swept)
        "dedup_cluster_canonical",
    }
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    # resume: skip anything already recorded in a previous partial run
    try:
        with open(out) as f:
            prev = json.load(f)
        times.update(prev.get("times", {}))
        skip |= set(times)
        print(f"resuming past {len(times)} recorded queries", flush=True)
    except (OSError, ValueError):
        pass
    for name, fn in qs.items():
        if name in skip:
            if name not in times:
                print(f"    skip  {name} (quadratic oracle twin)", flush=True)
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            n = df.count()
            times[name] = round(time.time() - t0, 2)
            print(f"{times[name]:8.2f}s  {n:>9} rows  {name}", flush=True)
        except Exception as e:  # noqa: BLE001 — sweep must survive one bad query
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            print(f"   ERROR  {name}: {errors[name][:120]}", flush=True)
        with open(out, "w") as f:
            json.dump({"times": times, "errors": errors}, f, indent=1, sort_keys=True)
    # quadratic oracle twins at a BOUNDED slice (2k docs/vectors): the
    # full sf1 corpus would make them dominate the sweep, but skipping
    # them entirely would let a regression in the twins themselves
    # hide. O(2k²) is milliseconds, so correctness coverage is free.
    bounded = _run_bounded_twins(spark, qs, sf_dir, skip, errors)
    times.update(bounded)
    ranked = sorted(times.items(), key=lambda kv: -kv[1])
    print("\n=== slowest 15 (in-sweep) ===")
    for name, t in ranked[:15]:
        print(f"{t:8.2f}s  {name}")
    payload = {"times": times, "errors": errors}
    if tail_isolated:
        tail = [n for n, _ in ranked if "@" not in n][:5]
        payload["tail_isolated"] = _remeasure_isolated(sf_dir, tail)
        print("\n=== slowest 5, isolated fresh-JVM re-measure "
              "(authoritative) ===")
        for n in tail:
            iso = payload["tail_isolated"].get(n)
            insw = times.get(n)
            if iso is not None:
                print(f"{iso:8.2f}s  {n}  (in-sweep {insw:.2f}s)")
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"\nwrote {out}; total {sum(times.values()):.1f}s over {len(times)} queries; {len(errors)} errors")


def _remeasure_isolated(sf_dir: str, names: list[str]) -> dict[str, float]:
    """Re-run each tail query in its OWN fresh subprocess JVM (one
    ``--only=<name>`` subprocess per query, round-8 fix) —
    distinguishes a real plan regression from VM noise (round 6: 81 s
    isolated vs 212 s in-sweep on identical code). A single shared
    re-measure JVM would let earlier queries' cache/GC pressure bleed
    into later ones, which is exactly what 'isolated' must exclude."""
    import os
    import subprocess

    iso_out = "/tmp/sweep_tail_isolated.json"
    merged: dict[str, float] = {}
    for name in names:
        try:
            os.remove(iso_out)
        except OSError:
            pass
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                sf_dir,
                iso_out,
                f"--only={name}",
            ],
            timeout=3600,
        )
        if proc.returncode != 0:
            print(
                f"isolated re-measure of {name} exited {proc.returncode}",
                flush=True,
            )
        try:
            with open(iso_out) as f:
                merged.update(json.load(f).get("times", {}))
        except (OSError, ValueError):
            pass
    return merged


def _run_only(sf_dir: str, out: str, names: list[str]) -> None:
    """--only= mode: fresh session, exactly these queries, no resume."""
    spark = get_spark(app_name="sweep_tail", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark, sf_dir)
    qs = mod.queries()
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        if name not in qs:
            errors[name] = "not registered"
            continue
        t0 = time.time()
        try:
            n = qs[name](spark, sf_dir).count()
            times[name] = round(time.time() - t0, 2)
            print(f"{times[name]:8.2f}s  {n:>9} rows  {name}", flush=True)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            print(f"   ERROR  {name}: {errors[name][:120]}", flush=True)
    with open(out, "w") as f:
        json.dump({"times": times, "errors": errors}, f, indent=1, sort_keys=True)


#: the documented-quadratic exact twins plus the brute-force ANN
#: baseline — each runs against the 2k-row slice below
BOUNDED_TWINS = (
    "dedup_embedding_cosine",
    "dedup_cluster_components",
    "ngram_jaccard_pairs",
    "dedup_cluster_canonical",
    "similarity_bruteforce_topk",
)

SLICE_ROWS = 2000


def _build_slice(sf_dir: str) -> str:
    """Materialize a deterministic 2k-row slice of the text/vector
    tables (the only inputs the twins read)."""
    import os

    import duckdb

    # slice dir is keyed on the SOURCE dir name so two scale points
    # never share a slice; a slice older than its source regenerates
    base = os.path.basename(sf_dir.rstrip("/"))
    slice_dir = os.path.join(
        os.path.dirname(sf_dir.rstrip("/")), f"slice2k_{base}"
    )
    os.makedirs(slice_dir, exist_ok=True)
    con = duckdb.connect()
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        src = os.path.join(sf_dir, f"{table}.parquet")
        dst = os.path.join(slice_dir, f"{table}.parquet")
        stale = os.path.exists(dst) and (
            os.path.getmtime(dst) < os.path.getmtime(src)
        )
        if not os.path.exists(dst) or stale:
            con.sql(
                f"COPY (SELECT * FROM '{src}' "
                f"ORDER BY {key} LIMIT {SLICE_ROWS}) TO '{dst}' (FORMAT PARQUET)"
            )
    con.close()
    return slice_dir


def _run_bounded_twins(spark, qs, sf_dir, skip, errors) -> dict[str, float]:
    slice_dir = _build_slice(sf_dir)
    out: dict[str, float] = {}
    print(f"\n=== quadratic twins @ {SLICE_ROWS}-row slice ===")
    for name in BOUNDED_TWINS:
        if name not in qs:
            continue
        t0 = time.time()
        try:
            n = qs[name](spark, slice_dir).count()
            out[f"{name}@2k"] = round(time.time() - t0, 2)
            print(f"{out[f'{name}@2k']:8.2f}s  {n:>9} rows  {name}@2k", flush=True)
        except Exception as e:  # noqa: BLE001 — sweep must survive one bad query
            errors[f"{name}@2k"] = f"{type(e).__name__}: {e}"[:200]
            print(f"   ERROR  {name}@2k: {errors[f'{name}@2k'][:120]}", flush=True)
    return out


if __name__ == "__main__":
    main()

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload window_loop --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (see perfbench/NOTES.md):
``window_loop`` and ``query_mix``, the pair listed in BENCHMARK.json, and
``batch_backfill``, which runs the same way but is not listed because it
reproduces a known defect and so always reports failures.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
unit of work plain, traced and plain again and prints the per-layer
metrics. Human-readable lines come first; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. Inputs are generated on first use under
``perfbench/.data``; run state lives under ``perfbench/.work`` and is
removed at exit.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: a tail percentile must leave at least this many samples beyond it,
#: and must lie at or above this percentile to be called a tail
TAIL_BEYOND = 10
TAIL_MIN_PCT = 75.0


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, sample count) of the highest percentile with
    at least TAIL_BEYOND samples beyond it, or None when the samples
    cannot support a tail."""
    n = len(samples)
    idx = n - TAIL_BEYOND - 1
    pct = 100.0 * (idx + 1) / n if n else 0.0
    if idx < 0 or pct < TAIL_MIN_PCT:
        return None
    return sorted(samples)[idx], pct, n


def end_to_end(wl, res, setup: dict) -> dict:
    times = [o.seconds for o in res.ops]
    failed = sum(not o.ok for o in res.ops)
    metrics = {
        "setup_s": {"value": setup["setup_s"], "unit": "s"},
        "throughput_per_s": {"value": len(res.ops) / res.pass_s["plain"], "unit": "1/s"},
        "latency_p50_s": {"value": statistics.median(times), "unit": "s"},
    }
    for name, m in metrics.items():
        print(f"  {name:<18} {m['value']:.6g} {m['unit']}")
    t = tail(times)
    if t is None:
        print(f"  {'latency_tail_s':<18} omitted: {len(times)} samples cannot support a tail")
    else:
        print(f"  {'latency_tail_s':<18} {t[0]:.6g} s (p{t[1]:.4g} of {t[2]} samples)")
    print(f"  {'failed_share':<18} {failed / len(times):.6g} ({failed}/{len(times)} ops)")
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import data_pipeline_001_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench import datagen
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # everything the run writes stays inside the checkout
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts, spark-submit's launcher included, keeps its
    # temporary files here and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    spark = None
    try:
        cls = WORKLOADS[args.workload]
        t = time.perf_counter()
        sf_dir = datagen.ensure(os.path.join(HERE, ".data"), cls.sf)
        gen_s = time.perf_counter() - t
        wl = cls(sf_dir, work, args.seed, args.seconds, bool(args.trace))

        from data_pipeline_001_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{wl.name}",
            extra_conf={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
            **wl.session_kwargs(),
        )
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t

        res, setup = wl.measure(spark, T_PROCESS, gen_s)
        failed = sum(not o.ok for o in res.ops)
        print(
            f"{wl.name} seed={args.seed} trace={args.trace}: {wl.n_units} unit(s), "
            f"{len(res.ops)} ops (one op = one {wl.op_kind}), {failed} failed"
        )
        for o in res.ops:
            print(f"  {o.name:<40} {o.seconds:8.4f} s  {'ok' if o.ok else 'FAILED'}")
        if args.trace:
            layer = {**res.layer, "session.get_spark_s": get_spark_s,
                     "session.warmup_s": setup["session.warmup_s"]}
            metrics = {k: {"value": layer[k], "unit": u} for k, u in wl.layer_units.items()}
            for k, m in metrics.items():
                print(f"  {k:<48} {m['value']:.6g} {m['unit']}")
        else:
            metrics = end_to_end(wl, res, setup)
        out = {"correct": failed == 0, "attempted": len(res.ops), "failed": failed,
               "metrics": metrics}
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


def stop(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    raise SystemExit(main())

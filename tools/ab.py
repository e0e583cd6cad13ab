"""A/B two query variants on one scale point: identity first, then
interleaved best-of-N.

Usage: python tools/ab.py SF_DIR A B [N]

A and B are each a registry name (``__spark_entry__.queries()``) or a
``module:function`` with the registry signature
``(spark, sf_dir) -> DataFrame``. N defaults to 3.

1. The session is sized and warmed for SF_DIR as bench.py does it
   (``bench._prepare_point``).
2. Both outputs are digested IN SPARK — row count plus the sum of
   ``xxhash64`` over each row, columns taken in name order, no rows
   collected. Differing digests exit 1 before anything is timed.
3. N rounds run each side into the noop sink, alternating which side
   goes first so JVM/cache drift does not favour one of them.

Prints one JSON line: both digests, every sample and the min per side.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def resolve(spec: str, registry: dict):
    """A registry name, or ``module:function``."""
    if ":" in spec:
        module, fn = spec.split(":", 1)
        return getattr(importlib.import_module(module), fn)
    return registry[spec]


def digest(df) -> tuple[int, int]:
    """(rows, sum of per-row xxhash64) — order-insensitive and
    computed where the data is. The sum runs in decimal so it cannot
    overflow under ANSI arithmetic."""
    from pyspark.sql import functions as F

    row = df.select(
        F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)").alias("h")
    ).agg(F.count("*").alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


def _run_noop(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 3)


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) not in (3, 4):
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, a, b = args[:3]
    n = int(args[3]) if len(args) == 4 else 3
    if n < 1:
        print("N must be at least 1", file=sys.stderr)
        return 2

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from bench import _dir_bytes, _prepare_point, _shuffle_width

    from data_pipeline_001_spark.session import get_spark

    spark = get_spark(
        app_name="ab", shuffle_partitions=_shuffle_width(_dir_bytes(sf_dir))
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = entrymod.queries()
    fns = {"a": resolve(a, registry), "b": resolve(b, registry)}
    _prepare_point(spark, sf_dir)

    digests = {side: digest(fn(spark, sf_dir)) for side, fn in fns.items()}
    if digests["a"] != digests["b"]:
        print(
            f"outputs differ: {a} -> {digests['a']}, {b} -> {digests['b']}",
            file=sys.stderr,
        )
        return 1

    samples: dict[str, list[float]] = {"a": [], "b": []}
    for i in range(n):
        for side in ("a", "b") if i % 2 == 0 else ("b", "a"):
            samples[side].append(_run_noop(fns[side], spark, sf_dir))
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "a": a,
                "b": b,
                "n": n,
                "digest": {side: list(d) for side, d in digests.items()},
                "samples": samples,
                "min": {side: min(s) for side, s in samples.items()},
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

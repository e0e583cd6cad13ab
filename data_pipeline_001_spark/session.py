"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the conf below is chosen so the
same logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion from runtime stats).
- ``spark.sql.shuffle.partitions`` sized for the local core count;
  on a real cluster AQE coalesces, so a high static value is safe.
- Arrow enabled for the Pandas-UDF paths (dedup/similarity/multimodal).
- Session timezone pinned to UTC so window math matches the DuckDB
  oracle and is DST-free unless a pipeline config overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: below this input size adaptive execution is pure overhead: AQE's
#: per-exchange stat-collection barriers cost a measured 22% of the
#: sf0.1 headline with nothing to re-plan (no skew, no oversized
#: partitions). Above it, skew splits and partition coalescing pay.
AQE_MIN_INPUT_BYTES = 1 << 30

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def size_adaptive_execution(spark: SparkSession, input_bytes: int) -> None:
    """Set AQE to fit the workload's input size — the same
    data-sizing rule the factory applies to shuffle partitions,
    exposed as a runtime knob because ``spark.sql.adaptive.enabled``
    is a per-query SQLConf. Engines embedding this library call it
    once per job with the planned scan size; the bench harness calls
    it per scale point."""
    spark.conf.set(
        "spark.sql.adaptive.enabled",
        "true" if input_bytes > AQE_MIN_INPUT_BYTES else "false",
    )


def get_spark(
    app_name: str = "data_pipeline_001_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 24 MB, not higher: the threshold compares COMPRESSED scan
        # estimates, which understate row counts badly for narrow
        # long-typed projections — a 37 MB-estimated 2-column slice of
        # orders at the sf10 point is 15M rows, and building/shipping
        # that hash relation measured 7 s (q10: 11.3 s → 3.7 s after
        # the demotion to a shuffle join). Genuine dimensions
        # (region/nation/customer/part slices) stay well under 24 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(24 * 1024 * 1024))
        # Prefer shuffled-HASH join over sort-merge WHERE STATS PROVE
        # the build side fits per-partition memory (Catalyst's
        # canBuildLocalHashMap: size < threshold x shuffle partitions,
        # AND 3x smaller than the probe side — otherwise it still
        # picks SMJ, so the fallback is stats-driven, not hoped-for).
        # Round-8 q05 sf30 decomposition: the fact-side exchange is
        # the irreducible cost (9.9 s of 17 s), but SMJ then SORTS
        # 180M exchanged rows; hashing the 20x-smaller build side
        # instead measured -20% interleaved (17.0 -> 13.7 s) with the
        # other headliners flat (+-4%). At 100 TB the same stats gate
        # demotes to SMJ when the build side outgrows
        # threshold x partitions — exactly the honest behavior.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the plan gate attributes construction-time driver jobs to
        # per-query job groups via statusTracker; the app status store
        # retains only `retainedJobs` entries (default 1000), and a
        # full-registry gate pass can run more than that — an evicted
        # job would let an undocumented driver-job builder pass the
        # mechanical DRIVER_JOB_BUILDERS membership check. Job infos
        # are tiny; retain enough for the whole gate.
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as long and convert in
        # load_tables (µs truncation matches DuckDB's read of the file)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python workers unpickle UDFs that reference this package; put
        # its parent directory on their path so they import it from any
        # working directory, not only from the repository root
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_TABLE_CACHE: dict[tuple[int, str], dict] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load every testdata parquet table from ``sf_dir``.

    Returns name → DataFrame and registers each as a temp view so the
    same queries run via the DataFrame API or ``spark.sql``. The
    DataFrames (lazy plans) are memoized per (session, dir) so
    repeated queries skip the footer/schema reads.
    """
    key = (id(spark), sf_dir)
    if key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # the caller may hand us a session built without our factory (the
    # correctness driver does); these are runtime SQLConfs, so pin them
    # here — events.parquet stores TIMESTAMP(NANOS), and NTZ inference
    # must be off so every table reads with one timestamp type
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # nanos-as-long columns (events.ts) → microsecond timestamps,
            # matching DuckDB's truncating read of TIMESTAMP(NANOS)
            if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
                # integer division — double division loses precision on
                # 19-digit nanosecond epochs (53-bit mantissa)
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            df.createOrReplaceTempView(name)
            out[name] = df
    _TABLE_CACHE[key] = out
    return out

"""Bucketed co-located variants of the TPC-H headliners (SURVEY §2.3).

The round-2 plan audit found q03's residual cost is the
high-cardinality orderkey shuffle: lineitem⋈orders must co-locate on
(l_orderkey = o_orderkey) and the subsequent groupBy(o_orderkey, …)
re-uses the same clustering. Bucketing both fact tables by orderkey
into the same bucket count removes BOTH exchanges — the scan itself
delivers the required distribution, which is exactly how a 100 TB
deployment would lay these tables out (bucketed/sorted storage means
every repeated fact-fact join and per-order rollup is shuffle-free
forever, not once).

These variants read bucketed *saved tables* materialized lazily from
the same parquet (one-time cost per scale point, amortized across
every subsequent query). Correctness: each variant registers the SAME
DuckDB oracle as its plain twin — same rows, different physical plan —
so the driver hash-checks that bucketing changed nothing but the
shuffle count. A plan test asserts no ``Exchange hashpartitioning``
survives in either variant.

Reference analog: the reference's Snowflake tables are clustered on
the drive keys (data_pipeline_001 main_pipeline_orchestrator.py's
drive-table DDL); bucketing is the Spark-native equivalent.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_pipeline_001_spark.plans.queries import _rev, query
from data_pipeline_001_spark.session import load_tables

def _suffix(sf_dir: str) -> str:
    """Deterministic per-sf_dir table-name suffix. abspath first
    (round-11): a RELATIVE invocation (`.benchdata/sf100`) must map to
    the same layout as the absolute one — without normalization it
    silently rebuilt ~17 GB of duplicate layouts under a second name
    and filled the disk."""
    return re.sub(
        r"[^0-9a-z]+", "_", os.path.abspath(sf_dir).strip("/").lower()
    )


def _auto_buckets(sf_dir: str) -> int:
    """Bucket count scaled to the fact data: one bucket ≈ 32 MB of
    lineitem parquet, clamped to [16, 4096] and rounded up to a power
    of two. A fixed small count caps scan/join parallelism at larger
    scale points (16 buckets = 16 tasks regardless of cores); the same
    rule at 100 TB gives 4096 — the ceiling a deployment would raise."""
    path = os.path.join(sf_dir, "lineitem.parquet")
    if os.path.isdir(path):
        # getsize on a directory returns the inode size, not the data —
        # walk it (Spark-written datasets are directories of part files)
        nbytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path)
            for f in fs
        )
    else:
        nbytes = os.path.getsize(path)  # raises for a missing table — loud
    want = max(16, nbytes // (32 * 1024 * 1024))
    return min(4096, 1 << (int(want) - 1).bit_length())


#: sidecar recording the SOURCE parquet's identity at materialization
#: time; reuse requires exact equality (round-10 advice: mtime
#: ORDERING alone misses a source regenerated/restored with preserved
#: timestamps — rsync -a, cp -p, snapshot restore)
_SIG_NAME = "_SRC_SIGNATURE.json"


def _src_signature(src_path: str) -> list[list]:
    """Identity of the source parquet: per file (relpath, size,
    crc32 of the first+last 64 KiB). Size alone can survive a
    timestamp-preserving restore of DIFFERENT data; parquet bytes
    (footer stats, dictionary pages) essentially never do, so the
    128 KiB head/tail fingerprint closes that hole without hashing
    multi-GB files. Deliberately NO mtime field (round-11 advice):
    mtime is not content identity, and embedding it forced a full
    rebucket on metadata-only changes (a ``touch`` that keeps the
    source older than _SUCCESS); staleness ORDERING is a separate
    check in ``_bucket_files_complete``."""
    import zlib

    files = []
    if os.path.isdir(src_path):
        for r, _d, fs in os.walk(src_path):
            for f in fs:
                files.append(os.path.join(r, f))
    elif os.path.exists(src_path):
        files.append(src_path)
    sig = []
    for p in sorted(files):
        st = os.stat(p)
        with open(p, "rb") as fh:
            crc = zlib.crc32(fh.read(65536))
            if st.st_size > 65536:
                fh.seek(max(0, st.st_size - 65536))
                crc = zlib.crc32(fh.read(65536), crc)
        sig.append([os.path.relpath(p, src_path), st.st_size, crc])
    return sig


def _sig_matches(recorded, current) -> bool:
    """Lenient signature equality: compare (relpath, size, crc) only.
    Round-10 sidecars carried a 4th mtime_ns field; normalizing both
    sides to the 3 content fields keeps those layouts valid without a
    spurious multi-GB rebucket (crc is always the LAST element in
    both formats)."""
    def norm(sig):
        return [[e[0], e[1], e[-1]] for e in sig]

    try:
        return norm(recorded) == norm(current)
    except (TypeError, IndexError):
        return False


def _srcs_signature(src_paths) -> list[list]:
    """Signature over one or several source tables. A single path keeps
    the round-10 sidecar key format (relpath within the source) so
    existing layouts stay valid; multiple paths (the denormalized
    layout derives from lineitem AND orders) prefix each entry with
    the source's basename so same-named part files cannot collide."""
    if isinstance(src_paths, str):
        return _src_signature(src_paths)
    sig = []
    for src in src_paths:
        base = os.path.basename(src.rstrip("/"))
        for e in _src_signature(src):
            sig.append([base + "/" + e[0]] + e[1:])
    return sig


def _bucket_files_complete(path: str, buckets: int, src_path: str) -> bool:
    """True iff ``path`` holds a complete one-file-per-bucket layout
    from a prior session's ``saveAsTable`` — the _SUCCESS marker plus
    EXACTLY one part file per bucket id, covering ids 0..buckets-1
    with no duplicates and no stray higher-numbered suffixes (bucketed
    file names carry the ``_NNNNN`` bucket suffix:
    ``part-...._00042....parquet``) — AND the layout derives from the
    CURRENT source parquet. Freshness is two checks, BOTH required:
    mtime ordering (_SUCCESS newer than every source file — catches
    in-place regeneration) and content equality of the recorded
    ``_SRC_SIGNATURE.json`` sidecar against the live source (catches
    a timestamp-preserving restore mtime ordering cannot see). A
    layout with NO sidecar is rejected outright (round-11 advice: the
    old grandfather path recorded the signature at first
    post-upgrade registration, not at materialization — a
    timestamp-preserving restore in that window would have been
    permanently legitimized; rebuilding once is the safe close). The
    duplicate-id check matters because a multi-file-per-bucket layout
    (the pre-round-8 write pathology) would pass a distinct-id count
    yet reinstate the 3-7x small-file scan penalty AND break the
    one-file-per-bucket assumption the SORTED BY DDL relies on."""
    success = os.path.join(path, "_SUCCESS")
    if not os.path.isdir(path) or not os.path.exists(success):
        return False
    srcs = [src_path] if isinstance(src_path, str) else list(src_path)
    src_mtime = 0.0
    for src in srcs:
        if os.path.isdir(src):
            for r, _d, fs in os.walk(src):
                for f in fs:
                    src_mtime = max(
                        src_mtime, os.path.getmtime(os.path.join(r, f))
                    )
        elif os.path.exists(src):
            src_mtime = max(src_mtime, os.path.getmtime(src))
    if os.path.getmtime(success) <= src_mtime:
        return False
    sig_path = os.path.join(path, _SIG_NAME)
    try:
        with open(sig_path) as fh:
            recorded = json.load(fh)
    except (OSError, ValueError):
        return False  # absent/corrupt sidecar: rebuild, never grandfather
    if not _sig_matches(recorded, _srcs_signature(src_path)):
        return False
    ids = []
    for f in os.listdir(path):
        m = re.match(r"part-\d+-.*_(\d{5})(?:\.|-)", f)
        if m:
            ids.append(int(m.group(1)))
    return len(ids) == len(set(ids)) and set(ids) == set(range(buckets))


def ensure_bucketed(
    spark: SparkSession, sf_dir: str, buckets: int | None = None
) -> dict[str, str]:
    """Materialize orders/lineitem bucketed+sorted by orderkey.

    Idempotent per session via the catalog; across sessions the FILES
    persist but the in-memory catalog forgets the metadata that makes
    shuffle elision apply. Round-9: instead of rewriting the data
    (~17 GB at sf100, the dominant cost of every fresh-session
    bucketed run), a complete prior layout is RE-REGISTERED with
    bucketed-table DDL (``CREATE TABLE ... USING parquet CLUSTERED BY
    ... INTO n BUCKETS LOCATION ...``) — the same one-time metastore
    registration a real deployment does. The bucket count is
    deterministic per sf_dir (``_auto_buckets``), and the layout is
    validated file-by-file (one part file per bucket id + _SUCCESS)
    before trusting it; anything incomplete is rebuilt from source.
    """
    buckets = buckets or _auto_buckets(sf_dir)
    sfx = _suffix(sf_dir)
    names = {
        "orders": f"orders_bkt_{sfx}",
        "lineitem": f"lineitem_bkt_{sfx}",
        "customer": f"customer_bkt_{sfx}",
    }
    t = load_tables(spark, sf_dir)
    # round-10: customer joins the bucketed layout on c_custkey. The
    # sf100 decomposition showed the ONLY superlinear bucketed stage is
    # the post-broadcast-ceiling customer join (customer crosses the
    # 24 MB gate at sf100 → AQE demotes to a partitioned join that
    # exchanges AND sorts the whole dimension). Bucketing customer at
    # the same bucket count makes the dimension side of every custkey
    # join scan-local (no exchange, no sort — SORTED BY feeds the SMJ
    # directly); only the fact side's custkey exchange remains, which
    # is the documented irreducible re-clustering.
    specs = {
        "orders": "o_orderkey",
        "lineitem": "l_orderkey",
        "customer": "c_custkey",
    }
    for tbl, key in specs.items():
        if spark.catalog.tableExists(names[tbl]):
            continue
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        loc = os.path.join(wh, names[tbl])
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        sig_path = os.path.join(loc, _SIG_NAME)
        if _bucket_files_complete(loc, buckets, src):
            # files from a prior session with the same deterministic
            # spec: register the metadata, skip the rewrite
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in t[tbl].schema.fields
            )
            spark.sql(
                f"CREATE TABLE {names[tbl]} ({ddl}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {buckets} BUCKETS LOCATION '{loc}'"
            )
            continue
        # incomplete/stale layout: it is our own derived artifact, so
        # rebuild it from the source parquet
        import shutil

        shutil.rmtree(loc, ignore_errors=True)
        (
            t[tbl]
            # ONE file per bucket: without this, every write task
            # emits a file for every bucket it holds rows for
            # (32 tasks x 128 buckets = 4096 ~1 MB files at sf30),
            # and the resulting open/footer/tiny-row-group overhead
            # made the bucketed SCAN 3-7x slower than the plain
            # parquet scan — 35% of bucketed q05 before any join
            # (round-8 decomposition). repartition on the bucket
            # key uses the same murmur3 HashPartitioning bucketBy
            # does, so each task receives exactly one bucket.
            .repartition(buckets, F.col(key))
            .write.mode("overwrite")
            .bucketBy(buckets, key)
            .sortBy(key)
            .saveAsTable(names[tbl])
        )
        with open(sig_path, "w") as fh:
            json.dump(_src_signature(src), fh)
    return names


# same oracle text as the plain twins: identical rows, different plan
_Q03_ORACLE = """
    SELECT o_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """

_Q10_ORACLE = """
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """


@query("q03_shipping_priority_bucketed", _Q03_ORACLE)
def q03_bucketed(spark, sf_dir):
    """Q3 over orderkey-bucketed fact tables with eager aggregation:
    the per-order revenue pre-agg runs on the bucketed scan's own
    distribution (no exchange), the lineitem⋈orders sort merge join
    consumes one row per order on the same distribution (no
    exchange). The customer dim reads from its OWN c_custkey-bucketed
    layout (round-10): below the broadcast ceiling AQE still
    broadcasts it, and above the ceiling (sf100+, where customer
    outgrows 24 MB) the partitioned join's dimension side is
    scan-local — no customer exchange, no customer sort (SORTED BY) —
    leaving only the irreducible fact-side custkey exchange."""
    n = ensure_bucketed(spark, sf_dir)
    cut = F.lit("1998-06-15 00:00:00").cast("timestamp")
    li = (
        spark.table(n["lineitem"])
        .where(F.col("l_shipdate") > cut)
        .groupBy("l_orderkey")
        .agg(F.sum(_rev()).alias("rev"))
    )
    return (
        li.join(
            # merge hint (round 12, guide §3.1): both sides are
            # orderkey-bucketed, so SMJ is exchange-AND-sort-free from
            # the scans; unhinted, the planner broadcast the filtered
            # ORDERS side at sf1 (its compressed 2-column estimate
            # slips under the 24 MB gate) — building a fact-sized hash
            # relation the layout exists to avoid. Measured sf1
            # best-of-3: 1.078 → 0.578 s, identical rows; above the
            # gate (sf100 / any real scale) the hint picks the same
            # SMJ the planner already picked, so nothing changes.
            spark.table(n["orders"])
            .where(F.col("o_orderdate") < cut)
            .hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            spark.table(n["customer"]).where(
                F.col("c_mktsegment") == "BUILDING"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "o_orderkey",
            F.round("rev", 2).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query("q10_returned_revenue_bucketed", _Q10_ORACLE)
def q10_bucketed(spark, sf_dir):
    """Q10 over orderkey-bucketed fact tables with the round-4 double
    eager aggregation: the per-order revenue pre-agg runs ON the
    bucketed scan's distribution (no exchange — this is the rewrite
    bucketing makes free), the fact join is exchange-free, and the
    per-custkey re-aggregation then exchanges ONE row per order
    instead of every joined lineitem. The fact-side custkey exchange
    is irreducible (a different clustering by nature); the customer
    SIDE of that join is scan-local from the c_custkey-bucketed
    layout (round-10) — no dimension exchange, no dimension sort."""
    n = ensure_bucketed(spark, sf_dir)
    per_order = (
        spark.table(n["lineitem"])
        .where(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.sum(_rev()).alias("rev"))
    )
    per_cust = (
        per_order.join(
            # merge hint (round 12): same rationale as q03_bucketed —
            # keep the fact-fact join bucket-local instead of letting
            # the under-estimated orders side broadcast (sf1 measured
            # 1.434 → 0.730 s, identical rows)
            spark.table(n["orders"]).hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev"))
    )
    return (
        per_cust.join(
            spark.table(n["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", F.round("rev", 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_Q05_ORACLE = """
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """


@query("q05_nation_revenue_bucketed", _Q05_ORACLE)
def q05_bucketed(spark, sf_dir):
    """Q5 over orderkey-bucketed fact tables. The plain form cannot
    afford a per-order pre-agg (it would shuffle the whole unfiltered
    fact — measured slower, see queries.q05); bucketing flips that:
    the pre-agg runs on the bucketed scan's own distribution (no
    exchange) and reduces 4 lineitems/order to 1 BEFORE the
    exchange-free orders join. The bounded dimensions (region→nation,
    region filter pushed down) broadcast onto the c_custkey-bucketed
    customer scan (round-10), which keeps the scan's bucket
    distribution — so above the broadcast ceiling the custkey join's
    dimension side is scan-local (no exchange, no sort) and only the
    fact side exchanges; the remaining rollup exchange is the
    25-group n_name re-clustering."""
    n = ensure_bucketed(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    nation_asia = (
        t["nation"]
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust_asia = (
        spark.table(n["customer"])
        .join(
            F.broadcast(nation_asia),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    per_order = (
        spark.table(n["lineitem"])
        .groupBy("l_orderkey")
        .agg(F.sum(_rev()).alias("rev"))
    )
    # round 12 (the q05 residual, guide §2.3/§3.1): (a) merge hint
    # keeps the fact-fact join bucket-local — unhinted, sf1 broadcast
    # the 1.5M-row orders side AND then the 1.5M-row join result for
    # the customer join (two fact-sized hash relations); (b) revenue
    # re-aggregates per customer BEFORE the customer join, so the
    # custkey exchange (the layout's documented irreducible one)
    # carries one row per customer instead of one per order and the
    # customer-join build side is customer-bounded at every scale.
    # Measured sf1 best-of-3: 2.09 → 0.95 s, identical rows; the
    # per-customer partial sums re-associate the addition exactly like
    # the per-order pre-agg this twin has carried since round 4.
    per_cust = (
        per_order.join(
            spark.table(n["orders"])
            .select("o_orderkey", "o_custkey")
            .hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev"))
    )
    return (
        per_cust.join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Round 11: the SECOND fact layout — lineitem denormalized with its
# order's drive columns, clustered by o_custkey. The orderkey-bucketed
# layout left exactly one structural >2x residual at sf100: after the
# exchange-free per-order pre-agg + fact join, the result is clustered
# on orderkey but every customer-facing consumer (q03's customer
# filter join, q05's nation rollup, q10's per-customer ranking) needs
# o_custkey clustering — an irreducible ~1-row-per-order exchange that
# three measured rewrites (r9-r10, BENCH_NOTES rounds 9-10) could not
# remove. The structural fix is the storage-for-shuffle trade a 100 TB
# deployment makes for its hottest join: carry o_custkey (plus
# o_orderdate/o_orderpriority) ON the lineitem row at write time and
# cluster THAT layout by o_custkey. Every custkey-keyed plan is then
# bucket-local end-to-end: groupBy(o_custkey, ...) runs on the scan's
# own distribution (HashPartitioning(o_custkey) satisfies any
# grouping that CONTAINS o_custkey — orders nest inside customers, so
# per-order rollups qualify by adding the functionally-determined
# custkey to the grouping), and the customer join lines up with the
# round-10 c_custkey-bucketed dimension with no exchange on either
# side. Reference analog: the reference clusters its Snowflake drive
# tables on the pipeline's drive keys (data_pipeline_001
# main_pipeline_orchestrator.py drive-table DDL); a second clustering
# of the same fact is the standard warehouse answer when two join
# keys both matter.
# ---------------------------------------------------------------------------


#: exactly the columns the customer-facing headliners touch — parquet
#: is columnar so extra width costs write time, not read time, but the
#: layout is rebuilt whenever the source changes and write time IS the
#: amortized cost; a deployment would widen this to every column its
#:.custkey-keyed workload touches
_DENORM_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderdate",
    "o_orderpriority",
    "l_extendedprice",
    "l_discount",
    "l_shipdate",
    "l_returnflag",
)


def ensure_denorm_custkey(spark: SparkSession, sf_dir: str, buckets: int | None = None) -> str:
    """Materialize ``lineitem ⋈ orders`` (orders' drive columns carried
    onto each lineitem row) bucketed+sorted by ``o_custkey``.

    Same idempotence/reuse contract as ``ensure_bucketed``: the
    deterministic per-sf_dir name is re-registered from complete prior
    files (validated one-file-per-bucket + signature sidecar over BOTH
    sources), otherwise rebuilt. The build join reads the validated
    orderkey-bucketed layouts when they already exist (exchange-free
    join; never triggers their build) and falls back to the plain
    parquet; either way the layout's recorded identity is the
    canonical source parquet, which the bucketed layouts are
    themselves signature-checked against."""
    buckets = buckets or _auto_buckets(sf_dir)
    sfx = _suffix(sf_dir)
    name = f"lineitem_denorm_cust_{sfx}"
    if spark.catalog.tableExists(name):
        return name
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(wh, name)
    srcs = [
        os.path.join(sf_dir, "lineitem.parquet"),
        os.path.join(sf_dir, "orders.parquet"),
    ]
    t = load_tables(spark, sf_dir)
    # Build-time source: prefer the validated orderkey-bucketed
    # layouts when they ALREADY exist — the build join is then
    # exchange-free (both sides scan-clustered on orderkey; only the
    # final custkey repartition shuffles), which at sf100 halves the
    # build's shuffle volume. Never triggered from here: a fresh
    # environment builds from the plain parquet rather than paying a
    # 17 GB bucketed rewrite it didn't ask for. Either source holds
    # identical rows (the bucketed layouts are signature-validated
    # against the same parquet), so the result is byte-equivalent.
    sources = {}
    for tbl in ("lineitem", "orders"):
        bkt = f"{tbl}_bkt_{sfx}"
        bkt_loc = os.path.join(wh, bkt)
        bkt_src = os.path.join(sf_dir, f"{tbl}.parquet")
        if spark.catalog.tableExists(bkt) or _bucket_files_complete(
            bkt_loc, buckets, bkt_src
        ):
            sources[tbl] = spark.table(ensure_bucketed(spark, sf_dir)[tbl])
        else:
            sources[tbl] = t[tbl]
    denorm = (
        sources["lineitem"]
        .select(
            "l_orderkey",
            "l_extendedprice",
            "l_discount",
            "l_shipdate",
            "l_returnflag",
        )
        .join(
            sources["orders"].select(
                "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(*_DENORM_COLS)
    )
    if _bucket_files_complete(loc, buckets, srcs):
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in denorm.schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING parquet "
            f"CLUSTERED BY (o_custkey) SORTED BY (o_custkey) "
            f"INTO {buckets} BUCKETS LOCATION '{loc}'"
        )
        return name
    import shutil

    shutil.rmtree(loc, ignore_errors=True)
    (
        denorm
        # one file per bucket — same write discipline as ensure_bucketed
        # (the round-8 multi-file pathology cost 3-7x on the scan)
        .repartition(buckets, F.col("o_custkey"))
        .write.mode("overwrite")
        .bucketBy(buckets, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(name)
    )
    with open(os.path.join(loc, _SIG_NAME), "w") as fh:
        json.dump(_srcs_signature(srcs), fh)
    return name


@query("q03_shipping_priority_denorm", _Q03_ORACLE)
def q03_denorm(spark, sf_dir):
    """Q3 over the custkey-clustered denormalized fact: ZERO data
    exchanges end-to-end. The per-order revenue rollup groups on
    (o_custkey, o_orderkey, ...) — o_custkey is functionally
    determined by o_orderkey, so adding it changes no groups while
    letting the scan's HashPartitioning(o_custkey) satisfy the
    aggregation's required distribution — and the customer join pairs
    the agg's retained custkey clustering with the c_custkey-bucketed
    dimension scan. Only TakeOrderedAndProject's single-partition
    gather remains, which moves 10 rows."""
    n = ensure_denorm_custkey(spark, sf_dir)
    names = ensure_bucketed(spark, sf_dir)
    cut = F.lit("1998-06-15 00:00:00").cast("timestamp")
    per_order = (
        spark.table(n)
        .where((F.col("l_shipdate") > cut) & (F.col("o_orderdate") < cut))
        .groupBy("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev()).alias("rev"))
    )
    return (
        per_order.join(
            spark.table(names["customer"]).where(
                F.col("c_mktsegment") == "BUILDING"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "o_orderkey",
            F.round("rev", 2).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query("q10_returned_revenue_denorm", _Q10_ORACLE)
def q10_denorm(spark, sf_dir):
    """Q10 over the custkey-clustered denormalized fact: the
    per-customer revenue rollup runs directly on the scan's own
    distribution (no per-order intermediate needed — o_custkey is on
    every lineitem row) and the customer join is bucket-local against
    the c_custkey layout. ZERO data exchanges; only the 20-row top-k
    gather."""
    n = ensure_denorm_custkey(spark, sf_dir)
    names = ensure_bucketed(spark, sf_dir)
    per_cust = (
        spark.table(n)
        .where(F.col("l_returnflag") == "R")
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("rev"))
    )
    return (
        per_cust.join(
            spark.table(names["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", F.round("rev", 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query("q05_nation_revenue_denorm", _Q05_ORACLE)
def q05_denorm(spark, sf_dir):
    """Q5 over the custkey-clustered denormalized fact: region→nation
    broadcast onto the c_custkey-bucketed customer scan (keeps the
    bucket distribution), then a bucket-local customer join — no
    fact-side exchange at any scale, which is exactly the exchange
    q05_bucketed could not remove (3.75x at sf100). The only exchange
    left is the 25-group n_name rollup of partial aggregates.

    Round-12 (the q05 residual, guide §2.3 "aggregate before you
    shuffle" / §3.1): revenue is pre-aggregated PER CUSTOMER on the
    scan's own HashPartitioning(o_custkey) — no exchange — BEFORE the
    customer join. The round-11 form joined the RAW fact, and the
    sf1 plan read showed the planner broadcasting the 6M-row 3-column
    fact projection (its compressed-size estimate slips under the
    24 MB gate; BuildLeft, probe = customer): ~1.9 s of the 2.3 s
    total was building/shipping a fact-sized hash relation. The
    pre-agg shrinks the join input to one row per customer (it also
    makes the join's build side genuinely customer-bounded at every
    scale), and above the broadcast ceiling both sides stay
    c_custkey-bucket-local — the same zero-fact-exchange SMJ as
    before, pinned by the plan-shape test. Per-customer partial sums
    re-associate the revenue addition exactly like the per-order
    pre-agg the bucketed twin has carried (hash-green) since round 4;
    oracle hash re-verified at sf0.001/0.01/0.1/1."""
    n = ensure_denorm_custkey(spark, sf_dir)
    names = ensure_bucketed(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    nation_asia = (
        t["nation"]
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust_asia = (
        spark.table(names["customer"])
        .join(
            F.broadcast(nation_asia),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    per_cust = (
        spark.table(n)
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("rev"))
    )
    return (
        per_cust.join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"))
    )

"""Window-function transforms — W2 and W4 of SURVEY.md §2.5, plus the
ranked, sampled and sessionized folds the query registry shares.

The reference implements these as pandas scan-line loops; here each is
a reusable Spark transform over ``Window.partitionBy(day).orderBy(start)``.
Partitioning by day keeps the sort local to a partition — at 100 TB the
spine is still millions of small rows/day, never a global sort.

- W2 overlap detection       (reference: state_manager.py:906-925,
                              utils/time_utils.py:253-268)
- W4 continuity check        (reference: utils/time_utils.py:233-251)
- W1 gap detection, W3 duplicate prioritization and W5 priority-ordered
  selection plan the control table, so they live with it as Arrow
  kernels on the driver (``plans.control_table.interior_gaps``,
  ``duplicate_losers``, ``select_pending``)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def detect_overlaps(
    windows: DataFrame,
    start_col: str = "window_start",
    end_col: str = "window_end",
    day_col: str = "window_day",
) -> DataFrame:
    """W2: adjacent-pair overlaps — next_start < current_end.

    Returns the *pair*: (window_day, first_start, first_end,
    second_start, second_end). Adjacent-pair semantics match the
    reference's sorted scan (time_utils.py:253-268).
    """
    w = Window.partitionBy(day_col).orderBy(start_col, end_col)
    return (
        windows.withColumn("_next_start", F.lead(start_col).over(w))
        .withColumn("_next_end", F.lead(end_col).over(w))
        .where(F.col("_next_start") < F.col(end_col))
        .select(
            F.col(day_col).alias("window_day"),
            F.col(start_col).alias("first_start"),
            F.col(end_col).alias("first_end"),
            F.col("_next_start").alias("second_start"),
            F.col("_next_end").alias("second_end"),
        )
    )


def check_continuity(
    windows: DataFrame,
    start_col: str = "window_start",
    end_col: str = "window_end",
    partition_cols: tuple[str, ...] = ("window_day",),
) -> DataFrame:
    """W4: missing intervals where sorted ``current_end != next_start``.

    Emits (partition cols…, missing_start, missing_end).
    """
    w = Window.partitionBy(*partition_cols).orderBy(start_col)
    return (
        windows.withColumn("_next_start", F.lead(start_col).over(w))
        .where(F.col("_next_start").isNotNull() & (F.col("_next_start") != F.col(end_col)))
        .select(
            *partition_cols,
            F.col(end_col).alias("missing_start"),
            F.col("_next_start").alias("missing_end"),
        )
    )


def top_k_per_group(
    df: DataFrame, partition_cols: tuple[str, ...], order_by: list[Column], k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Generic ranked top-k per group (engine surface beyond the reference)."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def top_k_per_group_salted(
    df: DataFrame,
    partition_cols: tuple[str, ...],
    order_by: list[Column],
    k: int,
    salt_on: Column,
    n_salts: int = 32,
    rank_col: str = "rn",
) -> DataFrame:
    """Exact top-k per group when the groups are FEW and HUGE.

    ``top_k_per_group``'s single window puts each group in one task —
    with 5 strata over 100 TB that is 5 straggler tasks sorting
    terabytes. Two phases fix it: phase 1 ranks within (group, salt)
    so every salt slice keeps its own top k in parallel; the union of
    those candidates (≤ k·n_salts per group, tiny) provably contains
    the true per-group top k, which phase 2 ranks exactly. Same
    partial-then-final shape as the salted aggregation in
    ``plans.queries_agg2.agg_salted_skew``.

    ``salt_on`` must be a deterministic column (an id, not rand()) so
    reruns produce identical plans and results.
    """
    salted = df.withColumn("_salt", F.pmod(F.hash(salt_on), F.lit(n_salts)))
    w1 = Window.partitionBy(*partition_cols, "_salt").orderBy(*order_by)
    candidates = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy(*partition_cols).orderBy(*order_by)
    return candidates.withColumn(rank_col, F.row_number().over(w2)).where(
        F.col(rank_col) <= k
    )


def es_sample_key(id_col: Column, weight: Column) -> Column:
    """Efraimidis–Spirakis weighted-sampling key: rank rows by
    u^(1/w) descending — equivalently ln(u)/w, monotone and better
    conditioned — where u is a hash-derived uniform in (0,1), NOT a
    RNG, so the sample is deterministic and append-stable the same
    way the md5-prefix train/holdout split is.

    u = first 48 md5 bits of the row id / 2^48: bit-identical in any
    engine that has md5 (the DuckDB oracle reproduces it exactly).
    Weights clamp to >= 1e-6 so zero-quality rows sort last instead
    of dividing by zero; u clamps away from 0 for ln().
    """
    u = F.conv(
        F.substring(F.md5(id_col.cast("string")), 1, 12), 16, 10
    ).cast("double") / F.lit(float(16**12))
    return F.log(F.greatest(u, F.lit(1e-15))) / F.greatest(weight, F.lit(1e-6))


def weighted_sample_per_group(
    df: DataFrame,
    partition_cols: tuple[str, ...],
    k: int,
    weight: Column,
    id_col: str,
    n_salts: int = 32,
    rank_col: str = "rn",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group: the A-ES
    one-pass scheme (Efraimidis & Spirakis 2006) — keep the k largest
    ``es_sample_key`` rows per group; inclusion probability tracks
    weight mass. Ranking runs through the salted two-phase top-k, so
    few-huge-strata corpora sample in parallel rather than one task
    per stratum."""
    key = es_sample_key(F.col(id_col), weight)
    return top_k_per_group_salted(
        df,
        partition_cols,
        [key.desc(), F.col(id_col).asc()],
        k=k,
        salt_on=F.col(id_col),
        n_salts=n_salts,
        rank_col=rank_col,
    )


# ---------------------------------------------------------------------
# Gap-based sessionization as mergeable SPANS (round-8): the batch
# registry query (plans/queries.window_sessionization) and the
# streaming incremental sink (streaming/stream_pipeline.
# session_stream_sink) share these verbatim — the stream/batch parity
# test asserts their rollups are row-for-row equal.
# ---------------------------------------------------------------------


def unit_session_spans(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """One zero-length span per event: (user, span_start=span_end=ts,
    n_events=1). The degenerate input to ``coalesce_session_spans`` —
    sessionizing unit spans is exactly the lag-gap rule over raw
    events."""
    return events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("span_start"),
        F.col(ts_col).alias("span_end"),
        F.lit(1).cast("long").alias("n_events"),
    )


def coalesce_session_spans(
    spans: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Interval-merge session spans per user: a span whose start is
    MORE than ``gap_minutes`` after the running max end of its
    predecessors opens a new session (strict >, matching the batch
    lag-gap rule ``ts - LAG(ts) > INTERVAL 30 MINUTE``); anything
    closer merges, summing event counts.

    This is single-linkage clustering on the time line, so it is
    ASSOCIATIVE: coalescing already-coalesced spans together with new
    unit spans yields the same sessions as one pass over all raw
    events — the property that lets a streaming sink maintain the
    session table incrementally (late or out-of-order events included)
    with bounded state (one row per session, not per event).

    Scale: one window pass partitioned by user — the sort is local to
    each user's spans, never global. Precondition: caller deduplicates
    events (a replayed event inflates n_events; merging cannot undo
    it)."""
    w = Window.partitionBy("user_id").orderBy("span_start", "span_end")
    prev_max_end = F.max("span_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    gap = F.expr(f"interval {int(gap_minutes)} minutes")
    new_flag = F.when(
        F.col("span_start") - prev_max_end > gap, 1
    ).otherwise(0)
    sid = F.sum(new_flag).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spans.withColumn("_sid", sid)
        .groupBy("user_id", "_sid")
        .agg(
            F.min("span_start").alias("span_start"),
            F.max("span_end").alias("span_end"),
            F.sum("n_events").alias("n_events"),
        )
        .drop("_sid")
    )


def sessionization_rollup(spans: DataFrame) -> DataFrame:
    """Per-user session/event counts over a session-span table — the
    SELECT the batch registry query and the streaming parity test both
    run (column contract: user_id, n_sessions, n_events)."""
    return spans.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


def activity_points(
    ev: DataFrame, ts_col: str = "ts", span_minutes: int = 5
) -> DataFrame:
    """Boundary points of per-event activity spans: each event opens a
    ``span_minutes`` interval clipped at midnight (days independent),
    emitted as (+1 at start, -1 at end) deltas — the input of the
    classic interval sweep. Shared verbatim by the batch
    ``window_peak_concurrency`` registry query and the streaming fold
    sink (stream/batch parity analytic #5): the deltas are associative
    and commutative, so per-(day, t) partial sums from ANY micro-batch
    split fold to the identical table."""
    day = F.col(ts_col).cast("date")
    end = F.least(
        F.col(ts_col) + F.expr(f"INTERVAL {int(span_minutes)} MINUTES"),
        (day + F.expr("INTERVAL 1 DAY")).cast("timestamp"),
    )
    starts = ev.select(
        day.alias("day"), F.col(ts_col).alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        day.alias("day"), end.alias("t"), F.lit(-1).alias("delta")
    )
    return starts.unionByName(ends)


def peak_sweep(points: DataFrame) -> DataFrame:
    """Per-day peak of the boundary-point running sum. Input rows are
    (day, t, delta) where delta may be the raw ±1 points OR their
    per-(day, t) net fold — the results are identical: with the
    half-open tie rule (ORDER BY t, delta: -1 peers sum before +1
    peers) the only intra-instant prefix the net form skips is the
    one AFTER the -1 group, which is strictly below the pre-instant
    prefix and therefore never the max. One exchange on the day key,
    reused by the window and the same-keyed max."""
    w = Window.partitionBy("day").orderBy("t", "delta")
    return (
        points.withColumn("c", F.sum("delta").over(w))
        .groupBy("day")
        .agg(F.max("c").cast("bigint").alias("peak_concurrency"))
    )

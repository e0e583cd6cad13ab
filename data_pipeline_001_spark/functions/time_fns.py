"""Time & window kernel — F1..F8 of SURVEY.md §2.8.

Reference behavior re-expressed as Spark column expressions:
- F1 generate_time_windows  (reference: utils/time_utils.py:178-217)
- F2 floor_timestamp        (reference: utils/time_utils.py:8-61)
- F3 ceil_timestamp         (reference: utils/time_utils.py:64-100)
- F4 round_timestamp        (reference: utils/time_utils.py:103-139)
- F5 rounded_past_timestamp (reference: utils/time_utils.py:142-175)
- F6 diff_in_minutes        (reference: utils/time_utils.py:221-231,290-300)
- F8 iso8601 formatting     (reference: utils/time_utils.py:304-317)

Windows are half-open ``[start, end)`` everywhere — the reference's
core invariant (elasticsearch_counter.py:113-114, audit_counter.py:39-41).

The window *spine* is built distributed with ``sequence()`` +
``explode()`` so a year of 1-minute windows (~0.5M rows) never
collects to the driver — this is the 100 TB-scale posture: the spine
is a DataFrame, window work is one Spark job grouped by window, not a
Python loop.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone, tzinfo
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Granularity / composite-duration parsing (driver-side, config layer)
# ---------------------------------------------------------------------------

_DUR_RE = re.compile(r"(\d+)([dhms])")
_UNIT_SECONDS = {"d": 86400, "h": 3600, "m": 60, "s": 1}


def parse_duration_seconds(spec: str) -> int:
    """Parse a composite duration like ``'1d2h30m45s'`` → seconds.

    Mirrors the reference's regex parse of ``x_time_back``
    (utils/time_utils.py:142-175). Raises on anything unparseable.
    """
    spec = spec.strip().lower()
    matches = _DUR_RE.findall(spec)
    if not matches or "".join(f"{n}{u}" for n, u in matches) != spec:
        raise ValueError(f"unparseable duration spec: {spec!r}")
    return sum(int(n) * _UNIT_SECONDS[u] for n, u in matches)


def parse_granularity_minutes(spec: str) -> int:
    """Window granularity like ``'1h'``, ``'30m'``, ``'2h30m'`` → minutes.

    The reference rejects day-or-longer window spans
    (utils/time_utils.py:191-192); we keep that contract.
    """
    seconds = parse_duration_seconds(spec)
    if seconds >= 86400:
        raise ValueError(f"window granularity must be sub-day, got {spec!r}")
    if seconds % 60:
        raise ValueError(f"window granularity must be whole minutes, got {spec!r}")
    return seconds // 60


_FLOOR_UNITS = {"day": "day", "hour": "hour", "minute": "minute", "second": "second",
                "d": "day", "h": "hour", "m": "minute", "s": "second"}


def _canon_unit(unit: str) -> str:
    u = _FLOOR_UNITS.get(unit.lower())
    if u is None:
        raise ValueError(f"unsupported unit: {unit!r}")
    return u


# ---------------------------------------------------------------------------
# F2/F3/F4 — floor / ceil / round as column expressions
# ---------------------------------------------------------------------------

def floor_timestamp(ts: Column, unit: str) -> Column:
    """F2: floor a timestamp column to day/hour/minute/second."""
    return F.date_trunc(_canon_unit(unit), ts)


def ceil_timestamp(ts: Column, unit: str) -> Column:
    """F3: ceil to the next unit boundary (identity if already on one)."""
    unit = _canon_unit(unit)
    floored = F.date_trunc(unit, ts)
    step = F.expr(f"interval 1 {unit}")
    return F.when(floored == ts, ts).otherwise(floored + step)


_HALF_INTERVAL = {
    "day": "interval 12 hours",
    "hour": "interval 30 minutes",
    "minute": "interval 30 seconds",
    "second": "interval 0.5 seconds",
}


def round_timestamp(ts: Column, unit: str) -> Column:
    """F4: round to the nearest unit boundary via midpoint comparison.

    The midpoint test is pure interval arithmetic (``ts - floored >=
    half-interval``) rather than epoch-double subtraction, so the same
    expression resolves for TIMESTAMP and TIMESTAMP_NTZ inputs — the
    caller's session may have parquet NTZ inference on.
    """
    unit = _canon_unit(unit)
    floored = F.date_trunc(unit, ts)
    ceiled = ceil_timestamp(ts, unit)
    past_mid = (ts - floored) >= F.expr(_HALF_INTERVAL[unit])
    return F.when(past_mid, ceiled).otherwise(floored)


def diff_in_minutes(start: Column, end: Column) -> Column:
    """F6: float minutes of PHYSICAL elapsed time between timestamps.

    ``unix_micros`` gives the epoch instant, so a DST-transition day
    spans 23/25 h here (``timestampdiff`` would report the 24 h
    wall-clock difference instead). The inner ``cast("timestamp")`` is
    a no-op for TIMESTAMP and makes the expression legal for
    TIMESTAMP_NTZ inputs (interpreted in the session zone) — an
    epoch-double cast on NTZ is an analysis error.
    """
    return (
        F.unix_micros(end.cast("timestamp")) - F.unix_micros(start.cast("timestamp"))
    ) / 6e7


def window_duration_minutes(start: Column, end: Column) -> Column:
    """F6 (integer form): whole minutes in a window."""
    return diff_in_minutes(start, end).cast("int")


def to_iso8601(ts: Column) -> Column:
    """F8: format as ``yyyy-MM-dd'T'HH:mm:ss'Z'`` (ES query format)."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")


# ---------------------------------------------------------------------------
# F5 — safe boundary: now floored to leading unit minus x_time_back
# ---------------------------------------------------------------------------

def rounded_past_timestamp(x_time_back: str, now: datetime | None = None) -> datetime:
    """F5: ``now`` floored to the leading unit of ``x_time_back``, minus it.

    e.g. x_time_back='1d'  → floor(now, day) - 1 day
         x_time_back='2h'  → floor(now, hour) - 2 hours
    Reference: utils/time_utils.py:142-175, state_manager.py:333-363.
    Driver-side (it's a planning constant, not a data-plane column).
    """
    now = now or datetime.utcnow()
    lead_unit = _DUR_RE.findall(x_time_back.strip().lower())[0][1]
    if lead_unit == "d":
        floored = now.replace(hour=0, minute=0, second=0, microsecond=0)
    elif lead_unit == "h":
        floored = now.replace(minute=0, second=0, microsecond=0)
    elif lead_unit == "m":
        floored = now.replace(second=0, microsecond=0)
    else:
        floored = now.replace(microsecond=0)
    return floored - timedelta(seconds=parse_duration_seconds(x_time_back))


# ---------------------------------------------------------------------------
# F1 — distributed window spine
# ---------------------------------------------------------------------------

from contextlib import contextmanager


@contextmanager
def session_timezone(spark: SparkSession, tz: str):
    """Scope ``spark.sql.session.timeZone`` to a block.

    The engine's timezone stance (SURVEY §7 'hard parts'): all window
    math runs through session-timezone-aware functions (to_timestamp,
    date_trunc, to_date), so planning a pipeline in its local zone is
    *only* a matter of scoping the session TZ — day boundaries land on
    local midnight and DST days really have 23/25 hours, matching the
    reference's pendulum wall-clock arithmetic (time_utils.py
    throughout).
    """
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def window_spine(
    spark: SparkSession,
    start: datetime | str,
    end: datetime | str,
    granularity: str = "1h",
    drop_partial_trailing: bool = False,
) -> DataFrame:
    """F1: tumbling half-open windows of ``granularity`` covering [start, end).

    Returns columns:
      window_start timestamp, window_end timestamp,
      duration_minutes int, window_day date

    Built with ``sequence()+explode()`` so it is generated on executors
    (one row per window, never a driver-side Python loop).

    Trailing-window semantics — a DELIBERATE divergence from the
    reference: when the span doesn't divide evenly, the reference's
    generate_time_windows DROPS the incomplete final window
    (time_utils.py:207 ``if next_time > end_limit: break``), leaving
    [last_full_end, end) unplanned. Here the default CLAMPS the final
    window to ``end`` so the spine covers the full range: every source
    row of a plan falls in a planned window, so a run over the plan's
    windows (``run_batch``) stages all of them.
    Pass ``drop_partial_trailing=True`` for strict reference parity.
    """
    minutes = parse_granularity_minutes(granularity)
    df = spark.createDataFrame(
        [(str(start), str(end))], "range_start string, range_end string"
    ).select(
        F.to_timestamp("range_start").alias("s"),
        F.to_timestamp("range_end").alias("e"),
    )
    spine = (
        df.select(
            F.explode(
                F.sequence(
                    F.col("s"),
                    # sequence is inclusive; stop one step short of `e`
                    F.col("e") - F.expr("interval 1 second"),
                    F.expr(f"interval {minutes} minutes"),
                )
            ).alias("window_start"),
            F.col("e"),
        )
        .select(
            F.col("window_start"),
            F.least(
                F.col("window_start") + F.expr(f"interval {minutes} minutes"),
                F.col("e"),
            ).alias("window_end"),
        )
        .where(F.col("window_start") < F.col("window_end"))
    )
    if drop_partial_trailing:
        spine = spine.where(
            F.col("window_end") - F.col("window_start")
            == F.expr(f"interval {minutes} minutes")
        )
    spine = (
        spine.withColumn(
            "duration_minutes",
            window_duration_minutes(F.col("window_start"), F.col("window_end")),
        )
        .withColumn("window_day", F.to_date("window_start"))
    )
    return spine


def session_tzinfo(spark: SparkSession) -> tzinfo:
    """The session time zone (``spark.sql.session.timeZone``) as a
    ``tzinfo``: a region id such as ``UTC`` or ``America/New_York``, or
    a fixed offset such as ``+05:30``."""
    name = spark.conf.get("spark.sql.session.timeZone")
    try:
        return ZoneInfo(name)
    except (ValueError, KeyError):  # ZoneInfoNotFoundError is a KeyError
        return datetime.strptime(name, "%z").tzinfo


def window_bounds(
    start: datetime, end: datetime, granularity: str, tz: tzinfo
) -> list[tuple[datetime, datetime]]:
    """F1 on the driver: the windows ``window_spine`` yields (trailing
    window clamped to ``end``), as naive UTC ``(start, end)`` pairs.

    As in ``window_spine``, a naive bound is a wall time in the session
    time zone ``tz`` and an aware one is taken as the instant it names.
    ``window_spine`` stays the form for spines too large to collect.
    """

    def instant(value: datetime) -> datetime:
        if value.tzinfo is None:
            value = value.replace(tzinfo=tz)
        return value.astimezone(timezone.utc).replace(tzinfo=None)

    step = timedelta(minutes=parse_granularity_minutes(granularity))
    s, e = instant(start), instant(end)
    out = []
    # sequence(s, e - 1 second, step), each window clamped to e
    while s <= e - timedelta(seconds=1):
        out.append((s, min(s + step, e)))
        s += step
    return out


def day_spine(spark: SparkSession, start_day: str, end_day: str) -> DataFrame:
    """Expected-day spine (reference: state_manager.py:755-769).

    Columns: ``window_day date``; inclusive of both endpoint days.
    """
    df = spark.createDataFrame([(start_day, end_day)], "s string, e string")
    return df.select(
        F.explode(
            F.sequence(F.to_date("s"), F.to_date("e"), F.expr("interval 1 day"))
        ).alias("window_day")
    )


def spine_ticks(
    start: datetime | str,
    end: datetime | str,
    granularity: str = "1h",
) -> list[datetime]:
    """Driver-side twin of ``window_spine``'s window_start column for
    fixed-interval spines: the tick list is pure arithmetic the caller
    already knows, so operators with a literal fast path (e.g.
    ``asof_join(right_rows=...)``) can skip the probe job entirely."""
    from datetime import timedelta

    s = datetime.fromisoformat(str(start))
    e = datetime.fromisoformat(str(end))
    step = timedelta(minutes=parse_granularity_minutes(granularity))
    out = []
    t = s
    while t < e:
        out.append(t)
        t = t + step
    return out

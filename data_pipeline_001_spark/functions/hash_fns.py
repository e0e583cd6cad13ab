"""Hash / ID / numeric scalar functions — F9..F13 of SURVEY.md §2.8.

- F9  composite-key MD5 id   (reference: core/state_manager.py:419-484)
- F10 SHA-256 record hash    (reference: utils/hash_id_generation.py:4-7)
- F11 minutes → granularity string (reference: state_manager.py:1139-1152)
- F12 scaling curves for duration estimates
                              (reference: core/source_discovery_manager.py:186-271)
- F13 guarded percentage difference (reference: core/audit_manager.py:385-392)

JVM-side column expressions — no Python UDFs in the hot path —
except ``composite_md5_hex``, F9's driver form for rows held in Python.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, tzinfo

from pyspark.sql import Column
from pyspark.sql import functions as F


def composite_md5_id(parts: dict[str, Column | str]) -> Column:
    """F9: MD5 over sorted ``key:value`` pairs joined by ``_``.

    Mirrors the reference's deterministic source/target/run id
    generation (state_manager.py:419-484): sort by key name, render
    each as ``key:value``, join with ``_``, MD5-hex the result.
    """
    rendered = [
        F.concat_ws(":", F.lit(k), (v if isinstance(v, Column) else F.lit(v)).cast("string"))
        for k, v in sorted(parts.items())
    ]
    return F.md5(F.concat_ws("_", *rendered))


def composite_md5_hex(parts: dict[str, str | datetime | None], tz: tzinfo) -> str:
    """F9 on the driver: the id ``composite_md5_id`` gives for the same
    parts in a session whose time zone is ``tz``.

    Each part renders as Spark casts it to a string: a datetime as
    ``yyyy-MM-dd HH:mm:ss`` in ``tz``, with the fraction of a second,
    if any, trailing zeros trimmed (a naive datetime is the process's
    local time, as Spark takes it); a null part as its bare key, as
    ``concat_ws`` skips nulls.
    """
    text = "_".join(
        k if v is None else f"{k}:{_spark_string(v, tz) if isinstance(v, datetime) else v}"
        for k, v in sorted(parts.items())
    )
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _spark_string(value: datetime, tz: tzinfo) -> str:
    t = value.astimezone(tz)
    text = f"{t.year:04d}-{t.month:02d}-{t.day:02d} {t.hour:02d}:{t.minute:02d}:{t.second:02d}"
    return text + f".{t.microsecond:06d}".rstrip("0") if t.microsecond else text


def sha256_record_hash(*cols: Column | str) -> Column:
    """F10: SHA-256 of values joined by ``|``."""
    rendered = [
        (c if isinstance(c, Column) else F.col(c)).cast("string") for c in cols
    ]
    return F.sha2(F.concat_ws("|", *rendered), 256)


def minutes_to_granularity(minutes: Column) -> Column:
    """F11: integer minutes → compact granularity string.

    1440→'1d', 90→'1h30m', 45→'45m', 2880→'2d' (state_manager.py:1139-1152).
    """
    d = (minutes / 1440).cast("int")
    h = ((minutes % 1440) / 60).cast("int")
    m = (minutes % 60).cast("int")
    return F.concat(
        F.when(d > 0, F.concat(d.cast("string"), F.lit("d"))).otherwise(F.lit("")),
        F.when(h > 0, F.concat(h.cast("string"), F.lit("h"))).otherwise(F.lit("")),
        F.when((m > 0) | ((d == 0) & (h == 0)), F.concat(m.cast("string"), F.lit("m"))).otherwise(F.lit("")),
    )


def scaled_duration_estimate(
    source_count: Column,
    avg_expected: float,
    base_minutes: float,
    curve: str = "linear",
    skew_factor: float = 0.5,
) -> Column:
    """F12: expected stage duration from the record-count ratio.

    ratio = source_count / avg_expected; curves (reference
    source_discovery_manager.py:186-271):
      linear: base·ratio   log: base·(1+ln(1+ratio))
      sqrt:  base·sqrt(ratio)   power: base·ratio^0.6
    floored at ``base_minutes``, then ×(1+skew_factor).
    """
    ratio = source_count.cast("double") / F.lit(float(avg_expected))
    if curve == "linear":
        est = F.lit(base_minutes) * ratio
    elif curve == "log":
        est = F.lit(base_minutes) * (F.lit(1.0) + F.log1p(ratio))
    elif curve == "sqrt":
        est = F.lit(base_minutes) * F.sqrt(ratio)
    elif curve == "power":
        est = F.lit(base_minutes) * F.pow(ratio, F.lit(0.6))
    else:
        raise ValueError(f"unknown curve: {curve!r}")
    return F.greatest(est, F.lit(float(base_minutes))) * F.lit(1.0 + skew_factor)


def percentage_difference(source_count: Column, target_count: Column) -> Column:
    """F13: (target-source)/source·100 with the reference's guards:

    both zero → 0.0; source zero (target nonzero) → 100.0
    (audit_manager.py:385-392).
    """
    return (
        F.when((source_count == 0) & (target_count == 0), F.lit(0.0))
        .when(source_count == 0, F.lit(100.0))
        .otherwise(
            (target_count.cast("double") - source_count.cast("double"))
            / source_count.cast("double")
            * 100.0
        )
    )

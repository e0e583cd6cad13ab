"""The one persist policy for bounded operator intermediates.

Several operators reference one intermediate from more than one plan
branch (per-doc signature tables, gram tables, oriented edge lists,
covariance partials). Re-derived lazily, every branch would re-run
the whole build, so the intermediate is persisted once at
``MEMORY_AND_DISK`` (spills rather than OOMs at corpus scale) and
every branch reads the cached columnar relation.

The persist lasts for the session. The operators return lazy frames
and the action belongs to the caller, so no operator can unpersist
after "its" action. The CacheManager still stays bounded: re-running a
query re-persists an identical plan, which Spark recognises as already
cached, so a long-lived session holds one entry per distinct
intermediate, not one per run (``tests/test_scoped_cache.py``).

A lazy ``localCheckpoint`` and a per-query release were both measured
and not adopted (``OPTIMIZATION_r12.md`` §2 has the numbers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def bounded_intermediate(df: DataFrame) -> DataFrame:
    """Materialize-once semantics for a bounded operator intermediate
    that several plan branches reference. See module docstring."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)

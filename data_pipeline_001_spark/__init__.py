"""data_pipeline_001_spark — a PySpark-native analytics/ETL engine.

A ground-up, Spark-first re-expression of the capabilities of the
reference pipeline (Navneeth-G/data_pipeline_001): a windowed,
resumable, audited ingestion engine plus the full relational query
surface a user of that pipeline needs (joins, aggregations, window
functions, set ops, scalar functions), extended with large-scale
training-data operators (dedup, similarity search, text analysis,
multimodal column plumbing).

Architecture stance (SURVEY.md §7):
- Everything is a DataFrame transform; Catalyst/Tungsten pick the
  physical strategy.
- The reference's 65-column Snowflake "drive table" becomes a
  Parquet-backed control table whose state transitions are keyed
  Arrow rewrites on the driver with an atomic directory swap
  (``plans.control_table``); planners read it as a DataFrame.
- Pipeline stages (source discovery → stage → target → audit) become
  DataFrame transforms behind a connector protocol (``sources``).
- Custom code concentrates in the window planner, control-table
  MERGE, and idempotent sinks — no custom Catalyst rules.
"""

__version__ = "0.1.0"

from data_pipeline_001_spark.session import get_spark  # noqa: F401

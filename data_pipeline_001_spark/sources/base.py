"""Source/Sink ABCs — generalization of the reference's de-facto
connector API: standalone ``(config, start, end)`` functions
(elasticsearch_counter.py:162-166, stage/ingestion_engine.py:238-241,
target/ingestion_engine.py:89-116, target/audit_counter.py:7).

A Source answers *count* (S1) and *extract* (S2) for a half-open
window; a Sink answers *load* (S5), *count* (A4), *exists* (S3/S6)
and *clean* (S4/S7). Everything takes/returns DataFrames so the whole
window pipeline stays one lazy Spark plan until the sink action.

S5 also has a file-level form, *load_files*: the target loads the
window's staged Parquet files, as the reference's Snowpipe copies the
staged S3 files into the target table without re-reading the rows
(target/ingestion_engine.py:25-35). By default it reads the files
through Spark and calls *load*; the Parquet sinks copy the files
instead, with no Spark job (2.1 ms against 229 ms for a warm hourly
window on 4 cores).

S2 and S5 also have a run form. *extract_windows* gives a run's
windows as one frame whose rows carry ``WINDOW_INDEX``, the position
of their window in the run; by default it unions one *extract* per
window, so a source keeps its own per-window query, while
``FileSource`` reads its files once, filtered and tagged by SQL
strings of the windows' bounds. *load_windows* is the stage
write of that frame; by default it calls *load* once per window, while
``PartitionedParquetSink`` writes every window in one Spark job.
"""

from __future__ import annotations

import functools
from abc import ABC, abstractmethod
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the integer column ``load_windows`` reads: the row's window, as its
#: position in the run's list of bounds
WINDOW_INDEX = "_window_index"


def window_rows(df: DataFrame, i: int) -> DataFrame:
    """The rows of a ``load_windows`` frame in its window ``i``, without
    ``WINDOW_INDEX``."""
    return df.where(F.col(WINDOW_INDEX) == i).drop(WINDOW_INDEX)


class Source(ABC):
    """Windowed data source (reference: source/elasticsearch_counter.py)."""

    @abstractmethod
    def count(self, start: datetime, end: datetime) -> int:
        """S1: record count in [start, end)."""

    @abstractmethod
    def extract(self, start: datetime, end: datetime) -> DataFrame:
        """S2: all records in [start, end) as a DataFrame (lazy)."""

    def extract_windows(self, bounds: list[tuple[datetime, datetime]]) -> DataFrame:
        """S2 for a run: the records of every window of ``bounds`` as one
        lazy DataFrame, each row tagged with ``WINDOW_INDEX``, its
        window's position in ``bounds``. This default unions one
        ``extract`` per window by column name; a column that some
        windows lack (a schema inferred per window) is null in them."""
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            (
                self.extract(start, end).withColumn(WINDOW_INDEX, F.lit(i))
                for i, (start, end) in enumerate(bounds)
            ),
        )


class Sink(ABC):
    """Windowed data sink (reference: stage/ & target/ ingestion engines)."""

    @abstractmethod
    def load(self, df: DataFrame, start: datetime, end: datetime) -> None:
        """S5: write the window's records idempotently."""

    def load_files(
        self, path: str, schema: T.StructType, start: datetime, end: datetime
    ) -> None:
        """S5 from staged files: load the window's Parquet files in the
        directory ``path``, written with ``schema``, idempotently. This
        default reads them through Spark and calls ``load``."""
        df = SparkSession.active().read.schema(schema).parquet(path)
        self.load(df, start, end)

    def load_windows(self, df: DataFrame, bounds: list[tuple[datetime, datetime]]) -> None:
        """S5 for a run: write each window of ``bounds`` idempotently
        from ``df``, whose ``WINDOW_INDEX`` column gives each row's
        position in ``bounds``; the column itself is not written. This
        default calls ``load`` once per window."""
        for i, (start, end) in enumerate(bounds):
            self.load(window_rows(df, i), start, end)

    @abstractmethod
    def count(self, start: datetime, end: datetime) -> int:
        """A4: record count in the window (audit recount)."""

    @abstractmethod
    def exists(self, start: datetime, end: datetime) -> bool:
        """S3/S6: has this window already been written?"""

    @abstractmethod
    def clean(self, start: datetime, end: datetime) -> None:
        """S4/S7: remove the window's output before re-ingest."""

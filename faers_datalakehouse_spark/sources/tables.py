"""Testdata table loaders.

The driver's synthetic TPC-H-ish parquet tables (``TESTDATA.md``) are the
correctness substrate for every operator. Loading is a plain columnar parquet
scan — Catalyst pushes filters and prunes columns into the scan, so callers
should *not* cache or materialize here; they compose lazy plans.

``read_table`` is the one read path for a testdata table: it remembers each
file's inferred schema, so a re-read of an unchanged file costs no
schema-inference job.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
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


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-zoned TIMESTAMP (µs).

    The testdata's parquet encoding for ``events.ts`` has changed across
    driver regenerations, so every encoding observed so far is handled:

    - parquet TIMESTAMP(NANOS): surfaced as LONG nanos under
      ``spark.sql.legacy.parquet.nanosAsLong`` → integer-divide to µs
      (exact; the values are µs-resolution).
    - parquet ``timestamp[us]`` with ``isAdjustedToUTC=false``: surfaced as
      TIMESTAMP_NTZ → cast to TIMESTAMP. Lossless under the session's UTC
      timezone (session.py pins ``spark.sql.session.timeZone=UTC``), and
      required because timestamp arithmetic (``unix_micros``, numeric casts,
      watermarks) rejects NTZ inputs.
    - already TIMESTAMP: no-op.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if isinstance(dt, T.TimestampType):
        return df
    # a FOURTH encoding would otherwise surface as silent hash mismatches
    # rounds later (the r3 sessionize incident) — fail loudly at the scan
    raise TypeError(
        f"unhandled events.{col} encoding {dt!r}; extend normalize_event_ts "
        "(see tests/test_plans.py::test_read_events_ts_encodings_equivalent)"
    )


# SQLConf entries that Parquet schema inference reads (ParquetUtils.inferSchema
# and ParquetToSparkSchemaConverter in Spark 4.1): flipping any of them can
# change the StructType inferred from an unchanged file
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
)

# absolute path -> (key, schema); one entry per path, replaced when its key
# changes. Process-wide because the key holds every input the inferred
# schema depends on, so any session and caller may share an entry.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _hidden(name: str) -> bool:
    """Spark's listing rule: names starting with ``.`` or ``_`` are not data
    (``_x=1`` partition directories are)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _file_signature(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(relative name, size, mtime_ns)`` of every data file of the table
    at ``path``; empty when ``path`` is not a local file or directory."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    sig = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), path)
                sig.append((rel, st.st_size, st.st_mtime_ns))
    return tuple(sig)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of testdata table ``name`` under ``sf_dir``.

    Every package read of a testdata table goes through here. The first
    read of a path infers its schema (one Spark job); later reads pass the
    remembered ``StructType`` to ``spark.read.schema`` and start no job.
    The remembered schema is reused only while its key matches: the file
    signature (relative name, size and ``mtime_ns`` of every data file)
    plus the session's values of ``_PARQUET_SCHEMA_CONFS``. A rewritten
    file or a flipped conf re-infers and replaces the path's one entry.
    A path with no local data files (missing, or not on the local file
    system) is read uncached, so a missing table still raises.
    """
    path = f"{sf_dir}/{name}.parquet"
    sig = _file_signature(path)
    if not sig:
        return spark.read.parquet(path)
    key = (sig, tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS))
    abspath = os.path.abspath(path)
    hit = _SCHEMAS.get(abspath)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[abspath] = (key, df.schema)
    return df


@contextmanager
def nanos_as_long(spark: SparkSession) -> Iterator[None]:
    """Scope in which parquet TIMESTAMP(NANOS) infers as LONG nanos.

    Only footer inference needs the conf: a read given an explicit
    ``bigint`` schema decodes the column without it. Every ``get_spark()``
    session already holds ``"true"``, so this is a no-op there; any other
    session gets the conf for the block only and has its prior value
    RESTORED afterwards (leaving it set would silently change how every
    OTHER parquet read in the session surfaces TIMESTAMP(NANOS))."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    if prev == "true":
        yield
        return
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` normalized to a microsecond TIMESTAMP."""
    # the conf is captured by this relation at analysis, so the window
    # need only cover the read
    with nanos_as_long(spark):
        df = read_table(spark, sf_dir, "events")
    return normalize_event_ts(df)

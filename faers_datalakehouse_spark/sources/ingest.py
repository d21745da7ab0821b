"""Bronze-layer ingestion: schema-enforced scans + ingestion metadata.

Parity targets (reference ``m-l-kaba/faers_datalakehouse``):

- S1 — ``$``-delimited, headered, PERMISSIVE CSV scan with an explicit
  all-string ``StructType`` (``src/bronze/ingest_demographics.py:53-60`` and
  six siblings). FAERS raw files are all-text; types are introduced downstream
  by validated casts, never by schema inference.
- ``add_ingestion_metadata`` — lineage + audit columns appended at ingest
  (``src/utils/jobs.py:15-20``): ingestion timestamp and source file path.

Scale notes: an explicit schema means zero inference passes over 100 TB of raw
text; PERMISSIVE mode NULL-fills malformed rows instead of failing the scan,
and an optional ``columnNameOfCorruptRecord`` captures them for quarantine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def all_string_schema(columns: list[str]) -> T.StructType:
    """FAERS-style bronze schema: every raw column nullable StringType."""
    return T.StructType([T.StructField(c, T.StringType(), True) for c in columns])


def read_csv_enforced(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = "$",
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """Schema-enforced CSV scan (S1). No inference, malformed rows tolerated."""
    if corrupt_record_col and corrupt_record_col not in [f.name for f in schema.fields]:
        schema = T.StructType(
            [*schema.fields, T.StructField(corrupt_record_col, T.StringType(), True)]
        )
    reader = (
        spark.read.option("sep", sep)
        .option("header", header)
        .option("mode", mode)
        # FAERS convention: an empty field — quoted or not — means
        # "not reported" and must surface as NULL, not ''. nullValue=""
        # states that explicitly (the previous emptyValue=None relied on
        # undocumented None-option passthrough, which a Spark Connect
        # client cannot even serialize)
        .option("nullValue", "")
        .schema(schema)
    )
    if corrupt_record_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
    return reader.csv(path)


def add_ingestion_metadata(
    df: DataFrame, ingest_ts: Column | None = None
) -> DataFrame:
    """Append audit/lineage columns (reference ``src/utils/jobs.py:15-20``).

    ``ingest_ts`` is injectable so pipelines are deterministic under test; the
    production default is ``current_timestamp()``.
    """
    ts = ingest_ts if ingest_ts is not None else F.current_timestamp()
    return df.withColumn("_ingest_ts", ts).withColumn(
        "_source_file", F.input_file_name()
    )

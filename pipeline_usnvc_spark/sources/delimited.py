"""Delimited-text ingest with explicit schemas (reference S1-S2).

The reference pipeline ingests 18 tab-separated ISO-8859-1 files with
header rows and per-column dtype pins (reference usnvc/usnvc.py:100-118).
Spark equivalent: ``spark.read.csv`` with an explicit ``StructType``
(never ``inferSchema`` — inference is an extra full pass and is
non-deterministic across samples at 100 TB).

Keys stay ``StringType`` to preserve the reference's string-key join
semantics; numeric pins are expressed in the supplied schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import types as T


def delimited_reader(
    spark: SparkSession,
    sep: str = "\t",
    encoding: str = "ISO-8859-1",
    header: bool = True,
    mode: str = "PERMISSIVE",
    multiline: bool = False,
) -> DataFrameReader:
    """A CSV reader holding ``read_delimited``'s options, for many files.

    Scanning many files with one reader (``reader.schema(s).csv(path)``
    per file, each pinning its own schema) sets the options once
    instead of once per file.
    """
    return spark.read.options(
        sep=sep,
        encoding=encoding,
        header=str(header).lower(),
        mode=mode,
        multiLine=str(multiline).lower(),
        quote='"',
        escape='"',
    )


def read_delimited(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = "\t",
    encoding: str = "ISO-8859-1",
    header: bool = True,
    mode: str = "PERMISSIVE",
    multiline: bool = False,
) -> DataFrame:
    """Schema'd delimited-text scan (reference S2, usnvc.py:109-118).

    ``mode=PERMISSIVE`` keeps malformed rows as nulls rather than
    failing the job; callers that need a quarantine channel add a
    ``_corrupt_record`` column to the schema.

    ``multiline`` parses quoted fields containing embedded newlines
    (pandas' default behavior, needed for rich-text columns) at the
    cost of file splittability — each file becomes one input split,
    so reserve it for tables whose values actually span lines and
    keep large bridge/fact files line-oriented and splittable.
    """
    return delimited_reader(spark, sep, encoding, header, mode, multiline).schema(schema).csv(path)
